package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DSIR-style data selection with importance resampling (Xie et al.,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS 2023): score every raw document by how target-like its
  * hashed-n-gram profile is — the log importance ratio between a
  * bag-of-hashed-ngrams model of the TARGET corpus and one of the RAW
  * corpus — then sample without replacement proportionally to the
  * importance weights (Gumbel top-k).
  *
  * The reference pipeline has no data-selection stage at all; this is
  * the published technique a pre-training curation pipeline actually
  * uses between quality filtering and mixing (SURVEY §2 ext tier).
  *
  * Scale shape (100 TB):
  *  - Feature space is `buckets` hashed slots (model-sized, default
  *    4096), never the unbounded n-gram vocabulary: the fit pays one
  *    B-bounded exchange per corpus (map-side combine collapses each
  *    partition to ≤ B counters) and collects 2×B longs to the driver.
  *  - The fitted model ships into the scoring pass as a single
  *    array-literal — scoring is a zero-exchange narrow pass
  *    (plan-asserted in PlanAuditSpec), embarrassingly parallel over
  *    any corpus size.
  *  - Selection is Gumbel top-k: `orderBy(...).limit(k)` plans as
  *    TakeOrderedAndProject (per-partition top-k, k-bounded merge at
  *    the driver) — no global sort shuffle.
  *
  * Everything is deterministic and engine-reproducible: buckets and
  * the Gumbel uniform both derive from md5 (the [[Sampling]] rule —
  * never xxhash64, which an external oracle can't reproduce), scores
  * round to 4dp with doc-id tie-breaks so ranks hash-match
  * cross-engine.
  */
object Dsir {

  /** Hashed feature grams of a document: whitespace unigrams plus
    * adjacent bigrams ("w1 w2"). Row-local, order-preserving (the
    * score fold walks them in document order).
    */
  def grams(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val n = greatest(size(toks) - 1, lit(0))
    val bigrams = zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
    concat(toks, bigrams)
  }

  /** Feature slot of one gram in [0, buckets): first 32 bits of md5,
    * exactly [[Sampling.hashBucket]]'s construction so an external
    * SQL oracle reproduces the assignment.
    */
  def bucketOf(gram: Column, buckets: Int): Column =
    pmod(conv(substring(md5(gram), 1, 8), 16, 10).cast("long"),
      lit(buckets.toLong))

  /** Per-bucket gram occurrence counts of a corpus: one exchange
    * whose width is ≤ `buckets` rows per partition (hash-aggregate
    * partials), regardless of corpus size.
    */
  def bucketCounts(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    df.select(explode(grams(col(textCol))).as("g"))
      .select(bucketOf(col("g"), buckets).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** The fitted importance model: `logRatio(b) = ln p_target(b) −
    * ln p_raw(b)` over hashed buckets, Laplace-smoothed (+0.5) so
    * unseen buckets stay finite. Model-sized — lives on the driver,
    * ships to executors as a plan literal.
    */
  final case class DsirModel(buckets: Int, logRatio: Array[Double]) {
    require(logRatio.length == buckets, "logRatio must have one entry per bucket")
  }

  /** Fit the importance model: target and raw each pay one
    * B-bounded count pass ([[bucketCounts]]); the division and logs
    * run on the driver over 2×B longs.
    */
  def fit(target: DataFrame, raw: DataFrame, textCol: String,
      buckets: Int = 4096): DsirModel =
    modelFromCounts(bucketCounts(target, textCol, buckets),
      bucketCounts(raw, textCol, buckets), buckets)

  /** The model from persisted (bucket, cnt) count tables. Counts are
    * integer sums, so the incremental tier is exact: maintaining a
    * counts store with [[mergeCounts]] (+ [[negatedCounts]] for
    * retractions) and refitting from it yields the SAME model,
    * bit-for-bit, as a from-scratch [[fit]] over the current corpus —
    * the delta pays its own gram pass, never a corpus rescan.
    */
  def modelFromCounts(targetCounts: DataFrame, rawCounts: DataFrame,
      buckets: Int): DsirModel = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    def gather(df: DataFrame): Array[Long] = {
      val out = Array.fill(buckets)(0L)
      ModelCollect.bounded(df, buckets, "dsir bucket counts")
        .foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
      out
    }
    val tc = gather(targetCounts)
    val rc = gather(rawCounts)
    val tn = tc.sum.toDouble + 0.5 * buckets
    val rn = rc.sum.toDouble + 0.5 * buckets
    DsirModel(buckets, Array.tabulate(buckets) { b =>
      math.log((tc(b) + 0.5) / tn) - math.log((rc(b) + 0.5) / rn)
    })
  }

  /** Fold a delta's counts into a persisted counts table: sum by
    * bucket, drop zeroed buckets. Exact (integer) — merge ≡ rebuild.
    */
  def mergeCounts(prior: DataFrame, delta: DataFrame): DataFrame =
    prior.unionByName(delta)
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
      .filter(col("cnt") =!= 0)

  /** Negated counts of retracted documents — feed to [[mergeCounts]]
    * to subtract them from a maintained counts store.
    */
  def negatedCounts(df: DataFrame, textCol: String, buckets: Int): DataFrame =
    bucketCounts(df, textCol, buckets)
      .select(col("bucket"), (-col("cnt")).as("cnt"))

  /** Unrounded per-document log importance weight: the model array
    * as ONE array literal, probed per gram occurrence inside a
    * row-local fold — zero exchanges, document order, so an oracle
    * replaying the same walk lands on the same double.
    */
  private def rawScore(text: Column, model: DsirModel): Column =
    // coalesce: a NULL text would otherwise score NULL — the contract
    // (and the SQL oracle's LEFT JOIN) says 0, and a NULL key in
    // select() could never be sampled. The fold itself is the
    // monolithic [[graft.functions.DsirScore]] expression (the
    // aggregate(transform(…)) HOF form was interpreted per gram and
    // dominated the pass); same walk order + md5 arithmetic, scores
    // bit-identical.
    coalesce(
      graft.functions.DsirScore.column(text, model.logRatio, model.buckets),
      lit(0.0))

  /** Per-document scores: (idCol, dsir_logw) — log importance weight
    * rounded to 4dp (the engine-reproducibility contract). An empty
    * document scores 0.
    */
  def scores(df: DataFrame, idCol: String, textCol: String,
      model: DsirModel): DataFrame =
    df.select(col(idCol), round(rawScore(col(textCol), model), 4)
      .as("dsir_logw"))

  /** Seeded Gumbel perturbation of one row's log weight: u derives
    * from md5("seed:id") (48 bits → uniform in (0,1), never exactly
    * 0 or 1), g = −ln(−ln u). Adding g to the log weight and taking
    * the top-k samples WITHOUT replacement proportionally to the
    * weights — the Gumbel top-k trick, reproducible on any engine
    * with md5 + ln.
    */
  private def gumbelKey(id: Column, score: Column, seed: String): Column = {
    val u = (conv(substring(md5(concat(lit(seed + ":"), id.cast("string"))),
      1, 12), 16, 10).cast("double") + 0.5) / lit(281474976710656.0)
    round(score + -log(-log(u)), 4)
  }

  /** Importance-resample `k` documents: (idCol, dsir_key) ordered by
    * the perturbed key desc with id tie-break. Plans as
    * TakeOrderedAndProject — no global sort exchange.
    */
  def select(df: DataFrame, idCol: String, textCol: String,
      model: DsirModel, k: Int, seed: String): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(idCol),
        gumbelKey(col(idCol), rawScore(col(textCol), model), seed)
          .as("dsir_key"))
      .orderBy(col("dsir_key").desc, col(idCol))
      .limit(k)
  }

  /** Persist the model as a store table (bucket, log_ratio);
    * [[loadModel]] restores it bit-for-bit.
    */
  def saveModel(spark: SparkSession, model: DsirModel, root: String): Unit = {
    import spark.implicits._
    graft.sources.AnalysisStore.writeFull(
      model.logRatio.toSeq.zipWithIndex
        .map { case (lr, b) => (b, lr) }.toDF("bucket", "log_ratio"),
      root)
  }

  def loadModel(spark: SparkSession, root: String): DsirModel = {
    val rows = ModelCollect.bounded(
      spark.read.parquet(root).orderBy("bucket"),
      ModelCollect.MaxModelRows, "dsir model load")
    DsirModel(rows.length, rows.map(_.getDouble(1)))
  }
}
