package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines (ext tier).
  *
  * Hash-based, not `rand()`-based: the sampling decision for a row is
  * a pure function of its id, so (a) reruns reproduce the exact same
  * sample (resumable pipelines, debuggable evals), (b) the sample is
  * STABLE under corpus growth — new rows don't reshuffle old
  * decisions the way seeded-rand-per-partition does when partitioning
  * changes, and (c) the same id draws the same verdict in every
  * table, so sampled fact tables stay joinable. The hash is md5 (not
  * xxhash64) so the decision is reproducible by any engine — the
  * DuckDB oracle replicates it bit-for-bit.
  *
  * Plan shape: a narrow codegen'd filter — no shuffle, pushes nothing
  * but reads nothing it doesn't need; linear scale-out.
  */
object Sampling {

  /** Basis for fraction resolution: fractions quantize to 1/10000. */
  private val Basis = 10000L

  /** Per-row hash bucket in [0, Basis): first 8 md5 hex chars of the
    * stringified id. 32 bits of hash → bucket skew ≤ 2⁻³² per id.
    */
  def hashBucket(id: Column): Column =
    pmod(conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(Basis))

  /** Uniform deterministic sample: keep ~`fraction` of rows. */
  def deterministic(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction must be in [0,1]")
    df.filter(hashBucket(col(idCol)) < lit((fraction * Basis).round))
  }

  /** Weighted (importance) deterministic sample: each row's keep
    * probability comes from its own weight column in [0,1] — e.g. a
    * quality score, so high-quality documents survive preferentially
    * while the decision stays a pure function of the id (reproducible,
    * growth-stable). Weights outside [0,1] are clamped.
    */
  def weighted(df: DataFrame, idCol: String, weightCol: String): DataFrame = {
    val w = least(greatest(col(weightCol).cast("double"), lit(0.0)), lit(1.0))
    // round like the static-fraction APIs do — a cast would TRUNCATE
    // (0.29 * 10000 = 2899.99… → 2899) and flip one bucket's verdict
    // relative to deterministic(0.29)
    df.filter(hashBucket(col(idCol)) < round(w * Basis).cast("long"))
  }

  /** Seeded per-row shuffle key: md5 of "seed:id". Changing the seed
    * is a fresh epoch-level reshuffle; the same seed reproduces the
    * exact order on any engine (md5, not xxhash64, for that reason).
    */
  def shuffleKey(id: Column, seed: String): Column =
    md5(concat(lit(seed + ":"), id.cast("string")))

  /** Shard in [0, numShards) from the first 32 bits of the shuffle
    * key — uniform (md5), deterministic, engine-reproducible.
    */
  def shardOf(id: Column, seed: String, numShards: Int): Column =
    pmod(conv(substring(shuffleKey(id, seed), 1, 8), 16, 10).cast("long"),
      lit(numShards.toLong))

  /** Deterministic global shuffle — the canonical LAST step of a
    * training-data pipeline: break corpus locality (source/time runs)
    * so sequential readers see an unbiased stream, split into
    * `numShards` reproducible shards for parallel loaders.
    *
    * Rows gain `shard` and `shuffle_key`; reading a shard in
    * shuffle_key order IS the shuffled stream. Narrow op — callers
    * that only need assignment pay no exchange at all.
    */
  def shuffleShards(df: DataFrame, idCol: String, seed: String,
      numShards: Int): DataFrame = {
    require(numShards > 0, "numShards must be positive")
    df.withColumn("shard", shardOf(col(idCol), seed, numShards))
      .withColumn("shuffle_key", shuffleKey(col(idCol), seed))
  }

  /** Stratified deterministic sample: per-stratum keep fractions with
    * a default for unlisted strata — the corpus-balancing op (e.g.
    * downsample dominant languages, keep all of a rare one).
    */
  def stratified(
      df: DataFrame, idCol: String, strataCol: String,
      fractions: Map[String, Double], defaultFraction: Double): DataFrame = {
    require((defaultFraction +: fractions.values.toSeq)
      .forall(f => f >= 0 && f <= 1), "fractions must be in [0,1]")
    val threshold = fractions.foldLeft(lit((defaultFraction * Basis).round)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === lit(stratum), lit((f * Basis).round)).otherwise(acc)
    }
    df.filter(hashBucket(col(idCol)) < threshold)
  }

  /** Fixed-SIZE deterministic sample per stratum: the `n` rows of each
    * stratum with the smallest shuffle keys — balanced corpus
    * construction when you need exact per-group counts (eval sets,
    * per-source caps), not fractions. Seeded: a new seed redraws.
    *
    * Plan shape: one exchange by stratum + a per-stratum sort capped
    * by rank — Spark plans the row_number window with partial
    * windowing; skew-wise each stratum's partition holds that
    * stratum's rows, which is the same bound `stratified` readers
    * already accept for any per-group op. For stratum cardinality so
    * hot a single partition can't hold it, cap first with
    * [[stratified]] (fraction ≈ n/|stratum| × margin) and take the
    * exact n from the survivors.
    */
  def fixedPerStratum(
      df: DataFrame, idCol: String, strataCol: String,
      n: Int, seed: String): DataFrame = {
    require(n > 0, "n must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(shuffleKey(col(idCol), seed))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Token-BUDGET mixture sampling — the data-mixing step of corpus
    * assembly: each source contributes documents, in seeded-shuffle
    * order, until its token quota is met (sources without a quota are
    * excluded). This is how target mixture proportions ("X% web, Y%
    * code, Z% papers, N tokens total") become an actual document set —
    * [[stratified]] controls document FRACTIONS, this controls token
    * VOLUME, which is what training budgets are denominated in.
    *
    * Deterministic end-to-end: the per-source order is the seeded md5
    * shuffle key, so the same seed reproduces the same mixture
    * anywhere and a quota increase only APPENDS documents (prefix
    * property — shipped epochs stay valid, like the packing bookmark).
    * The doc that would cross its source's quota is dropped
    * (cumulative ≤ quota), as are all later docs of that source.
    * Corpus GROWTH, by contrast, can displace tail documents (a new
    * doc may sort before a kept one): mixture assembly is an
    * EPOCH-boundary operation recomputed per epoch, not a tick
    * operation — unlike packing, which is append-only by id order.
    *
    * Plan shape at scale: the running per-source token sum is the
    * same two-phase distributed prefix sum as [[Packing
    * .packSequences]] — per-(source, key-prefix-bucket) totals (one
    * small agg), driver prefix over the model-sized (source × 256)
    * grid, then per-bucket windows — NEVER a single partition per
    * source (a plain per-source window serializes each hot source
    * through one partition; exactly the skew a web-scale "80% web"
    * source would hit).
    */
  /** @param withTokenCount append the computed `n_tokens` (int)
    *        column — the count is already evaluated for the quota
    *        arithmetic, and downstream consumers (manifests, the
    *        driver oracle) would otherwise re-tokenize every shipped
    *        document to recover it
    */
  def tokenBudgetMix(
      df: DataFrame, idCol: String, sourceCol: String, textCol: String,
      quotas: Map[String, Long], seed: String,
      tokenCount: Column => Column = Packing.wordCount,
      withTokenCount: Boolean = false): DataFrame = {
    require(quotas.nonEmpty, "at least one source quota")
    require(quotas.values.forall(_ >= 0), "quotas must be >= 0")
    val quotaMap = map(quotas.flatMap { case (s, q) =>
      Seq(lit(s), lit(q)) }.toIndexedSeq: _*)
    val counted = df
      .withColumn("__q", element_at(quotaMap, col(sourceCol)))
      .filter(col("__q").isNotNull)
      .withColumn("__n", tokenCount(col(textCol)).cast("long"))
      .withColumn("__key", shuffleKey(col(idCol), seed))
      .withColumn("__bkt", DistributedPrefix.keyBucket(col("__key")))
    // per-(source, bucket) token totals → driver prefix sum. Model-
    // sized by construction: |sources with quotas| × 256 scalars —
    // and the bound is exactly that, so a construction bug trips it.
    val totals = ModelCollect.bounded(
        counted.groupBy(col(sourceCol).as("__src"), col("__bkt"))
          .agg(sum(col("__n")).as("__t")),
        quotas.size * DistributedPrefix.Buckets,
        "tokenBudgetMix per-(source,bucket) totals")
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val prefixes = DistributedPrefix.bucketPrefixes(totals)
      .toDF("__src", "__pbkt", "__prefix")
    // ROWS frame pinned: the default RANGE frame includes key-tied
    // PEERS in the running sum, diverging from the oracle's (and the
    // greedy contract's) one-row-at-a-time accumulation if keys ever
    // collide
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(sourceCol), col("__bkt")).orderBy(col("__key"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val kept = counted
      .join(broadcast(prefixes),
        col(sourceCol) === col("__src") && col("__bkt") === col("__pbkt"))
      .withColumn("__cum", col("__prefix") + sum(col("__n")).over(w))
      .filter(col("__cum") <= col("__q"))
    val base = df.columns.map(col).toIndexedSeq
    if (withTokenCount)
      kept.select(base :+ col("__n").cast("int").as("n_tokens"): _*)
    else kept.select(base: _*)
  }

  /** Temperature-based mixture sampling (the `n_s^α` exponential
    * smoothing of multilingual/multi-source pre-training): allocate a
    * DOC budget across sources proportionally to `size^alpha`, then
    * draw each source's quota in seeded shuffle order. `alpha = 1`
    * is proportional sampling; `alpha < 1` flattens the mixture
    * toward uniform, upsampling small sources' SHARE (α = 0.5 is the
    * classic square-root temperature). Selection is without
    * replacement, so an over-allocated small source caps at its size
    * — compose with [[oversample]] for true multipliers > 1.
    *
    * Plan shape: one model-sized size aggregate (collected), then
    * exactly [[tokenBudgetMix]]'s two-phase prefix machinery with a
    * per-doc count of 1 — never one partition per source.
    *
    * Engine reproducibility: for `alpha = 0.5` the weights use
    * `sqrt`, which IEEE-754 requires to be correctly rounded — both
    * engines compute bit-identical quotas from identical counts (pow
    * is NOT correctly rounded, so other alphas are Spark-side exact
    * but carry a theoretical last-ulp quota boundary risk vs an
    * external SQL oracle; the weight-sum order is pinned to
    * source-name order for the same reason).
    */
  def temperatureMix(
      df: DataFrame, idCol: String, sourceCol: String,
      alpha: Double, budget: Long, seed: String): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0,1], got $alpha")
    require(budget >= 0, s"budget must be >= 0, got $budget")
    // NULL sources are excluded, matching tokenBudgetMix (a null can
    // be neither a map key nor sorted into the weight-sum order)
    // sources are model-sized by contract (the unimax guard's rule):
    // 100k distinct values means a doc-grain column was passed
    val sizes = ModelCollect.bounded(
        df.filter(col(sourceCol).isNotNull)
          .groupBy(col(sourceCol).cast("string").as("__s"))
          .agg(count(lit(1)).as("__n")),
        100000, s"temperatureMix per-'$sourceCol' sizes")
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (sizes.isEmpty) return df.limit(0)
    def weight(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    val ordered = sizes.toSeq.sortBy(_._1)
    val totalW = ordered.iterator.map { case (_, n) => weight(n) }.sum
    val quotas = ordered.map { case (s, n) =>
      s -> (if (totalW == 0) 0L
            else math.floor(budget * weight(n) / totalW).toLong)
    }.toMap
    tokenBudgetMix(df, idCol, sourceCol, textCol = idCol, quotas, seed,
      tokenCount = _ => lit(1))
  }

  /** Deterministic OVERSAMPLING — mixture multipliers above (or
    * below) 1: each stratum's documents repeat `multiplier` times in
    * the assembled corpus, the standard way a small high-quality
    * source (reference text, curated code) is up-weighted across
    * training epochs without physically copying bytes upstream.
    * Fractional parts draw per-document: multiplier 2.5 ⇒ every doc
    * appears twice and a deterministic half (salted-hash decision,
    * independent of [[stratified]]'s buckets) appears a third time;
    * multiplier 0.4 degrades to plain downsampling. Emits an `epoch`
    * column (0-based copy index) so loaders can interleave copies
    * instead of replaying a source back-to-back.
    *
    * Narrow end-to-end: a case-cascade multiplier, one small
    * sequence-explode, no shuffle — linear scale-out, and the copy
    * decision is a pure function of the id (growth-stable,
    * reproducible anywhere, including the DuckDB oracle).
    *
    * @param seed salts the fractional-copy draw: "" (default) keeps
    *        the draw a pure function of the id (growth-stable across
    *        runs), a per-epoch seed re-draws WHICH docs get the extra
    *        copy each epoch — without it, multiplier 1.5 would give
    *        the same fixed half of a source its extra copy in every
    *        epoch, a systematic bias against the other half
    */
  def oversample(
      df: DataFrame, idCol: String, strataCol: String,
      multipliers: Map[String, Double],
      defaultMultiplier: Double = 1.0,
      seed: String = ""): DataFrame = {
    require((defaultMultiplier +: multipliers.values.toSeq).forall(_ >= 0),
      "multipliers must be >= 0")
    val m = multipliers.foldLeft(lit(defaultMultiplier)) {
      case (acc, (stratum, mult)) =>
        when(col(strataCol) === lit(stratum), lit(mult)).otherwise(acc)
    }
    // salted fractional draw — the same bucket formula as every other
    // sampling decision ([[hashBucket]]), over a salted id so
    // oversampling can't correlate with stratified keeps
    val salt = if (seed.isEmpty) "os:" else s"os:$seed:"
    val fracDraw = hashBucket(concat(lit(salt), col(idCol).cast("string")))
    val copies = (floor(m).cast("long") +
      when(fracDraw < round((m - floor(m)) * Basis).cast("long"), 1L)
        .otherwise(0L)).as("__copies")
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("epoch",
        explode(sequence(lit(0), (col("__copies") - 1).cast("int"))))
      .drop("__copies")
  }

  /** Deterministic train/validation/test split: each row draws a split
    * label as a pure function of its id — reproducible anywhere, and
    * STABLE under corpus growth (a new doc never moves an old doc
    * between splits, unlike randomSplit). `fractions` are (label,
    * fraction) in order; they must sum to ≤ 1 and any remainder goes
    * to the last label. Narrow (one codegen'd case-cascade) — zero
    * exchanges.
    */
  def split(
      df: DataFrame, idCol: String,
      fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty, "at least one split label")
    require(fractions.forall(_._2 >= 0) && fractions.map(_._2).sum <= 1.0 + 1e-9,
      "fractions must be non-negative and sum to <= 1")
    val b = hashBucket(col(idCol))
    val cuts = fractions.map(_._2).scanLeft(0L) {
      case (acc, f) => acc + (f * Basis).round
    }.tail
    val expr = fractions.map(_._1).zip(cuts).init
      .foldRight(lit(fractions.last._1)) { case ((label, cut), elseCol) =>
        when(b < cut, lit(label)).otherwise(elseCol)
      }
    df.withColumn("split", expr)
  }

  /** Dedup-aware train/holdout split: [[split]] the corpus, then
    * quarantine every TRAIN doc that is a Jaccard-≥`threshold`
    * near-duplicate of any holdout doc — the leakage that silently
    * inflates held-out metrics when train and eval share boilerplate
    * or outright copies. Holdout docs are never moved; leaked train
    * docs stay visible under `quarantineLabel` for audit instead of
    * vanishing.
    *
    * Scale shape: the cross-pair detection is
    * [[Dedup.crossJaccardPairs]] — banded MinHash restricted to
    * train×holdout (the holdout side is a small fraction, so its
    * band rows are the probe side), never an all-pairs or
    * within-train scan. LSH banding at the default (128, 32)
    * parameters recalls the ≥0.5 band on real near-dups; the
    * verification is exact, so detected pairs carry true Jaccard.
    * Output: (id, split) with split ∈ fractions' labels ∪
    * quarantineLabel.
    */
  def splitLeakageGuard(
      df: DataFrame, idCol: String, textCol: String,
      fractions: Seq[(String, Double)],
      k: Int = 3, threshold: Double = 0.5,
      quarantineLabel: String = "quarantined"): DataFrame = {
    require(fractions.nonEmpty, "at least one split label")
    val trainLabel = fractions.head._1
    val spl = split(df, idCol, fractions)
    val train = spl.filter(col("split") === trainLabel)
    val holdout = spl.filter(col("split") =!= trainLabel)
    val leaked = Dedup.crossJaccardPairs(train, holdout, idCol, textCol,
        k, threshold)
      .select(col("da").as(idCol)).distinct()
      .withColumn("__leaked", lit(1))
    spl.join(leaked, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__leaked").isNotNull, lit(quarantineLabel))
          .otherwise(col("split")).as("split"))
  }

  /** UniMax domain allocation (Chung et al. 2023): spend a token
    * `budget` as uniformly as possible across domains without
    * repeating any domain more than `maxEpochs` times. Walking
    * domains by ascending capacity c_i·maxEpochs, each takes
    * min(capacity, remaining/domains-left) — small domains cap out,
    * the freed budget spreads evenly over the rest.
    *
    * Scale shape: one domain aggregation (domains are model-sized —
    * dozens), a driver-local walk over the sorted domain list, and a
    * literal result frame; the corpus is read once and never
    * shuffled beyond the domain agg. The walk is deterministic
    * (ascending capacity, ties by domain name) and its double
    * arithmetic is replayed operation-for-operation by the DuckDB
    * oracle's recursive CTE.
    *
    * Output per domain: n_tokens, capacity, alloc_tokens (4dp),
    * epochs = alloc/n_tokens (4dp).
    */
  def unimaxAllocation(
      df: DataFrame, domainCol: String, tokensCol: Column,
      budget: Double, maxEpochs: Double): DataFrame = {
    require(budget >= 0 && maxEpochs > 0, "budget >= 0, maxEpochs > 0")
    val spark = df.sparkSession
    import spark.implicits._
    // domains are model-sized by contract (sources/datasets, not
    // docs); the guard turns a mistaken doc-grain column into a
    // clear error instead of a driver OOM
    val maxDomains = 100000
    val agg = ModelCollect.bounded(
      df.groupBy(col(domainCol).as("domain"))
        .agg(sum(tokensCol).cast("long").as("n_tokens")),
      maxDomains, s"unimax per-'$domainCol' allocation (domain column, not a doc key)")
    val caps = agg
      .map(r => (r.getString(0), r.getLong(1)))
      .map { case (d, n) => (d, n, n * maxEpochs) }
      .sortBy { case (d, _, cap) => (cap, d) }
    val n = caps.length
    var rem = budget
    val rows = caps.zipWithIndex.map { case ((d, tok, cap), i) =>
      val alloc = math.min(cap, rem / (n - i))
      rem -= alloc
      (d, tok, cap, alloc, if (tok == 0) 0.0 else alloc / tok)
    }
    // round in the FRAME (Spark round == DuckDB round, half-up; the
    // walk itself stays unrounded so later shares see exact remainders)
    rows.toSeq.toDF("domain", "n_tokens", "capacity", "alloc_tokens", "epochs")
      .select(col("domain"), col("n_tokens"), round(col("capacity"), 4).as("capacity"),
        round(col("alloc_tokens"), 4).as("alloc_tokens"),
        round(col("epochs"), 4).as("epochs"))
  }
}
