package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for training-data pipelines: assign documents to
  * fixed-token-budget context windows by concatenation order
  * ("concatenate the corpus in id order, chunk every `budget`
  * tokens") — the standard LLM pre-training packing shape. Each doc
  * gets the pack id and intra-pack offset of its FIRST token.
  *
  * The naive formulation is a running token sum over a global
  * `ORDER BY id` window — which Spark plans as a SINGLE partition
  * (no partitionBy), the canonical 100 TB scale-killer. This
  * implementation is the classic two-phase distributed prefix sum
  * instead:
  *
  *  1. split the id space into `nBuckets` contiguous ranges; compute
  *     per-bucket token totals (one small agg),
  *  2. prefix-sum those totals on the driver (model-sized: nBuckets
  *     rows, never row data), broadcast them back,
  *  3. cumulative sum WITHIN each bucket (parallel windows) + the
  *     bucket's prefix offset.
  *
  * Identical to the single-window answer (prefix decomposition is
  * exact, ids are unique), but every stage is partition-parallel. The
  * DuckDB oracle runs the single-window formulation — single-node
  * engines can afford it; this is precisely the plan shape that does
  * NOT survive a cluster, which is why the engine doesn't use it.
  */
object Packing {

  /** The default token accounting: whitespace words. Swap in
    * [[Bpe.pieceCount]] (partially applied) to budget in subword
    * pieces — what a real pre-training pipeline packs by.
    */
  val wordCount: Column => Column = t => size(TextAnalysis.tokens(t))

  /** @param df         input with a unique numeric id and a text column
    * @param budget     tokens per pack (context window length)
    * @param tokenCount text column → token count; defaults to
    *                   whitespace words, pass a subword counter for
    *                   BPE-budgeted packing (must be narrow — it runs
    *                   inside the counting scan)
    * @return (idCol, n_tokens int, pack_id bigint, pack_offset bigint)
    */
  def packSequences(
      df: DataFrame, idCol: String, textCol: String,
      budget: Int, nBuckets: Int = 64,
      tokenCount: Column => Column = wordCount): DataFrame = {
    require(budget > 0, "token budget must be positive")
    val counted = df.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n"))

    // contiguous id ranges — bucket boundaries must respect id order
    // for the prefix decomposition to equal the global cumsum
    val bounds = counted.agg(min(col(idCol)), max(col(idCol))).head()
    if (bounds.isNullAt(0))
      return counted.select(col(idCol), col("n").cast("int").as("n_tokens"),
        lit(0L).as("pack_id"), lit(0L).as("pack_offset")).limit(0)
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val span = math.max(1L, (hi - lo) / nBuckets + 1)
    // DIV: exact integral division (a plain `/` on columns is double
    // arithmetic — loses exactness past 2^52)
    val bucketed = counted.withColumn("bucket",
      expr(s"($idCol - ${lo}L) DIV ${span}L"))

    // per-bucket totals → driver prefix sum (nBuckets scalars, never rows)
    val totals = ModelCollect.bounded(
        bucketed.groupBy("bucket").agg(sum("n").as("t")),
        nBuckets + 1, "packSequences per-bucket totals")
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val prefixRows = (0L until (hi - lo) / span + 1).scanLeft((0L, 0L)) {
      case ((_, acc), b) => (b, acc + totals.getOrElse(b - 1, 0L))
    }.drop(1).map { case (b, p) => Row(b, p) }
    val spark = df.sparkSession
    val prefixes = spark.createDataFrame(
      spark.sparkContext.parallelize(prefixRows.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("bucket",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("prefix",
          org.apache.spark.sql.types.LongType, nullable = false))))

    // parallel per-bucket running sums + the bucket's global offset.
    // ROWS frame pinned: ids are unique by contract, but the default
    // RANGE frame would fold peers together if that contract broke —
    // fail loudly in results (oracle mismatch), not silently
    val w = Window.partitionBy("bucket").orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed.join(broadcast(prefixes), Seq("bucket"))
      .withColumn("start", col("prefix") + sum(col("n")).over(w) - col("n"))
      .select(col(idCol), col("n").cast("int").as("n_tokens"),
        expr(s"start DIV $budget").as("pack_id"),
        (col("start") % budget).as("pack_offset"))
  }

  /** Length-bucketed BATCH assignment — the padding-efficiency twin
    * of [[packSequences]]: instead of concatenating docs into fixed
    * windows, group docs of SIMILAR length into fixed-size batches
    * (dynamic-batching prep for sequence models that pad to the batch
    * max — batching a 10-token doc with a 500-token doc wastes ~98%
    * of the batch as padding). Docs are banded by explicit integer
    * token-count thresholds (exact in any engine — a log2 band would
    * ride on float rounding at the power-of-two boundaries), then
    * batched `batchSize` at a time in seeded-shuffle order within
    * each band.
    *
    * Plan shape: the within-band rank is the same two-phase
    * distributed prefix pattern as [[packSequences]] — per-(band,
    * key-bucket) counts, driver prefix over the model-sized grid,
    * per-bucket row_number — never one partition per band (hot bands
    * hold most of a real corpus).
    *
    * @return (idCol, n_tokens int, len_bucket int, batch_id long)
    *         where batch_id is globally unique ACROSS bands
    *         (band-major) and every batch except possibly each band's
    *         last holds exactly `batchSize` docs
    */
  def lengthBucketBatches(
      df: DataFrame, idCol: String, textCol: String,
      batchSize: Int, seed: String,
      bands: Seq[Int] = Seq(16, 32, 64, 128),
      tokenCount: Column => Column = wordCount): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    require(bands == bands.sorted && bands.distinct == bands,
      "bands must be strictly increasing thresholds")
    val n = tokenCount(col(textCol)).cast("int")
    // band = number of thresholds <= n (integer compares, engine-exact)
    val band = bands.foldLeft(lit(0)) { (acc, t) =>
      acc + when(n >= t, 1).otherwise(0)
    }.cast("int")
    val counted = df.select(col(idCol), n.as("n_tokens"), band.as("len_bucket"),
        Sampling.shuffleKey(col(idCol), seed).as("__key"))
      .withColumn("__kb", DistributedPrefix.keyBucket(col("__key")))
    // per-(band, key-bucket) doc counts → driver prefix (model-sized:
    // (|bands|+1) × 256 scalars)
    val totals = ModelCollect.bounded(
        counted.groupBy("len_bucket", "__kb").agg(count(lit(1)).as("__c")),
        (bands.length + 1) * DistributedPrefix.Buckets,
        "lengthGroupedShards per-(band,bucket) counts")
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val prefixes = DistributedPrefix.bucketPrefixes(totals)
      .toDF("__pband", "__pkb", "__prefix")
    val w = Window.partitionBy("len_bucket", "__kb").orderBy("__key")
    counted
      .join(broadcast(prefixes),
        col("len_bucket") === col("__pband") && col("__kb") === col("__pkb"))
      .withColumn("__rank", col("__prefix") + row_number().over(w) - 1)
      // band-major global batch ids: band b's batches start after every
      // lower band's (bandDocs/batchSize rounded up) batches
      .withColumn("__bandStart", {
        val starts = DistributedPrefix.groupOffsets(totals, bands.length,
          t => (t + batchSize - 1) / batchSize)
        (0 to bands.length).foldLeft(lit(0L)) { (acc, b) =>
          when(col("len_bucket") === b, lit(starts(b))).otherwise(acc)
        }
      })
      .select(col(idCol), col("n_tokens"), col("len_bucket"),
        (col("__bandStart") + expr(s"__rank DIV $batchSize")).as("batch_id"))
  }

  /** Curriculum ordering: assign every document a global training
    * position — quality phases first (phase 0 = best), a seeded
    * shuffle within each phase. `thresholds` are strictly DECREASING
    * score cut-points: phase p = first threshold the score reaches;
    * docs below every threshold land in the last phase. The position
    * is 1-based and a permutation of 1..N: phase offsets (cumulative
    * phase sizes) plus the within-phase seeded rank.
    *
    * Plan shape: the rank is the same two-phase distributed prefix as
    * [[packSequences]] — per-(phase, key-bucket) counts (model-sized:
    * (|thresholds|+1) × 256 scalars collected), driver prefix, then
    * per-bucket windows — never one partition per phase. Deterministic
    * and engine-reproducible (md5 order, integer arithmetic).
    */
  def curriculumOrder(
      df: DataFrame, idCol: String, scoreCol: String,
      thresholds: Seq[Double], seed: String): DataFrame = {
    require(thresholds.nonEmpty, "need at least one phase threshold")
    require(thresholds == thresholds.sorted.reverse &&
      thresholds.distinct == thresholds,
      "thresholds must be strictly decreasing")
    // phase = index of the first threshold the score reaches
    val phase = thresholds.zipWithIndex.foldRight(
        lit(thresholds.length)) { case ((t, i), acc) =>
      when(col(scoreCol) >= t, i).otherwise(acc)
    }.cast("int")
    val counted = df.select(col(idCol), phase.as("phase"),
        Sampling.shuffleKey(col(idCol), seed).as("__key"))
      .withColumn("__kb", DistributedPrefix.keyBucket(col("__key")))
    val totals = ModelCollect.bounded(
        counted.groupBy("phase", "__kb").agg(count(lit(1)).as("__c")),
        (thresholds.length + 1) * DistributedPrefix.Buckets,
        "curriculumOrder per-(phase,bucket) counts")
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val spark = df.sparkSession
    import spark.implicits._
    val prefixes = DistributedPrefix.bucketPrefixes(totals)
      .toDF("__pphase", "__pkb", "__prefix")
    // exclusive cumulative phase sizes — the global offset of each
    // phase's first position (model-sized driver arithmetic)
    val offsets = DistributedPrefix.groupOffsets(totals, thresholds.length)
    val offsetCol = (0 to thresholds.length).foldLeft(lit(0L)) { (acc, p) =>
      when(col("phase") === p, lit(offsets(p))).otherwise(acc)
    }
    val w = Window.partitionBy("phase", "__kb").orderBy("__key")
    counted
      .join(broadcast(prefixes),
        col("phase") === col("__pphase") && col("__kb") === col("__pkb"))
      .withColumn("curriculum_pos",
        offsetCol + col("__prefix") + row_number().over(w))
      .select(col(idCol), col("phase"), col("curriculum_pos"))
  }
}
