package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TopKAggregator, VectorFunctions}

/** Approximate-nearest-neighbor search over an embedding column
  * (ext tier, SURVEY §7.1): brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH bucketing as the scale path.
  */
object Similarity {

  /** Rank scored (qid, nid, cos) rows to top-k per query via the
    * bounded-heap [[TopKAggregator]]. vs a `row_number` window: the
    * window shuffles EVERY scored row then discards all but k; the
    * aggregator partial-aggregates map-side, so the exchange carries
    * |queries| × k rows — at corpus scale, shuffling the answer
    * instead of the corpus. Ties break by corpus id (deterministic,
    * same order the window version used).
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val tk = udaf(TopKAggregator.topK(k),
      Encoders.product[TopKAggregator.Scored])
    scored
      .groupBy(col("qid"))
      .agg(tk(col("nid"), col("cos")).as("top"))
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("s.score").as("cos"))
  }

  /** Widen an under-parallel corpus-side frame before quadratic
    * per-row work (guide §2.5/§2.6: a compute-bound cross join
    * inherits the SCAN's partitioning — a corpus small enough to
    * land in a handful of input splits runs its n×m scoring on a
    * handful of cores while the rest idle; r14 diagnostics measured
    * knn_graph_brute at 4 tasks / 4.2 s taskTime on 32 cores). Hash
    * on the unique id (even spread, no round-robin pre-sort) to
    * exactly defaultParallelism — an EXPLICIT count, which AQE's
    * partition coalescing respects and never folds back to one task.
    * A corpus already at/above core-count parallelism (the 100 TB
    * case) is left untouched: no added shuffle on the scale path.
    */
  private def widen(df: DataFrame, idCol: String): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    // derive the scan's split count from the LEAF RELATION SIZES on
    // the already-analyzed plan — free, unlike `.rdd.getNumPartitions`
    // which forces an extra physical planning of the subplan per call
    // (measured as a ~0.2-0.4 s driver tax on every brute-scoring
    // bench row). Non-file leaves (checkpoints, local relations) have
    // no size: leave those frames alone (no shuffle — conservative).
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    val sizes = df.queryExecution.analyzed.collectLeaves().map {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        Some(lr.relation.sizeInBytes)
      case _ => None
    }
    if (sizes.isEmpty || sizes.exists(_.isEmpty) ||
        sizes.flatten.sum >= target.toLong * maxSplit) df
    else df.repartition(target, col(idCol))
  }

  /** Exact top-k by cosine: corpus × broadcast(queries) + bounded-heap
    * aggregation. The query side is the small one — broadcast it so
    * the corpus never shuffles; the only exchange carries the
    * partial top-k heaps (|queries| × k rows).
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    // norms once per row (not per pair): the cross join's inner loop
    // walks each (corpus, query) vector pair once, not three times.
    // NO [[widen]] here (r14): it was tried and measured a net LOSS
    // on the bipartite callers — the NLJ's streamed side coming off a
    // shuffle instead of the fused scan raised summed task time ~9×
    // (bitext_ivf_gate +1-2 s across three sweeps) while the extra
    // parallelism only broke even; the self-graph path keeps it
    // ([[knnGraphBrute]]), where the 4-task scan was the measured
    // bottleneck (4.35 → ~1.5 s).
    val c = corpus.select(col(idCol).as("nid"),
        VectorFunctions.toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", VectorFunctions.normSq(col("cv")))
    val q = queries.select(col(idCol).as("qid"),
        VectorFunctions.toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", VectorFunctions.normSq(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .withColumn("cos", round(VectorFunctions.cosinePre(
        col("cv"), col("qv"), col("cn"), col("qn")), 4))
    rankTopK(scored, k)
  }

  /** Reciprocal-rank fusion of two ranked retrieval lists — the
    * standard hybrid-search combiner (dense ANN + sparse BM25, each
    * contributing 1/(c + rank), docs absent from a list contribute
    * 0): rank-based, so the two scorers' incomparable scales never
    * meet. Inputs are (qid, nid, rank, …) frames — [[bruteForceTopK]]
    * (or any ANN variant) and [[graft.operators.TextAnalysis
    * .bm25Search]] both qualify.
    *
    * Plan shape: both inputs are top-k lists (|queries| × k rows), so
    * the full-outer join and the per-query rank window are
    * batch-sized — nothing corpus-sized moves. The fused score is
    * pure integer-rank arithmetic (1.0/(c+rank), fixed add order) —
    * bit-identical in any engine, so ties are broken by id
    * identically everywhere.
    */
  def rrfFuse(dense: DataFrame, sparse: DataFrame, k: Int,
      c: Int = 60): DataFrame = {
    require(k >= 1 && c >= 0, "k must be >= 1 and c >= 0")
    val d = dense.select(col("qid"), col("nid"), col("rank").as("__dr"))
    val s = sparse.select(col("qid"), col("nid"), col("rank").as("__sr"))
    val rrf = coalesce(lit(1.0) / (lit(c) + col("__dr")), lit(0.0)) +
      coalesce(lit(1.0) / (lit(c) + col("__sr")), lit(0.0))
    val w = Window.partitionBy("qid").orderBy(col("__rrf").desc, col("nid"))
    d.join(s, Seq("qid", "nid"), "full_outer")
      .withColumn("__rrf", rrf)
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("nid"), col("rank"),
        round(col("__rrf"), 6).as("rrf"))
  }

  /** Deterministic random hyperplanes: nBits × dim matrix seeded per
    * table, materialized as literals (a few KB) — compiled into
    * codegen, no join, identical on every executor.
    */
  private[graft] def hyperplanes(seed: Int, nBits: Int, dim: Int): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits, dim)(rnd.nextGaussian())
  }

  /** Sign-bit LSH bucket id of a vector under one table's planes:
    * bit b = sign(v · plane_b). Cosine-similar vectors agree on most
    * sign bits, so they share a bucket with probability
    * (1 − θ/π)^nBits per table.
    */
  def lshBucket(vec: Column, seed: Int, nBits: Int, dim: Int): Column =
    // one generated loop over the plane matrix as a reference object
    // (formerly nBits unrolled dot subtrees per table — same
    // generated-source-bloat family as the PQ encode, fixed the same
    // way; bucket values are bit-identical)
    graft.functions.SignBits.column(vec, hyperplanes(seed, nBits, dim))

  /** ANN top-k via multi-table hyperplane LSH: `tables` independent
    * sign-hash tables of `bitsPerTable` bits; candidates = corpus
    * vectors sharing ANY table's bucket with the query, then exact
    * cosine rerank within candidates.
    *
    * Scale shape: the query side (small) is broadcast with one
    * (table, bucket) key per table; the corpus computes its `tables`
    * bucket ids inside codegen and broadcast-hash-joins — the corpus
    * is NEVER shuffled; only the candidate set reaches the
    * dedup + window exchanges. In production the corpus's (table,
    * bucket) index would be written once and reused across query
    * batches. Recall tuning: P(candidate) = 1 − (1 − p^b)^L with
    * p = 1 − θ/π; more tables → recall, more bits → pruning.
    * Recall < 1 by design → rows-only driver check; ScalaTest
    * measures recall vs brute force.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bitsPerTable: Int = 8, tables: Int = 8, dim: Int = 64): DataFrame =
    lshTopKFromIndex(lshAssign(corpus, idCol, vecCol, bitsPerTable, tables, dim),
      queries, idCol, vecCol, k, bitsPerTable, tables, dim)

  private def lshBucketStructs(
      vec: Column, bitsPerTable: Int, tables: Int, dim: Int): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        lshBucket(vec, 42 + t, bitsPerTable, dim).as("bucket"))
    }: _*)

  /** The LSH corpus index: one (nid, cv, tbl, bucket) row per hash
    * table — written once as a store table and probed by every query
    * batch; the sign-hash work over the corpus is paid at build time,
    * not per batch. Seeds are fixed (42 + t), so an index built
    * yesterday answers today's queries.
    */
  def lshAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      bitsPerTable: Int = 8, tables: Int = 8, dim: Int = 64): DataFrame =
    corpus.select(col(idCol).as("nid"),
        VectorFunctions.toDouble(col(vecCol)).as("cv"))
      .select(col("nid"), col("cv"),
        explode(lshBucketStructs(col("cv"), bitsPerTable, tables, dim)).as("tb"))
      .select(col("nid"), col("cv"), col("tb.tbl"), col("tb.bucket"))

  /** LSH search over a PREBUILT index — the serving path: only the
    * query batch computes bucket ids; the corpus side is a plain scan
    * of the persisted index joined via broadcast.
    */
  def lshTopKFromIndex(
      index: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bitsPerTable: Int = 8, tables: Int = 8, dim: Int = 64): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        VectorFunctions.toDouble(col(vecCol)).as("qv"))
      .select(col("qid"), col("qv"),
        explode(lshBucketStructs(col("qv"), bitsPerTable, tables, dim)).as("tb"))
      .select(col("qid"), col("qv"), col("tb.tbl"), col("tb.bucket"))
    val cands = index
      .withColumn("cn", VectorFunctions.normSq(col("cv")))
      .join(broadcast(q.withColumn("qn", VectorFunctions.normSq(col("qv")))),
        Seq("tbl", "bucket"))
      .dropDuplicates("qid", "nid") // same pair found by several tables
      .withColumn("cos", round(VectorFunctions.cosinePre(
        col("cv"), col("qv"), col("cn"), col("qn")), 4))
    rankTopK(cands, k)
  }

  // ───────────────────────── IVF (inverted file) ─────────────────────────

  /** Spherical k-means coarse quantizer, trained on a driver-side
    * SAMPLE — the standard IVF recipe (quantizer quality needs only
    * O(100)·nCentroids training vectors, not the corpus): take the
    * first `maxTrainRows` vectors by id (TakeOrdered — per-partition
    * heaps + driver merge, no full sort even at 100 TB), then iterate
    * k-means locally. The distributed-iteration formulation this
    * replaces paid 2 Spark jobs per iteration (plus a fresh codegen
    * compile of the k-dot assign expression, since the centroid
    * literals change every round) to crunch a k×dim model — pure
    * scheduling overhead; the corpus-scale work (assignment) stays
    * distributed and codegen'd in [[ivfTopK]].
    *
    * Deterministic: init = first nCentroids sample vectors; assign =
    * first argmax-dot on ties; update = id-ordered sequential mean,
    * renormalized; empty cluster keeps its centroid.
    */
  /** Cell count for a corpus of `n` vectors at a target per-cell
    * population — THE knob that keeps every cell-scoped quadratic
    * (self-kNN graph candidates, SemDeDup in-cell pairs) LINEAR in
    * corpus size: cells of a fixed ~`target` population mean in-cell
    * work per vector is constant, so total work is n·target instead
    * of n²/nCells with a frozen cell count. Measured before this rule
    * existed (sf0.1→sf1 on the 10× fixture, fixed 16 cells):
    * knn_graph 21.6×, dedup_semdedup 18× — the quadratic the
    * scaladocs promised to avoid. target=125 reproduces the tuned
    * fixture geometry exactly at sf0.01 (2000 vecs → 16 cells), so
    * gate results are unchanged there. The cap bounds centroid-model
    * size (the assignment expression carries nCells×dim literals
    * through codegen).
    */
  def autoCells(n: Long, target: Long = 125,
      minCells: Int = 16, maxCells: Int = 4096): Int =
    math.min(maxCells,
      math.max(minCells, math.ceil(n.toDouble / target).toInt))

  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, iters: Int = 5,
      maxTrainRows: Int = 65536): Array[Array[Double]] = {
    localSphericalKMeans(
      collectUnitSample(corpus, idCol, vecCol, maxTrainRows),
      nCentroids, iters)
  }

  /** The deterministic unit-vector training sample every quantizer
    * trainer draws: first `maxTrainRows` rows by id (TakeOrdered —
    * per-partition heaps + driver merge, no full sort even at
    * 100 TB). Shared so composed models ([[trainIvfPq]]) fit their
    * parts against ONE consistent sample, and the non-empty guard
    * can't be forgotten by a new trainer.
    */
  private def collectUnitSample(
      corpus: DataFrame, idCol: String, vecCol: String,
      maxTrainRows: Int): Array[Array[Double]] = {
    // collect-bound: limit(maxTrainRows) — truncation IS the
    // sampling contract (train on a bounded sample by design)
    val sample = unitVectors(corpus, idCol, vecCol, "id", "v")
      .orderBy(col("id")).limit(maxTrainRows)
      .select(col("v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "cannot train a quantizer on an empty corpus")
    sample
  }

  /** First argmax-dot centroid index of `v` — the driver-local twin
    * of [[nearestCentroid]] (same first-wins tie-break, so local
    * residual training and the distributed assignment expression
    * agree on cell membership).
    */
  private def localNearest(
      v: Array[Double], centroids: Array[Array[Double]]): Int = {
    var best = 0
    var bestDot = Double.NegativeInfinity
    var c = 0
    while (c < centroids.length) {
      val ct = centroids(c)
      var d = 0.0
      var i = 0
      val n = math.min(v.length, ct.length)
      while (i < n) { d += v(i) * ct(i); i += 1 }
      if (d > bestDot) { bestDot = d; best = c }
      c += 1
    }
    best
  }

  /** Driver-local spherical k-means over a collected sample (see
    * [[trainCentroids]] for why local iteration beats distributed for
    * a model-sized artifact). Deterministic per the contract there.
    */
  private def localSphericalKMeans(
      sample: Array[Array[Double]], nCentroids: Int,
      iters: Int): Array[Array[Double]] = {
    var centroids = sample.take(nCentroids)
    for (_ <- 0 until iters) {
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val best = localNearest(v, centroids)
        val s = sums(best)
        var i = 0
        while (i < v.length && i < s.length) { s(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty cluster keeps its centroid
        else {
          val m = sums(c).map(_ / counts(c))
          val n = math.sqrt(m.map(x => x * x).sum)
          if (n == 0) centroids(c) else m.map(_ / n)
        }
      }.toArray
    }
    centroids
  }

  /** L2-normalized copies of (id, vec) — spherical space, so nearest
    * centroid == max dot and cosine == dot. Codegen'd normalization
    * ([[VectorFunctions.l2Normalize]]); the old higher-order
    * `transform(v, _ / sqrt(normSq(v)))` form recomputed an
    * interpreted norm per ELEMENT — O(d²) interpreted per row, the
    * whole IVF path's measured bottleneck.
    */
  private def unitVectors(
      df: DataFrame, idCol: String, vecCol: String,
      idOut: String, vecOut: String): DataFrame =
    df.select(col(idCol).as(idOut),
      VectorFunctions.l2Normalize(col(vecCol)).as(vecOut))

  /** argmax-dot centroid id of a unit vector — one
    * [[graft.functions.CentroidDots]] loop over the centroid matrix
    * (formerly k unrolled dots per plan, generated-source bloat).
    */
  private def nearestCentroid(unitVec: Column, centroids: Array[Array[Double]]): Column = {
    val dots = graft.functions.CentroidDots.column(unitVec, centroids)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** IVF top-k: corpus is bucketed by nearest centroid once (the
    * "inverted file"); each query exactly scores only the vectors in
    * its `nProbe` closest centroid buckets.
    *
    * Scale shape: the index pass is one narrow projection of the
    * corpus (k codegen'd dots per row, no shuffle); search
    * broadcast-joins the query probes so the corpus still never
    * shuffles, and the only exchanges are the candidate dedup-free
    * bucket join + the top-k aggregation (which carries |queries|×k
    * rows). vs LSH: IVF partitions space adaptively (data-dependent),
    * so probing degrades gracefully — recall is tunable by nProbe
    * with candidate cost ∝ nProbe/nCentroids of the corpus.
    * Recall < 1 by design → rows-only driver check; SimilaritySpec
    * measures recall vs brute force.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame = {
    val centroids = trainCentroids(corpus, idCol, vecCol, nCentroids, iters)
    ivfTopKFromIndex(ivfAssign(corpus, idCol, vecCol, centroids),
      centroids, queries, idCol, vecCol, k, nProbe)
  }

  /** The inverted file itself: (nid, cv unit vector, cid) — ONE
    * narrow codegen'd pass over the corpus (nCentroids dots per row,
    * no shuffle). In production this is a store table written once
    * and probed by every query batch ([[ivfTopKFromIndex]]); at
    * 100 TB re-assigning the corpus per batch is the cost you pay
    * exactly once, not per query.
    */
  def ivfAssign(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      keepCols: Seq[String] = Nil): DataFrame =
    corpus.select(col(idCol).as("nid") +:
        VectorFunctions.l2Normalize(col(vecCol)).as("cv") +:
        keepCols.map(col): _*)
      .withColumn("cid", nearestCentroid(col("cv"), centroids))

  /** IVF search over a PREBUILT index — the serving path: the corpus
    * side is a plain scan of the persisted (nid, cv, cid) table (no
    * assignment work, no shuffle — the probe join broadcasts the
    * query side), so consecutive query batches pay only their own
    * probe cost.
    */
  def ivfTopKFromIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4): DataFrame = {
    val q = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .select(col("qid"), col("qv"), col("cid"))
    val cands = index.join(broadcast(q), Seq("cid"))
      .withColumn("cos", round(VectorFunctions.dot(col("cv"), col("qv")), 4))
    rankTopK(cands, k)
  }

  /** Top-nProbe cells per query by centroid dot, as (qid, qv, cid,
    * qc) rows with qc = the exact q·centroid dot of the probed cell.
    * Deterministic (dot desc, cid asc tie-break). The ONE probe
    * selection both the IVF and IVF-PQ serving paths use — a fix to
    * probe ordering lands on both or neither.
    */
  private def probeCells(
      queries: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], nProbe: Int): DataFrame =
    probesOfUnit(unitVectors(queries, idCol, vecCol, "qid", "qv"),
      centroids, nProbe)

  /** [[probeCells]] over ALREADY-normalized (qid, qv) rows — the
    * entry point for index-resident vectors ([[knnGraphDelta]]):
    * skipping the redundant renormalize keeps qv bit-identical to the
    * full path's single l2Normalize, so 4dp-rounded cosines cannot
    * drift across a rounding boundary between delta and full builds.
    */
  private def probesOfUnit(
      unit: DataFrame, centroids: Array[Array[Double]],
      nProbe: Int): DataFrame = {
    val nCentroids = centroids.length
    val dots = graft.functions.CentroidDots.column(col("qv"), centroids)
    unit
      .withColumn("probe", slice(
        array_sort(zip_with(dots, sequence(lit(0), lit(nCentroids - 1)),
          (d, i) => struct((-d).as("negd"), i.as("cid")))),
        1, nProbe))
      .select(col("qid"), col("qv"), explode(col("probe")).as("p"))
      .select(col("qid"), col("qv"),
        col("p.cid").as("cid"), (-col("p.negd")).as("qc"))
  }

  /** Metadata-filtered ANN serving with GUARANTEED k — top-k among
    * index rows satisfying `predicate` (the most common production
    * retrieval shape: "nearest neighbors WHERE source = x"), from the
    * persisted IVF index. Plain predicate-then-probe under-delivers:
    * a selective filter can leave fewer than k qualifying vectors in
    * the probed cells even when the filtered corpus holds plenty.
    *
    * Mechanism: the predicate is FUSED into the probed-cell scan (the
    * [[hardNegatives]] pattern — at store scale it pushes into the
    * index scan as partition/file pruning, so the probe pass reads
    * only qualifying rows of nProbe cells). Queries whose filtered
    * cell sweep yields fewer than max(k, `minCandidates`) qualifying
    * candidates then fall back to an exact sweep of the ENTIRE
    * filtered subset — which the selective predicate that caused the
    * shortfall has already made small, so the fallback's cost is
    * bounded by exactly the selectivity that triggers it. Every query
    * therefore gets min(k, |filtered corpus|) rows: approximate
    * (probed-cell) answers where the filter is loose, exact answers
    * where it is tight. `minCandidates` (≈ 4·k is a good default for
    * recall-sensitive serving) is the adaptive-probing knob: a thin
    * candidate pool means the filter and the probed cells barely
    * intersect, which is precisely when ANN answers turn statistically
    * bad AND when the exact fallback is cheapest.
    *
    * Scale shape: the corpus/index never shuffles in either branch
    * (probes and shortfall queries broadcast); the only exchanges
    * carry |queries|×k heap rows. The shortfall decision is one
    * aggregation over the probed top-k (batch-sized).
    */
  def ivfTopKFilteredFromIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, predicate: Column, nProbe: Int = 4,
      minCandidates: Int = 0): DataFrame = {
    val minCand = math.max(k, minCandidates).toLong
    val fidx = index.filter(predicate)
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .select(col("qid"), col("qv"), col("cid"))
    // ONE aggregation yields both the probed top-k heap AND the
    // qualifying-candidate count — the shortfall signal costs no
    // second pass over the cell join
    val tk = udaf(TopKAggregator.topK(k), Encoders.product[TopKAggregator.Scored])
    val probed = fidx.join(broadcast(probes), Seq("cid"))
      .withColumn("cos", round(VectorFunctions.dot(col("cv"), col("qv")), 4))
      .groupBy(col("qid"))
      .agg(tk(col("nid"), col("cos")).as("top"), count(lit(1)).as("__cand"))
      .localCheckpoint(true) // |queries| rows; feeds shortfall + output
    val short = unitVectors(queries, idCol, vecCol, "qid", "qv")
      .join(probed.select(col("qid"), col("__cand")), Seq("qid"), "left")
      .filter(coalesce(col("__cand"), lit(0L)) < minCand)
      .select("qid", "qv")
      .localCheckpoint(true) // batch-sized; feeds fallback + anti-join
    val fallback = rankTopK(
      fidx.crossJoin(broadcast(short))
        .withColumn("cos", round(VectorFunctions.dot(col("cv"), col("qv")), 4)),
      k)
    probed.join(broadcast(short.select("qid")), Seq("qid"), "left_anti")
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("s.score").as("cos"))
      .unionByName(fallback)
  }

  /** [[ivfTopKFilteredFromIndex]] for the composed IVF-PQ index: the
    * probe pass ADC-scores qualifying rows of the probed cells;
    * shortfall queries ADC-sweep the ENTIRE filtered index (every
    * (query, cell) coarse dot is already on hand from the probe
    * selection's [[graft.functions.CentroidDots]] row — the sweep just
    * keeps all nCentroids of them instead of the top nProbe), then
    * everything reranks exactly against `rerankWith` if given. Same
    * guarantee: min(k, |filtered index|) rows per query, corpus never
    * shuffles, shortfall cost bounded by the predicate's selectivity.
    */
  def ivfPqTopKFilteredFromIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, predicate: Column, nProbe: Int = 4,
      oversample: Int = 1, rerankWith: Option[DataFrame] = None,
      minCandidates: Int = 0): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val minCand = math.max(k * oversample, minCandidates).toLong
    val fidx = index.filter(predicate)
    val qtabs = unitVectors(queries, idCol, vecCol, "qid", "qv")
      .select(col("qid"),
        graft.functions.AdcTable.column(col("qv"), codebooks).as("qtab"))
      .localCheckpoint(true) // one m·ksub-dot row per query, reused 2×
    def adcScore(cells: DataFrame): DataFrame =
      fidx.join(broadcast(cells), Seq("cid"))
        .join(broadcast(qtabs), Seq("qid"))
        .withColumn("cos", round(col("qc") +
          (0 until m).map(j => get(col("qtab"),
            lit(j * ksub) + get(col("codes"), lit(j)))).reduce(_ + _), 4))
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .select(col("qid"), col("cid"), col("qc"))
    // one aggregation: probed ADC top-k heap + candidate count (the
    // shortfall signal), same fused shape as the IVF filtered path
    val tk = udaf(TopKAggregator.topK(k * oversample),
      Encoders.product[TopKAggregator.Scored])
    val probed = adcScore(probes)
      .groupBy(col("qid"))
      .agg(tk(col("nid"), col("cos")).as("top"), count(lit(1)).as("__cand"))
      .localCheckpoint(true)
    val short = probeCells(queries, idCol, vecCol, centroids,
        centroids.length) // ALL cells: the full-sweep (qid, cid, qc) grid
      .join(probed.select(col("qid"), col("__cand")), Seq("qid"), "left")
      .filter(coalesce(col("__cand"), lit(0L)) < minCand)
      .select("qid", "cid", "qc")
      .localCheckpoint(true) // |short queries| × nCentroids rows
    val fallback = rankTopK(adcScore(short), k * oversample)
    val adc = probed
      .join(broadcast(short.select("qid").distinct()), Seq("qid"), "left_anti")
      .select(col("qid"), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col("qid"), col("s.id").as("nid"),
        (col("pos") + 1).cast("int").as("rank"), col("s.score").as("cos"))
      .unionByName(fallback)
    rerankWith match {
      case None => adc
      case Some(corpus) => exactRerank(adc, corpus, queries, idCol, vecCol, k)
    }
  }

  /** Scalar-quantized (int8) exact-scan top-k: the corpus index holds
    * 8×-smaller code vectors ([[graft.functions.Int8Quantize]] —
    * unit-normalize then round to ±127), and scoring runs cosine over
    * the codes (cast back to array<double> — a codegen'd Cast — then
    * the same [[VectorFunctions.cosine]] hot loop).
    *
    * Scale shape: identical to [[bruteForceTopK]] (broadcast queries,
    * corpus never shuffles, top-k heaps in the only exchange) but the
    * corpus scan reads the int8 index instead of raw doubles — at
    * 100 TB of embeddings that is the difference between scanning
    * 12.5 TB and 100 TB per query batch. Quantization error is
    * ≤1/254 per dimension → recall<1 by design (rows-only driver
    * check; recall vs brute force asserted in SimilaritySpec).
    */
  def sqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame =
    sqTopKFromIndex(sqIndex(corpus, idCol, vecCol),
      queries, idCol, vecCol, k)

  /** SQ search over a PREBUILT (nid, codes) index table — the serving
    * path: the scan reads the 8×-smaller persisted codes directly,
    * no per-batch quantization pass.
    */
  def sqTopKFromIndex(
      index: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("qid"),
        VectorFunctions.toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", VectorFunctions.normSq(col("qv")))
    val scored = index
      .select(col("nid"), col("codes").cast("array<double>").as("cv"))
      .withColumn("cn", VectorFunctions.normSq(col("cv")))
      .crossJoin(broadcast(q))
      .withColumn("cos", round(VectorFunctions.cosinePre(
        col("cv"), col("qv"), col("cn"), col("qn")), 4))
    rankTopK(scored, k)
  }

  /** The int8 index build: (id, codes array<byte>) — one narrow
    * codegen'd pass over the corpus, written once and scanned by
    * every query batch.
    */
  def sqIndex(corpus: DataFrame, idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("nid"),
      graft.functions.Int8Quantize.column(col(vecCol)).as("codes"))

  // ─────────────── PCA-reduced shortlist (dimension reduction) ───────────────

  /** PCA-reduced ANN top-k: rotate unit vectors onto their top
    * `nComponents` principal axes (UNCENTERED [[Pca]] — an orthogonal
    * map, so dots in the kept span lower-approximate full dots
    * without an origin shift breaking cosine order), shortlist
    * k·oversample per query by reduced dot, exact-rerank on the
    * originals — the FAISS `PCAMatrix` pre-transform recipe.
    *
    * Scale shape: fit is one narrow moment pass + a driver d×d
    * eigensolve ([[Pca.fit]]); reduction is one codegen'd affine map
    * per row; the shortlist scan reads d/nComponents-fold less
    * vector data than brute force with the same
    * broadcast-queries/corpus-never-shuffles plan; rerank probes the
    * corpus by id. Truncated variance ⇒ recall<1 by design
    * (rows-only driver check, gated by `ann_recall_pca`).
    */
  def pcaTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nComponents: Int = 32, oversample: Int = 5): DataFrame = {
    val model = pcaAnnModel(corpus, idCol, vecCol, nComponents)
    pcaTopKFromIndex(pcaIndex(corpus, idCol, vecCol, model), model,
      queries, idCol, vecCol, k, oversample,
      rerankWith = if (oversample > 1) Some(corpus) else None)
  }

  /** The exact rotation [[pcaTopK]] fits (uncentered PCA over the
    * corpus's UNIT vectors), exposed so callers can memoize/persist
    * the model — the serving discipline where one fitted rotation is
    * shared by the reducer, every query batch, and (in the driver
    * harness) the generated oracle.
    */
  def pcaAnnModel(corpus: DataFrame, idCol: String, vecCol: String,
      nComponents: Int): Pca.Model =
    Pca.fit(unitVectors(corpus, idCol, vecCol, "nid", "cv"), "cv",
      nComponents, center = false)

  /** The reduced index: (nid, rv array<double> of nComponents) — one
    * narrow rotate-and-truncate pass, written once, d/nComponents-fold
    * smaller than the raw corpus.
    */
  def pcaIndex(corpus: DataFrame, idCol: String, vecCol: String,
      model: Pca.Model): DataFrame = {
    val units = unitVectors(corpus, idCol, vecCol, "nid", "cv")
    units.select(col("nid"), Pca.projectColumn(col("cv"), model).as("rv"))
  }

  /** Search over a PREBUILT reduced index — the serving path: scan
    * the small rotated corpus, heap-shortlist, optionally
    * exact-rerank against the raw store.
    */
  def pcaTopKFromIndex(
      index: DataFrame, model: Pca.Model, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      oversample: Int = 5, rerankWith: Option[DataFrame] = None): DataFrame = {
    val q = unitVectors(queries, idCol, vecCol, "qid", "qv")
      .select(col("qid"), Pca.projectColumn(col("qv"), model).as("rq"))
    val scored = index.crossJoin(broadcast(q))
      .withColumn("cos", round(VectorFunctions.dot(col("rv"), col("rq")), 4))
    val shortlist = rankTopK(scored, k * math.max(1, oversample))
    rerankWith match {
      case Some(corpus) =>
        exactRerank(shortlist, corpus, queries, idCol, vecCol, k)
      case None => shortlist.filter(col("rank") <= k)
    }
  }

  /** OPQ-style rotated product quantization (Ge et al. 2013,
    * parametric variant): a FULL-RANK uncentered PCA rotation with
    * [[Pca.opqEigenAllocation]]-balanced subspaces, then the standard
    * [[pqTopK]] ADC + exact-rerank pipeline in rotated space. The
    * rotation is orthogonal, so rotated-space cosines equal the
    * originals exactly — what changes is that each codebook now
    * quantizes a balanced share of the spectrum instead of subspace
    * 0 hoarding all the energy.
    *
    * Scale shape: identical to [[pqTopK]] plus one narrow codegen'd
    * affine map per row on each side; the rotation model is k·d
    * driver doubles. Gains are data-dependent (nil on an isotropic
    * corpus, large on the correlated embeddings real encoders emit)
    * — recall is gated like every approximate path.
    */
  def opqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 16, ksub: Int = 16, iters: Int = 5,
      oversample: Int = 5): DataFrame = {
    val units = unitVectors(corpus, idCol, vecCol, "nid", "cv")
    val rot = Pca.opqEigenAllocation(
      Pca.fit(units, "cv", k = -1, center = false), m)
    val rc = units.select(col("nid").as("id"),
      Pca.projectColumn(col("cv"), rot).as("rv"))
    val rq = unitVectors(queries, idCol, vecCol, "qid", "qv")
      .select(col("qid").as("id"), Pca.projectColumn(col("qv"), rot).as("rv"))
    pqTopK(rc, rq, "id", "rv", k, m, ksub, iters, oversample)
  }

  // ─────────────────────── PQ (product quantization) ───────────────────────

  /** Per-subspace k-means codebooks for product quantization, trained
    * on the same driver-side sample recipe as [[trainCentroids]]
    * (codebook quality needs O(100)·ksub vectors, not the corpus).
    * The unit-normalized vector is split into `m` contiguous
    * subvectors; each subspace gets `ksub` plain-L2 centroids.
    *
    * Deterministic: init = first ksub sample subvectors; assign =
    * first argmin on ties; update = mean (NOT renormalized — subspace
    * centroids live in the subspace, not on the sphere); empty
    * cluster keeps its centroid. Model size: m × ksub × (dim/m)
    * doubles = dim × ksub — kilobytes, broadcast as codegen literals.
    */
  def trainPqCodebooks(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 5,
      maxTrainRows: Int = 65536): Array[Array[Array[Double]]] = {
    localSubspaceCodebooks(
      collectUnitSample(corpus, idCol, vecCol, maxTrainRows),
      m, ksub, iters)
  }

  /** Driver-local per-subspace k-means (the PQ fit) over a collected
    * sample — shared by [[trainPqCodebooks]] (raw vectors) and
    * [[trainIvfPq]] (cell residuals). Deterministic per the
    * [[trainPqCodebooks]] contract.
    */
  private def localSubspaceCodebooks(
      sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must be divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m) { j =>
      val xs = sample.map(v => java.util.Arrays.copyOfRange(v, j * sub, (j + 1) * sub))
      var cents = xs.take(ksub)
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sub))
        val counts = new Array[Long](cents.length)
        xs.foreach { x =>
          var best = 0
          var bestD = Double.MaxValue
          var c = 0
          while (c < cents.length) {
            var d = 0.0
            var i = 0
            while (i < sub) { val t = x(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val s0 = sums(best)
          var i = 0
          while (i < sub) { s0(i) += x(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents
    }
  }

  /** The PQ index: (nid, codes array<int> of length m) — dim/m-fold
    * smaller than the raw corpus per 8-bit-code subspace (with
    * ksub≤256 a production layout packs codes to bytes; int codes here
    * keep the arithmetic in codegen'd primitives). One narrow pass,
    * no shuffle; written once, scanned by every query batch.
    *
    * Encoding is ONE [[graft.functions.PqEncode]] loop expression
    * (argmax(dot − ½‖c‖²) per subspace, bit-identical to the former
    * m·ksub unrolled dots, whose generated-source size made janino
    * compile time dominate every PQ plan — BASELINE.md round-4).
    */
  def pqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame =
    unitVectors(corpus, idCol, vecCol, "nid", "cv")
      .select(col("nid"),
        graft.functions.PqEncode.column(col("cv"), codebooks).as("codes"))

  /** PQ search over a PREBUILT index — asymmetric distance
    * computation (ADC): each query precomputes its m×ksub table of
    * subspace dots ONCE (one row of m·ksub codegen'd dots), then every
    * corpus code scores with m table lookups (`get`, codegen'd) — no
    * per-pair floating-point vector walk at all.
    *
    * Scale shape: identical to [[bruteForceTopK]] (broadcast queries,
    * corpus never shuffles, top-k heaps in the only exchange), but the
    * corpus scan reads m ints per row instead of dim doubles — 16×
    * smaller than SQ's codes, 128× smaller than raw doubles at the
    * defaults — and scoring is table lookups instead of dot products.
    * Approximation error → recall<1 by design (SimilaritySpec gates
    * recall, ann_recall_pq gates it driver-visibly).
    */
  def pqTopKFromIndex(
      index: DataFrame, codebooks: Array[Array[Array[Double]]],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, oversample: Int = 1,
      rerankWith: Option[DataFrame] = None): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val q = unitVectors(queries, idCol, vecCol, "qid", "qv")
      .select(col("qid"),
        graft.functions.AdcTable.column(col("qv"), codebooks).as("qtab"))
    val scored = index.crossJoin(broadcast(q))
      .withColumn("cos", round(
        (0 until m).map(j => get(col("qtab"),
          lit(j * ksub) + get(col("codes"), lit(j)))).reduce(_ + _), 4))
    val adc = rankTopK(scored, k * oversample)
    rerankWith match {
      case None => adc
      case Some(corpus) => exactRerank(adc, corpus, queries, idCol, vecCol, k)
    }
  }

  /** Exact rerank of a (|q| × k·oversample)-row ADC shortlist: the
    * candidates broadcast and the corpus is probed BY ID — at store
    * scale an id-bucketed layout makes this a bucket-local fetch,
    * never a corpus shuffle. Shared by the PQ and IVF-PQ serving
    * paths (compression decides the shortlist, exact math decides the
    * ranks).
    */
  private def exactRerank(
      shortlist: DataFrame, corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val cand = shortlist.select(col("qid"), col("nid"))
    val cvecs = unitVectors(corpus, idCol, vecCol, "nid", "cv")
      .join(broadcast(cand), Seq("nid"))
    val exact = cvecs
      .join(broadcast(unitVectors(queries, idCol, vecCol, "qid", "qv")),
        Seq("qid"))
      .withColumn("cos",
        round(VectorFunctions.dot(col("cv"), col("qv")), 4))
    rankTopK(exact, k)
  }

  /** PQ ANN top-k end-to-end: train codebooks, encode the corpus,
    * ADC-score an oversampled shortlist, exact-rerank it (the
    * standard ADC+rerank serving recipe — compression decides the
    * shortlist, exact math decides the ranks). The serving path
    * splits these: [[pqIndex]] is written once, [[pqTopKFromIndex]]
    * runs per query batch.
    */
  def pqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 5,
      oversample: Int = 5): DataFrame = {
    val codebooks = trainPqCodebooks(corpus, idCol, vecCol, m, ksub, iters)
    pqTopKFromIndex(pqIndex(corpus, idCol, vecCol, codebooks),
      codebooks, queries, idCol, vecCol, k, oversample,
      rerankWith = if (oversample > 1) Some(corpus) else None)
  }

  // ─────────────── IVF-PQ (coarse cells + residual product codes) ───────────────

  /** Train the composed IVF-PQ model — the standard billion-scale
    * serving structure (coarse inverted file to prune the corpus,
    * product codes over cell RESIDUALS to shrink what remains):
    * spherical k-means cells as in [[trainCentroids]], then
    * per-subspace codebooks fitted to v − c(v) over the SAME training
    * sample. Residuals are what make the composition worth having:
    * within a cell the residual magnitudes are a fraction of the raw
    * vectors', so the same ksub codes quantize far finer than
    * [[trainPqCodebooks]]'s raw-vector fit.
    *
    * Deterministic end-to-end (sample, cell fit, local assignment,
    * subspace fit all inherit the component contracts). Model size:
    * nCentroids×dim + dim×ksub doubles — kilobytes, codegen literals.
    */
  def trainIvfPq(
      corpus: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int = 16, m: Int = 8, ksub: Int = 16, iters: Int = 5,
      maxTrainRows: Int = 65536): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val sample = collectUnitSample(corpus, idCol, vecCol, maxTrainRows)
    val centroids = localSphericalKMeans(sample, nCentroids, iters)
    val residuals = sample.map { v =>
      val ct = centroids(localNearest(v, centroids))
      Array.tabulate(v.length)(i => v(i) - (if (i < ct.length) ct(i) else 0.0))
    }
    (centroids, localSubspaceCodebooks(residuals, m, ksub, iters))
  }

  /** The IVF-PQ index: (nid, cid, codes array<int> of length m) — one
    * narrow codegen'd pass over the corpus (cell assignment + residual
    * codes in the same projection, no shuffle), written once and
    * probed by every query batch. At 100 TB this row is an int cell id
    * plus m ints — the structure that lets a query batch read
    * nProbe/nCentroids of the corpus at 128× compression.
    *
    * Residual codes compute WITHOUT materializing a residual array:
    * argmin‖(v_j − c_j) − cb‖² = argmax(v_j·cb − corr(cid, cb)) where
    * corr = c_j·cb + ½‖cb‖² depends only on (cell, code) — one
    * [[graft.functions.IvfPqEncode]] loop expression carrying the
    * corr table as a reference object (formerly m·ksub unrolled dots
    * plus per-subspace literal tables, whose janino compile time
    * dominated the plan — BASELINE.md round-4).
    */
  def ivfPqIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      keepCols: Seq[String] = Nil): DataFrame =
    corpus.select(col(idCol).as("nid") +:
        VectorFunctions.l2Normalize(col(vecCol)).as("cv") +:
        keepCols.map(col): _*)
      .withColumn("cid", nearestCentroid(col("cv"), centroids))
      .select(col("nid") +: col("cid") +:
        graft.functions.IvfPqEncode.column(col("cv"), col("cid"),
          codebooks, centroids).as("codes") +: keepCols.map(col): _*)

  /** IVF-PQ search over a PREBUILT index — the composed serving path.
    * Score decomposition for unit vectors: q·v = q·c(v) + q·r, with
    * q·c exact (it falls out of the probe-selection dots) and q·r
    * approximated by the same m table lookups as [[pqTopKFromIndex]]
    * (the ADC table is built from q alone, because the quantized
    * residual is a sum of codebook entries — one m·ksub-dot row per
    * query regardless of nProbe).
    *
    * Scale shape: the probe join hits only the query's nProbe cells
    * (broadcast query side, corpus never shuffles — at store scale
    * the index is bucketed/partitioned BY cid, so probing reads
    * nProbe/nCentroids of it, the pruning IVF alone provides), each
    * candidate scores with m int lookups (the compression PQ alone
    * provides), and the exact rerank fetches only the
    * |q|×k·oversample shortlist by id.
    */
  def ivfPqTopKFromIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 4, oversample: Int = 1,
      rerankWith: Option[DataFrame] = None): DataFrame = {
    val m = codebooks.length
    val ksub = codebooks(0).length
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .select(col("qid"), col("cid"), col("qc"))
    // the m·ksub ADC table rides its own one-row-per-query broadcast
    // (joined by qid AFTER the cell-probe join) instead of being
    // duplicated nProbe× through the probe explode
    val qtabs = unitVectors(queries, idCol, vecCol, "qid", "qv")
      .select(col("qid"),
        graft.functions.AdcTable.column(col("qv"), codebooks).as("qtab"))
    val scored = index.join(broadcast(probes), Seq("cid"))
      .join(broadcast(qtabs), Seq("qid"))
      .withColumn("cos", round(col("qc") +
        (0 until m).map(j => get(col("qtab"),
          lit(j * ksub) + get(col("codes"), lit(j)))).reduce(_ + _), 4))
    val adc = rankTopK(scored, k * oversample)
    rerankWith match {
      case None => adc
      case Some(corpus) => exactRerank(adc, corpus, queries, idCol, vecCol, k)
    }
  }

  /** IVF-PQ ANN top-k end-to-end: train cells + residual codebooks,
    * build the composed index, ADC-score an oversampled shortlist
    * inside the probed cells, exact-rerank it. The serving path
    * splits these: [[ivfPqIndex]] is written once,
    * [[ivfPqTopKFromIndex]] runs per query batch.
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, iters: Int = 5,
      oversample: Int = 5): DataFrame = {
    val (centroids, codebooks) =
      trainIvfPq(corpus, idCol, vecCol, nCentroids, m, ksub, iters)
    ivfPqTopKFromIndex(ivfPqIndex(corpus, idCol, vecCol, centroids, codebooks),
      centroids, codebooks, queries, idCol, vecCol, k, nProbe, oversample,
      rerankWith = if (oversample > 1) Some(corpus) else None)
  }

  /** Persist/reload PQ codebooks next to their index table (one row
    * per (subspace, code) — model-sized, never row data).
    * Bit-identical on reload, so probes against a reloaded model equal
    * the in-memory run.
    */
  def savePqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      codebooks: Array[Array[Array[Double]]], path: String): Unit = {
    import spark.implicits._
    codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (v, c) => (j, c, v.toSeq) }
    }.toSeq.toDF("j", "cid", "v")
      .coalesce(1).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(path)
  }

  def loadPqCodebooks(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Array[Array[Array[Double]]] =
    ModelCollect.bounded(spark.read.parquet(path).orderBy("j", "cid"),
        ModelCollect.MaxModelRows, "loadPqCodebooks")
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](2).toArray))
      .map(_.toArray).toArray

  /** kNN label prediction: each query takes the majority label of its
    * k nearest corpus neighbors by cosine (ties: most votes, then
    * smallest label — deterministic). The label-propagation /
    * weak-labeling primitive of a training-data pipeline, and the
    * standard embedding-quality eval (predict held-out labels).
    *
    * Plan: [[bruteForceTopK]] (corpus never shuffles, heaps in the
    * exchange) → broadcast label attach → per-query vote. Swap the
    * top-k stage for [[lshTopK]]/[[ivfTopK]]/[[sqTopK]] at corpus
    * scale — the vote is identical.
    */
  def knnPredict(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val top = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val nbrLabels = corpus.select(col(idCol).as("nid"),
      col(labelCol).cast("int").as("nlabel"))
    // broadcast the SMALL side — top is |queries|×k rows; the label
    // table is corpus-sized and must never be the broadcast relation
    val votes = nbrLabels
      .join(broadcast(top), Seq("nid"))
      .groupBy(col("qid"), col("nlabel"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("qid")
      .orderBy(col("n").desc, col("nlabel"))
    val pred = votes
      .withColumn("__vr", row_number().over(w))
      .filter(col("__vr") === 1)
      .select(col("qid"), col("nlabel").as("pred_label"))
    pred.join(
      broadcast(queries.select(col(idCol).as("qid"),
        col(labelCol).cast("int").as("true_label"))),
      Seq("qid"))
      .select("qid", "true_label", "pred_label")
  }

  /** Distinct (query, corpus) candidate pairs the multi-table LSH
    * would exact-score — the pruning metric (vs |corpus|×|queries|
    * for brute force).
    */
  def lshCandidateCount(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String,
      bitsPerTable: Int = 8, tables: Int = 8, dim: Int = 64): Long = {
    def keys(df: DataFrame, out: String): DataFrame =
      df.select(col(idCol).as(out),
          VectorFunctions.toDouble(col(vecCol)).as("v"))
        .select(col(out), explode(array((0 until tables).map { t =>
          struct(lit(t).as("tbl"),
            lshBucket(col("v"), 42 + t, bitsPerTable, dim).as("bucket"))
        }: _*)).as("tb"))
        .select(col(out), col("tb.tbl"), col("tb.bucket"))
    keys(corpus, "nid")
      .join(broadcast(keys(queries, "qid")), Seq("tbl", "bucket"))
      .select("qid", "nid").distinct().count()
  }

  /** Hard-negative mining — the contrastive-training data op: for
    * each query vector, its k NEAREST corpus vectors carrying a
    * DIFFERENT label. Nearest wrong-label examples are the negatives
    * that actually move an embedding model; random negatives are
    * mostly trivial.
    *
    * Same plan shape as [[bruteForceTopK]] (corpus never shuffles,
    * queries broadcast, only |q|×k heap rows exchange) with the
    * label-mismatch predicate fused into the scored join; swap the
    * scoring stage for an ANN variant when the corpus outgrows the
    * exact scan, exactly as the top-k family documents.
    */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("nid"),
        col(labelCol).as("nlabel"),
        VectorFunctions.toDouble(col(vecCol)).as("cv"))
      .withColumn("cn", VectorFunctions.normSq(col("cv")))
    val q = queries.select(col(idCol).as("qid"),
        col(labelCol).as("qlabel"),
        VectorFunctions.toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", VectorFunctions.normSq(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nlabel") =!= col("qlabel"))
      .withColumn("cos", round(VectorFunctions.cosinePre(
        col("cv"), col("qv"), col("cn"), col("qn")), 4))
    rankTopK(scored, k)
      .join(queries.select(col(idCol).as("qid"),
        col(labelCol).as("qlabel")), Seq("qid"))
      .join(corpus.select(col(idCol).as("nid"),
        col(labelCol).as("nlabel")), Seq("nid"))
      .select("qid", "qlabel", "nid", "nlabel", "rank", "cos")
  }

  /** Staleness gate for a persisted ANN index — closes the serving
    * loop the persisted-index paths ([[ivfTopKFromIndex]],
    * [[lshTopKFromIndex]], [[pqTopKFromIndex]]) leave open: centroids
    * and codebooks are trained once, deltas keep getting ASSIGNED
    * into the index ([[ivfAssign]]/[[pqIndex]]), and under
    * distribution drift the old partitioning stops matching where new
    * vectors actually live — recall decays silently while every tick
    * succeeds.
    *
    * Mechanism: a deterministic sample of the newest delta's vectors
    * (md5-ordered — reproducible, no RNG) is answered BOTH through
    * the serving path (`approxTopK`, closing over the persisted
    * index/model) and by exact brute force over the same corpus;
    * one row (n_queries, k, recall, stale) comes back. Sampled from
    * the DELTA on purpose: drift shows up in new data first, and a
    * gate sampled from the index's own training distribution would
    * keep passing forever.
    *
    * Cost: brute force over sampleN queries — |corpus| × sampleN
    * codegen'd dots with the corpus never shuffling (the
    * [[bruteForceTopK]] plan), amortized once per retrain decision,
    * not per query batch. `stale=true` ⇒ retrain
    * centroids/codebooks and re-assign; the index tables themselves
    * stay valid throughout (the gate only reads).
    */
  def indexDriftGate(
      corpus: DataFrame, delta: DataFrame,
      idCol: String, vecCol: String, k: Int,
      minRecall: Double, sampleN: Int = 64, seed: String = "drift0")(
      approxTopK: DataFrame => DataFrame): DataFrame = {
    require(sampleN > 0 && minRecall > 0 && minRecall <= 1,
      "need sampleN > 0 and 0 < minRecall <= 1")
    // deterministic probe sample: TakeOrdered by seeded md5, no RNG
    val probes = delta
      .orderBy(md5(concat(lit(seed + ":"), col(idCol).cast("string"))))
      .limit(sampleN)
      .localCheckpoint(true)
    // both sides are |probes|×k rows; checkpoint so the recall join
    // cannot re-execute either top-k pipeline (the ann_recall lesson)
    val exact = bruteForceTopK(corpus, probes, idCol, vecCol, k)
      .select(col("qid"), col("nid")).localCheckpoint(true)
    val approx = approxTopK(probes)
      .select(col("qid"), col("nid"), lit(1).as("hit")).localCheckpoint(true)
    // both sides are |probes|×k rows — broadcast beats the sort-merge
    // the tiny checkpointed stats would otherwise plan
    exact.join(broadcast(approx), Seq("qid", "nid"), "left")
      .agg(countDistinct(col("qid")).as("n_queries"),
        (sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
          .as("recall"))
      .select(col("n_queries"), lit(k).cast("int").as("k"),
        round(col("recall"), 4).as("recall"),
        (col("recall") < minRecall).as("stale"))
  }

  /** Exact corpus self-kNN graph: each vector's top-k nearest
    * neighbors by cosine among all OTHER corpus vectors — the
    * building block of graph-based curation (near-dup pruning,
    * diversity scoring, label propagation over the neighbor graph).
    * EXACT BASELINE, weak-by-design: corpus × corpus is the all-pairs
    * quadratic no plan shape fixes; [[knnGraph]] is the IVF-scaled
    * path, `knn_graph_gate` measures its recall against this truth.
    *
    * Output matches the ANN family: (qid, nid, rank, cos), ties by
    * corpus id — so the DuckDB oracle replays it exactly.
    */
  def knnGraphBrute(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val c = widen(corpus.select(col(idCol).as("nid"),
        VectorFunctions.toDouble(col(vecCol)).as("cv")), "nid")
      .withColumn("cn", VectorFunctions.normSq(col("cv")))
    val q = corpus.select(col(idCol).as("qid"),
        VectorFunctions.toDouble(col(vecCol)).as("qv"))
      .withColumn("qn", VectorFunctions.normSq(col("qv")))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", round(VectorFunctions.cosinePre(
        col("cv"), col("qv"), col("cn"), col("qn")), 4))
    rankTopK(scored, k)
  }

  /** Approximate corpus self-kNN graph — the scale path for
    * [[knnGraphBrute]]: every vector is simultaneously an index entry
    * (its nearest cell) and a query (its `nProbe` nearest cells), so
    * candidates are cell-local and the quadratic term is bounded per
    * cell instead of corpus-wide.
    *
    * Plan shape differs from the serving paths ON PURPOSE: here the
    * query side IS the corpus, so nothing is broadcastable — the
    * probe join hash-exchanges BOTH sides by cell id (the one shuffle
    * that replaces the all-pairs cross join), then the bounded-heap
    * top-k aggregation carries n×k result rows. Hot cells are AQE
    * skew-split like any hash join; at 100 TB you scale `nCentroids`
    * with the corpus (cells of ~10⁴ vectors, the SemDeDup recipe) so
    * per-cell work stays constant. Recall < 1 by design → rows-only
    * driver check; `knn_graph_gate` pins recall vs brute force.
    */
  def knnGraph(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 5): DataFrame = {
    // nCentroids = 0 → scale cells with the corpus ([[autoCells]]):
    // a frozen cell count turns the cell-local candidate join
    // quadratic the moment the corpus outgrows it (measured 21.6×
    // wall on a 10× corpus)
    val nc =
      if (nCentroids > 0) nCentroids
      else autoCells(corpus.select(idCol).count())
    val centroids = trainCentroids(corpus, idCol, vecCol, nc, iters)
    knnGraphFromIndex(ivfAssign(corpus, idCol, vecCol, centroids),
      centroids, corpus, idCol, vecCol, k, nProbe)
  }

  /** [[knnGraph]] over a PREBUILT (nid, cv, cid) IVF index — the
    * refresh path: a corpus snapshot's persisted index serves both
    * ANN queries and periodic graph rebuilds without re-assignment.
    */
  def knnGraphFromIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int): DataFrame = {
    val probes = probeCells(corpus, idCol, vecCol, centroids, nProbe)
      .select(col("qid"), col("qv"), col("cid"))
    // both sides are corpus-scale: the shuffle_hash hint pins the
    // cell-co-partitioned join at EVERY scale (fixture-sized stats
    // would otherwise tempt Catalyst into broadcasting the probe side
    // — a plan that ships the whole corpus to every task at 100 TB);
    // no sort needed on cell id, and AQE still skew-splits hot cells
    val cands = index.hint("shuffle_hash").join(probes, Seq("cid"))
      .filter(col("nid") =!= col("qid"))
      .withColumn("cos", round(VectorFunctions.dot(col("cv"), col("qv")), 4))
    rankTopK(cands, k)
  }

  /** Bipartite cross-corpus top-k where BOTH sides are corpus-scale —
    * the [[knnGraph]] plan shape applied to two different corpora
    * (X queries into Y's IVF index). [[bruteForceTopK]] and
    * [[ivfTopKFromIndex]] broadcast the query side, which is right
    * for serving batches and fatal for corpus×corpus workloads
    * (bitext mining, cross-corpus dedup): here the probe join
    * hash-exchanges both sides on cell id (shuffle_hash pinned — a
    * broadcast of a corpus-sized probe side must never win on stale
    * stats), cell count scales with |Y| via [[autoCells]], and the
    * result carries |X|×k rows. Same (qid, nid, rank, cos) contract
    * as every other top-k, cos at 4dp, ties by nid.
    */
  def ivfCrossTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCentroids: Int = 0, nProbe: Int = 8, iters: Int = 5): DataFrame = {
    val nc =
      if (nCentroids > 0) nCentroids
      else autoCells(corpus.select(idCol).count())
    val centroids = trainCentroids(corpus, idCol, vecCol, nc, iters)
    ivfCrossTopKFromIndex(ivfAssign(corpus, idCol, vecCol, centroids),
      centroids, queries, idCol, vecCol, k, nProbe)
  }

  /** [[ivfCrossTopK]] over a PREBUILT (nid, cv, cid) index — the
    * serving/refresh path: a corpus snapshot's persisted index feeds
    * periodic cross-corpus sweeps (bitext re-mining, cross-corpus
    * dedup refreshes) without re-training or re-assigning anything.
    * Same non-broadcast shuffle-hash probe join as the from-scratch
    * build; given the same centroids the result is IDENTICAL
    * (gate-pinned via bitext_index_gate).
    */
  def ivfCrossTopKFromIndex(
      index: DataFrame, centroids: Array[Array[Double]],
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 8): DataFrame = {
    val probes = probeCells(queries, idCol, vecCol, centroids, nProbe)
      .select(col("qid"), col("qv"), col("cid"))
    val cands = index.hint("shuffle_hash").join(probes, Seq("cid"))
      .withColumn("cos", round(VectorFunctions.dot(col("cv"), col("qv")), 4))
    rankTopK(cands, k)
  }

  /** Incremental self-kNN graph — [[knnGraphFromIndex]]'s delta twin,
    * the [[Dedup.minHashLshDelta]] pattern for the graph family: a
    * tick of NEW vectors refreshes the maintained graph without
    * re-running the corpus×corpus probe join. Result ≡ a full
    * [[knnGraphFromIndex]] rebuild over the maintained index
    * (spec-pinned), because top-k(C_full) = top-k(top-k(C_old) ∪
    * C_delta) — the prior edges ARE top-k(C_old), and the delta
    * candidates are exactly C_full's new members.
    *
    * Three delta-bounded pieces replace the full rebuild's
    * corpus-scale shuffle:
    *  1. new-query edges: the delta's probes BROADCAST against the
    *     index (the serving-path plan — delta-sized probe, the
    *     corpus never shuffles);
    *  2. old-query updates: one NARROW corpus pass recomputes probe
    *     cells (nCentroids dots/row, no exchange), keeps only rows
    *     probing a cell the delta touched, and broadcast-joins the
    *     delta-sized new index rows — emitting exactly the
    *     delta-touching candidate pairs;
    *  3. merge: affected queries re-rank (prior top-k ∪ new
    *     candidates); untouched queries pass through by anti-join.
    * Cost tracks |delta| × cell hit rate plus one narrow corpus
    * scan — never |corpus|² and never a corpus-wide exchange.
    *
    * @param index      maintained FULL (nid, cv, cid) IVF index,
    *                   delta rows already folded in (maintain first,
    *                   probe second — the minHashLshDelta contract)
    * @param priorEdges (qid, nid, rank, cos) graph before the tick
    * @param deltaIds   one-column frame of the new vectors' ids
    */
  def knnGraphDelta(
      index: DataFrame, centroids: Array[Array[Double]],
      priorEdges: DataFrame, deltaIds: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val dIds = deltaIds.toDF("__did").localCheckpoint(true)
    val deltaIndex = index
      .join(broadcast(dIds), col("nid") === col("__did"), "left_semi")
      .localCheckpoint(true) // feeds probes, cells, and candidates
    val deltaCells = deltaIndex.select("cid").distinct()

    // 1. the delta's own neighbor lists: delta-sized probes broadcast
    // against the index — the ivfTopKFromIndex serving plan
    val newProbes = probesOfUnit(
      deltaIndex.select(col("nid").as("qid"), col("cv").as("qv")),
      centroids, nProbe).select(col("qid"), col("qv"), col("cid"))
    val newEdges = rankTopK(
      index.join(broadcast(newProbes), Seq("cid"))
        .filter(col("nid") =!= col("qid"))
        .withColumn("cos",
          round(VectorFunctions.dot(col("cv"), col("qv")), 4)),
      k)

    // 2. delta-touching candidates for OLD queries: recompute probe
    // cells in one narrow pass, keep rows landing in a delta cell,
    // pair with the broadcast delta index rows of that cell
    val oldProbes = probesOfUnit(
      index.join(broadcast(dIds), col("nid") === col("__did"), "left_anti")
        .select(col("nid").as("qid"), col("cv").as("qv")),
      centroids, nProbe)
    val affCands = oldProbes
      .join(broadcast(deltaCells), Seq("cid"))
      .join(broadcast(deltaIndex.select(col("nid"), col("cid"), col("cv"))),
        Seq("cid"))
      .withColumn("cos", round(VectorFunctions.dot(col("cv"), col("qv")), 4))
      .select(col("qid"), col("nid"), col("cos"))
      .localCheckpoint(true) // feeds the affected-key split + merge

    // 3. re-rank affected queries over (prior top-k ∪ new candidates);
    // everything else passes through untouched
    val affected = affCands.select("qid").distinct()
    val merged = rankTopK(
      priorEdges.join(affected, Seq("qid"), "left_semi")
        .select(col("qid"), col("nid"), col("cos"))
        .unionByName(affCands),
      k)
    priorEdges.join(affected, Seq("qid"), "left_anti")
      .unionByName(merged)
      .unionByName(newEdges)
  }

  /** PageRank centrality over a self-kNN graph: rank r(v) =
    * (1−d) + d·Σ_{u→v} r(u)/outdeg(u) for `iters` rounds from r=1 —
    * the corpus-cartography signal behind representative-document
    * selection and influence-aware sampling (central docs anchor
    * dense semantic regions; peripheral docs are outliers or novel).
    * Unweighted on purpose: kNN edges carry raw cosines that can be
    * negative on isotropic corpora, and PageRank's convergence
    * contract needs non-negative weights.
    *
    * Scale shape: the edge frame is corpus-scale (n·k rows), so the
    * primary path is the DISTRIBUTED discipline from
    * [[TextAnalysis.textrank]] — one hash-join job per round, lineage
    * truncated per round (localCheckpoint), each round's exchange
    * carrying n rank rows (not edges: the contribution agg partials
    * combine map-side). Sub-`localIterThreshold` graphs take the
    * driver-local shortcut, same as textrank. Damping is a
    * contraction, so cross-engine summation-order drift shrinks per
    * round and the 4dp-rounded ranks hash-match an oracle unrolling
    * the identical iterations in SQL.
    *
    * `edges` is any (qid, nid, …) neighbor frame — [[knnGraphBrute]]
    * for the exact oracle-replayed path, [[knnGraph]] at corpus
    * scale.
    */
  def knnCentrality(edges: DataFrame, iters: Int = 10,
      damping: Double = 0.85, idOut: String = "vec_id",
      localIterThreshold: Long = 100000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val g = edges.select(col("qid").as("u"), col("nid").as("v"))
      .localCheckpoint(true)
    // Small-graph shortcut, the [[TextAnalysis.textrank]] discipline:
    // iterating a sub-threshold graph as Spark jobs pays ~0.5s/round
    // of scheduling on kilobytes (measured 6.8s of a 6.8s query at
    // the fixture), so it runs driver-local in deterministic edge
    // order; a genuinely corpus-scale graph falls back to the
    // one-job-per-round loop. The two paths sum contributions in
    // different orders and agree at the 4dp rounding quantum (the
    // damping contraction keeps raw drift orders of magnitude below
    // it — the property the hash-verified oracle leans on too).
    if (g.count() <= localIterThreshold) {
      val e = ModelCollect.bounded(g.orderBy("u", "v"),
          localIterThreshold.toInt, "knnPageRank local edges")
        .map(r => (r.getLong(0), r.getLong(1)))
      val od = scala.collection.mutable.HashMap[Long, Double]()
      e.foreach { case (u, _) => od(u) = od.getOrElse(u, 0.0) + 1.0 }
      val nodes = e.map(_._1).distinct.sorted
      var r = nodes.map(n => n -> 1.0).toMap
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable.HashMap[Long, Double]()
        e.foreach { case (u, v) =>
          contrib(v) = contrib.getOrElse(v, 0.0) + r(u) / od(u)
        }
        r = nodes.map(n =>
          n -> ((1.0 - damping) + damping * contrib.getOrElse(n, 0.0))).toMap
      }
      val spark = edges.sparkSession
      import spark.implicits._
      nodes.map(n => (n, r(n))).toSeq.toDF(idOut, "__r")
        .select(col(idOut), round(col("__r"), 4).as("centrality"))
    } else {
      val deg = g.groupBy("u").agg(count(lit(1)).cast("double").as("od"))
      val nodes = g.select(col("u").as("node")).distinct().localCheckpoint(true)
      var ranks = nodes.withColumn("r", lit(1.0)).localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contrib = g.join(deg, Seq("u"))
          .join(ranks, col("u") === col("node"))
          .groupBy(col("v").as("node"))
          .agg(sum(col("r") / col("od")).as("__x"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(1.0 - damping) + lit(damping) * coalesce(col("__x"), lit(0.0)))
              .as("r"))
          .localCheckpoint(true)
      }
      ranks.select(col("node").as(idOut), round(col("r"), 4).as("centrality"))
    }
  }

  /** Iterative label propagation over a self-kNN graph: seeds keep
    * their labels forever; every unlabeled node takes the most common
    * label among its OUT-neighbors' current labels each round
    * (unlabeled neighbors abstain; ties break by smallest label;
    * nodes whose neighborhood is entirely unlabeled stay unlabeled
    * that round). The semi-supervised labeling primitive that turns
    * a few curated labels into corpus-wide weak labels — [[knnPredict]]
    * is its single-hop special case, this reaches nodes with no
    * labeled direct neighbor.
    *
    * Deterministic by construction (argmax over integer counts, total
    * tie order), so the DuckDB oracle replays the exact iteration.
    * Same execution split as [[knnCentrality]]: driver-local under
    * `localIterThreshold` edges, one hash-join job per round with
    * per-round lineage truncation beyond it.
    *
    * `edges`: (qid, nid, …); `seeds`: (id, label) — ids must be a
    * subset of the graph's nodes. Output: (id, label, is_seed) with
    * label null where propagation never reached.
    */
  def labelPropagation(edges: DataFrame, seeds: DataFrame,
      idCol: String, labelCol: String, iters: Int = 5,
      localIterThreshold: Long = 100000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val g = edges.select(col("qid").as("u"), col("nid").as("v"))
      .localCheckpoint(true)
    val seed = seeds.select(col(idCol).as("node"),
      col(labelCol).cast("int").as("seed_label")).localCheckpoint(true)
    if (g.count() <= localIterThreshold) {
      val e = ModelCollect.bounded(g.orderBy("u", "v"),
          localIterThreshold.toInt, "labelPropagation local edges")
        .map(r => (r.getLong(0), r.getLong(1)))
      val seedMap = ModelCollect.bounded(seed,
          ModelCollect.MaxModelRows, "labelPropagation seeds")
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val nodes = e.map(_._1).distinct.sorted
      val byNode = e.groupBy(_._1)
      var lab: Map[Long, Option[Int]] =
        nodes.map(n => n -> seedMap.get(n)).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { n =>
          n -> (seedMap.get(n) match {
            case some @ Some(_) => some
            case None =>
              val votes = byNode.getOrElse(n, Array.empty)
                .flatMap(p => lab(p._2)).groupBy(identity)
                .map { case (l, xs) => (l, xs.length) }
              if (votes.isEmpty) lab(n)
              else Some(votes.toSeq.minBy { case (l, c) => (-c, l) }._1)
          })
        }.toMap
      }
      val spark = edges.sparkSession
      import spark.implicits._
      nodes.map(n => (n, lab(n), seedMap.contains(n))).toSeq
        .toDF(idCol, labelCol, "is_seed")
    } else {
      val nodes = g.select(col("u").as("node")).distinct()
        .localCheckpoint(true)
      var lab = nodes.join(seed, Seq("node"), "left")
        .select(col("node"), col("seed_label").as("lbl"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val votes = g.join(lab.withColumnRenamed("node", "v")
            .withColumnRenamed("lbl", "vl"), Seq("v"))
          .filter(col("vl").isNotNull)
          .groupBy(col("u").as("node"), col("vl"))
          .agg(count(lit(1)).as("c"))
        val winner = votes
          .withColumn("rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("node")
              .orderBy(desc("c"), asc("vl"))))
          .filter(col("rk") === 1)
          .select(col("node"), col("vl").as("win"))
        lab = lab.join(winner, Seq("node"), "left")
          .join(seed, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("seed_label"), col("win"), col("lbl")).as("lbl"))
          .localCheckpoint(true)
      }
      lab.join(seed, Seq("node"), "left")
        .select(col("node").as(idCol), col("lbl").as(labelCol),
          col("seed_label").isNotNull.as("is_seed"))
    }
  }

  /** Local clustering coefficient over a self-kNN graph — how
    * tightly each node's neighborhood interconnects (triangles /
    * possible neighbor pairs). On a corpus kNN graph this separates
    * docs sitting inside dense semantic clusters (coeff → 1: near-dup
    * regions, boilerplate families — prime dedup targets) from
    * bridge/outlier docs (coeff → 0) — the structural companion to
    * [[knnCentrality]]'s influence signal.
    *
    * Works on the UNDIRECTED projection: an unordered pair is an edge
    * if either direction appears. degree = distinct undirected
    * neighbors; n_triangles = neighbor pairs that are themselves
    * edges; coeff = 2·tri / (deg·(deg−1)), 0 below degree 2.
    *
    * Scale shape: every join is key-partitioned hash — no corpus²
    * term anywhere. The wedge self-join on the center node fans out
    * deg(v)²/2 rows; OUT-degree is fixed at k but IN-degree
    * concentrates on central docs, so hub nodes are the one skew
    * risk: AQE skew-splits the wedge join, and `maxDegree` is the
    * drop-and-audit cap (the [[Linkage.fuzzyNamePairs]] posture) —
    * nodes above it are excluded from the output entirely (their
    * neighborhood is by definition not a tight cluster; audit them
    * from the degree table). Triangle verification is one
    * (x, y)-keyed semi-join against the edge set — uniform keys.
    *
    * `edges` is any (qid, nid, …) neighbor frame — [[knnGraphBrute]]
    * for the exact oracle-replayed path, [[knnGraph]] at corpus
    * scale. Output: (idOut, degree, n_triangles, clustering_coeff).
    */
  def knnClusteringCoeff(edges: DataFrame, idOut: String = "vec_id",
      maxDegree: Option[Long] = None): DataFrame = {
    // sym feeds three branches (adj twice, the triangle probe) —
    // truncate so the upstream kNN job runs once
    val sym = edges.select(least(col("qid"), col("nid")).as("a"),
        greatest(col("qid"), col("nid")).as("b"))
      .distinct().localCheckpoint(true)
    val adj = sym.select(col("a").as("v"), col("b").as("w"))
      .unionByName(sym.select(col("b").as("v"), col("a").as("w")))
    val deg = adj.groupBy("v").agg(count(lit(1)).as("degree"))
    val degKept = maxDegree match {
      case None => deg
      case Some(cap) => deg.filter(col("degree") <= cap)
    }
    val adjKept = maxDegree match {
      case None => adj
      case Some(_) => adj.join(degKept.select("v"), Seq("v"), "left_semi")
    }
    val tri = adjKept.select(col("v"), col("w").as("x"))
      .join(adjKept.select(col("v"), col("w").as("y")), Seq("v"))
      .filter(col("x") < col("y"))
      .join(sym.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_semi")
      .groupBy("v").agg(count(lit(1)).as("n_triangles"))
    degKept.join(tri, Seq("v"), "left")
      .select(col("v").as(idOut), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - lit(1))))
          .otherwise(lit(0.0)), 4).as("clustering_coeff"))
  }

  /** k-core membership over a self-kNN graph — iterative peeling on
    * the undirected projection: each round drops nodes with fewer
    * than `k` surviving undirected neighbors, and what remains after
    * convergence is the k-core (the unique maximal subgraph of
    * minimum degree k). On a corpus graph this is the density tier
    * BELOW [[knnClusteringCoeff]]'s triangle signal: core members
    * sit inside large mutually-connected regions (boilerplate
    * families, template floods — candidates for aggressive dedup or
    * downsampling), peeled nodes are the long tail.
    *
    * `rounds` is a FIXED iteration count (the [[knnCentrality]]
    * oracle discipline: the SQL oracle unrolls exactly `rounds`
    * CTEs, so the output hash-matches whether or not the peel has
    * converged — peeling converges in a handful of rounds on kNN
    * graphs, and `in_kcore` is exact once stable). Same execution
    * split as the other graph iterations: driver-local below
    * `localIterThreshold` edges, one degree-aggregation job per
    * round (lineage truncated) beyond it.
    *
    * Output: (idOut, in_kcore, drop_round) — one row per node of the
    * undirected graph; drop_round = the peel round (1-based) that
    * removed the node, 0 for core members. Peel depth is the useful
    * scalar even when the core is empty: an isotropic corpus (this
    * fixture) has NO dense core — everything cascades out in a few
    * rounds — and how LONG a node survives the cascade still orders
    * nodes by local embedding density.
    */
  def kCore(edges: DataFrame, k: Int, rounds: Int = 10,
      idOut: String = "vec_id",
      localIterThreshold: Long = 100000L): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val sym = edges.select(least(col("qid"), col("nid")).as("a"),
        greatest(col("qid"), col("nid")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    if (sym.count() <= localIterThreshold) {
      val e = ModelCollect.bounded(sym.orderBy("a", "b"),
          localIterThreshold.toInt, "kCore local edges")
        .map(r => (r.getLong(0), r.getLong(1)))
      val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
      var alive = nodes.toSet
      val dropRound = scala.collection.mutable.HashMap[Long, Int]()
      for (i <- 1 to rounds) {
        val deg = scala.collection.mutable.HashMap[Long, Int]()
        e.foreach { case (a, b) =>
          if (alive(a) && alive(b)) {
            deg(a) = deg.getOrElse(a, 0) + 1
            deg(b) = deg.getOrElse(b, 0) + 1
          }
        }
        val next = alive.filter(n => deg.getOrElse(n, 0) >= k)
        (alive -- next).foreach(n => dropRound(n) = i)
        alive = next
      }
      val spark = edges.sparkSession
      import spark.implicits._
      nodes.map(n => (n, alive(n), dropRound.getOrElse(n, 0))).toSeq
        .toDF(idOut, "in_kcore", "drop_round")
    } else {
      // one degree aggregation per round over the surviving subgraph;
      // newly-peeled nodes accumulate with their round — every frame
      // in play is (id, int)-narrow, lineage truncated per round
      val adj = sym.select(col("a").as("v"), col("b").as("w"))
        .unionByName(sym.select(col("b").as("v"), col("a").as("w")))
        .localCheckpoint(true)
      val nodes = adj.select("v").distinct().localCheckpoint(true)
      var alive = nodes
      var dropped = nodes.limit(0).withColumn("drop_round", lit(0))
      for (i <- 1 to rounds) {
        val next = adj
          .join(alive, Seq("v"), "left_semi")
          .join(alive.select(col("v").as("w")), Seq("w"), "left_semi")
          .groupBy("v").agg(count(lit(1)).as("__d"))
          .filter(col("__d") >= k).select("v")
          .localCheckpoint(true)
        dropped = dropped.unionByName(
          alive.join(next, Seq("v"), "left_anti")
            .withColumn("drop_round", lit(i)))
          .localCheckpoint(true)
        alive = next
      }
      nodes.join(dropped, Seq("v"), "left")
        .select(col("v").as(idOut),
          col("drop_round").isNull.as("in_kcore"),
          coalesce(col("drop_round"), lit(0)).as("drop_round"))
    }
  }

  /** Per-label embedding centroids in long format (label, dim, mean) —
    * the embedding-analytics primitive behind classifier
    * initialization, per-domain corpus embeddings, and drift checks
    * between corpus snapshots.
    *
    * Plan shape: posexplode (narrow, dim rows per vector) → ONE hash
    * aggregation by (label, dim) with map-side partial sums — the
    * exchange carries |labels|×dim partial rows per task, never
    * vectors. Long output on purpose: scalar cells hash-compare
    * exactly (array<double> columns would ride on element-order ulp),
    * and downstream pivots to vector form are one narrow
    * collect_list away.
    */
  def labelCentroids(
      df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(VectorFunctions.toDouble(col(vecCol)))
          .as(Seq("dim", "x")))
      .groupBy("label", "dim")
      .agg(round(avg(col("x")), 4).as("centroid"),
        count(lit(1)).as("n_vectors"))
      .select(col("label"), col("dim").cast("int").as("dim"),
        col("centroid"), col("n_vectors"))
}
