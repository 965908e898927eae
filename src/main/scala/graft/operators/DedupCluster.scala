package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Near-duplicate CLUSTERING: turn pairwise matches (from
  * [[Dedup.minHashLsh]] / [[Dedup.simhashPairs]] / …) into connected
  * components, electing the minimum doc id of each component as its
  * canonical representative — the step a training-data pipeline
  * actually needs ("keep one copy per duplicate cluster").
  *
  * Algorithm: iterative min-label propagation with pointer jumping.
  * Each round every node adopts the smallest label among itself and
  * its neighbors (one edge join label), then shortcuts to its label's
  * label (one label self-join) — pointer jumping halves chain depth,
  * so convergence is O(log diameter) rounds even on pathological path
  * graphs; near-dup components are small and dense, so 2-4 rounds in
  * practice.
  *
  * Scale shape per round: shuffles touch only the edge set and the
  * label frontier — the full corpus appears once, in the final
  * left-join that assigns singletons to themselves. Each round ends
  * in `localCheckpoint`: iterative DataFrame algorithms MUST truncate
  * lineage — the loop body references `labels` several times, so the
  * un-checkpointed logical plan doubles per round (even rendering it
  * as a string goes exponential; persist alone does NOT cut the
  * logical plan).
  */
object DedupCluster {

  /** @param docs  (idCol) — the full universe of doc ids
    * @param pairs (aCol, bCol) — undirected duplicate edges
    * @return (idCol, cluster_id, is_canonical)
    */
  def connectedComponents(
      docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", aCol: String = "da", bCol: String = "db",
      maxIter: Int = 25): DataFrame = {
    // materialize the (possibly expensive) pair pipeline exactly once
    // — every edge/frontier branch below would otherwise re-run it
    val p0 = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .localCheckpoint(true)
    // symmetric edge list (a→b and b→a), so one join sees all neighbors
    val edges = p0.unionByName(
        p0.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // frontier: only nodes that appear in any edge (singletons join in
    // at the end — no reason to iterate over the whole corpus)
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)

    // convergence detection rides INSIDE the round's one materializing
    // job: each row carries a changed flag whose evaluation bumps an
    // accumulator while localCheckpoint computes the partition — no
    // second per-round action (the sum-compare formulation paid an
    // extra job per round; sequential job boundaries are exactly where
    // a contended host stalls an iterative algorithm). Exact despite
    // task retries: a retried task re-adds only what it saw — the
    // fixed point has NO changed rows anywhere, so acc==0 iff converged.
    val changedAcc = docs.sparkSession.sparkContext
      .longAccumulator("cc_changed")
    val bump = udf { (changed: Boolean) =>
      if (changed) changedAcc.add(1L)
      changed
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val t0 = System.nanoTime()
      changedAcc.reset()
      // 1. neighbor min
      val neighborMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dst_label")),
          Seq("dst"))
        .groupBy(col("src").as("id"))
        .agg(min(col("dst_label")).as("nbr_label"))
      val stepped = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("label").as("prev"),
          least(col("label"), coalesce(col("nbr_label"), col("label")))
            .as("label"))
      // 2. pointer jump: label := label(label). ONE jump per round on
      // purpose — an r13 experiment with jump∘jump (quartering chain
      // depth per round) re-referenced the un-materialized `stepped`
      // subtree 4× and exchange reuse did NOT collapse the copies
      // under AQE: each round recomputed the neighbor join repeatedly
      // and the measured wall went 4.7 s → 20+ s on the semantic
      // cluster fixture. Extra jumps only pay when `stepped` is
      // materialized, which costs the extra per-round action this
      // loop exists to avoid.
      val jumped = stepped
        .join(stepped.select(col("id").as("label"),
          col("label").as("parent")).alias("p"), Seq("label"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("parent"), col("label")))
            .as("label"),
          col("prev"))
      val next = jumped
        .select(col("id"), col("label"),
          bump(col("label") =!= col("prev")).as("changed"))
        .localCheckpoint(true)
      labels = next.select("id", "label")
      converged = changedAcc.value == 0L
      iter += 1
      System.err.println(f"[cc] iter $iter: changed=${changedAcc.value}, ${(System.nanoTime() - t0) / 1e9}%.1fs")
    }

    val out = docs.select(col(idCol))
      .join(labels.select(col("id").as(idCol), col("label")), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("label"), col(idCol)).as("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
    edges.unpersist()
    out
  }

  /** Incremental clustering: fold a DELTA's duplicate pairs (from
    * [[Dedup.minHashLshDelta]] — new×old and new×new edges only) into
    * a PRIOR clustering without touching old×old pairs again. Prior
    * assignments become edges (member → its cluster id), so two old
    * clusters bridged by a new doc correctly merge to the smaller
    * cluster id, and the label propagation runs over
    * |prior non-singleton members| + |delta pairs| edges — duplicate-
    * cluster-sized, never corpus-sized. Composed with the bucketed
    * band index this is the full 100 TB incremental near-dup loop:
    * maintain index → probe delta → merge clusters.
    *
    * @param priorLabels (idCol, cluster_id) from an earlier
    *                    [[connectedComponents]] run over the old docs
    * @param deltaPairs  (aCol, bCol) pairs touching the delta
    * @param universe    (idCol) — old + delta doc ids
    */
  def mergeDelta(
      priorLabels: DataFrame, deltaPairs: DataFrame, universe: DataFrame,
      idCol: String = "doc_id", aCol: String = "da", bCol: String = "db"): DataFrame = {
    val priorEdges = priorLabels
      .filter(col(idCol) =!= col("cluster_id"))
      .select(col(idCol).as(aCol), col("cluster_id").as(bCol))
    connectedComponents(universe,
      priorEdges.unionByName(deltaPairs.select(col(aCol), col(bCol))),
      idCol, aCol, bCol)
  }

  /** End-to-end near-dup pruning: MinHash+LSH pairs → components →
    * per-cluster canonical survivor flag. The shingle cache backing
    * the pair pipeline is released as soon as connectedComponents has
    * eagerly checkpointed the pairs — it exists to serve one pass,
    * and holding it through the label-propagation loop (and beyond,
    * in a long-lived session) squats on executor storage memory.
    */
  def minHashClusters(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.7): DataFrame = {
    val (sh, bands) = Dedup.minHashIndex(docs, idCol, textCol, k)
    val pairs = Dedup.pairsFromIndex(sh, bands, threshold)
    // connectedComponents checkpoints `pairs` eagerly on entry, so
    // the shingle cache is dead weight from here on
    val out = connectedComponents(docs, pairs, idCol)
    sh.unpersist()
    out
  }
}
