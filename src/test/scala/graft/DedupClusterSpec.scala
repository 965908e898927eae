package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupCluster}
import graft.sources.Tables

/** Connected-components clustering of near-dup pairs: chains collapse
  * to one cluster, singletons self-label, convergence on long paths.
  */
class DedupClusterSpec extends SparkSpec {
  import spark.implicits._

  test("chains merge into one component with min-id canonical") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    // edges 2-3, 3-4 (a chain) — 1 and 5 are singletons
    val pairs = Seq((2L, 3L), (3L, 4L)).toDF("da", "db")
    val out = DedupCluster.connectedComponents(docs, pairs)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    assert(out.toSeq == Seq(
      (1L, 1L, true), (2L, 2L, true), (3L, 2L, false),
      (4L, 2L, false), (5L, 5L, true)))
  }

  test("long path converges (label must traverse the diameter)") {
    val n = 17L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("da", "db")
    val out = DedupCluster.connectedComponents(docs, pairs)
      .as[(Long, Long, Boolean)].collect()
    assert(out.forall(_._2 == 1L), s"all labels should be 1: ${out.toSeq}")
    assert(out.count(_._3) == 1)
  }

  test("two disjoint components keep separate labels") {
    val docs = Seq(1L, 2L, 3L, 4L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("da", "db")
    val out = DedupCluster.connectedComponents(docs, pairs)
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    assert(out.map(_._2).toSeq == Seq(1L, 1L, 3L, 3L))
  }

  test("mergeDelta: a delta doc bridging two old clusters merges them") {
    // prior world: {1,2} and {3,4}, singletons 5
    val oldDocs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
    val prior = DedupCluster.connectedComponents(oldDocs,
      Seq((1L, 2L), (3L, 4L)).toDF("da", "db"))
      .select("doc_id", "cluster_id")
    // delta doc 6 duplicates both 2 and 3 → everything collapses to 1
    val merged = DedupCluster.mergeDelta(prior,
        Seq((2L, 6L), (3L, 6L)).toDF("da", "db"),
        Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id"))
      .orderBy("doc_id").as[(Long, Long, Boolean)].collect()
    assert(merged.map(_._2).toSeq == Seq(1L, 1L, 1L, 1L, 5L, 1L))
  }

  test("mergeDelta ≡ full rerun on the documents corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val old = docs.filter(col("doc_id") < 300)
    val full = DedupCluster.minHashClusters(docs, "doc_id", "text",
      k = 3, threshold = 0.7)
    // incremental: prior clustering + delta pairs from the index probe
    val prior = DedupCluster.minHashClusters(old, "doc_id", "text",
      k = 3, threshold = 0.7).select("doc_id", "cluster_id")
    val (sh, bands) = Dedup.minHashIndex(docs, "doc_id", "text", 3)
    val deltaPairs = Dedup.minHashLshDelta(sh, bands,
      docs.filter(col("doc_id") >= 300).select("doc_id"), threshold = 0.7)
    val incremental = DedupCluster.mergeDelta(prior, deltaPairs,
      docs.select("doc_id"))
    sh.unpersist()
    assertSameRows(incremental.orderBy("doc_id"), full.orderBy("doc_id"))
  }
}
