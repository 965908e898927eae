package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Packing

/** Sequence packing: the distributed two-phase prefix sum must equal
  * the naive single-window cumsum exactly, including across bucket
  * boundaries, and plan without a single-partition global window.
  */
class PackingSpec extends SparkSpec {
  import spark.implicits._

  private def naive(df: org.apache.spark.sql.DataFrame, budget: Int) = {
    val w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    df.select(col("doc_id"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .withColumn("start", sum("n").over(w) - col("n"))
      .select(col("doc_id"), col("n").cast("int").as("n_tokens"),
        expr(s"start DIV $budget").as("pack_id"),
        (col("start") % budget).as("pack_offset"))
  }

  test("equals the single-window formulation across bucket boundaries") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // few buckets → every bucket boundary is exercised
    val packed = Packing.packSequences(docs, "doc_id", "text",
      budget = 128, nBuckets = 7)
    assertSameRows(packed, naive(docs, 128))
  }

  test("packs are contiguous: offsets restart and ids partition the token stream") {
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"), (10L, "j"))
      .toDF("doc_id", "text")
    val rows = Packing.packSequences(docs, "doc_id", "text", budget = 4)
      .orderBy("doc_id").as[(Long, Int, Long, Long)].collect()
    // token stream: doc1@0..2, doc2@3..4, doc3@5..8, doc10@9
    assert(rows.toSeq == Seq(
      (1L, 3, 0L, 0L), (2L, 2, 0L, 3L), (3L, 4, 1L, 1L), (10L, 1, 2L, 1L)))
  }

  test("empty input yields an empty packing, not a crash") {
    val docs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Packing.packSequences(docs, "doc_id", "text", budget = 10).count() == 0)
  }

  test("plan: per-bucket windows, never a single global-order window") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val p = Packing.packSequences(docs, "doc_id", "text", budget = 128)
      .queryExecution.executedPlan.toString
    // a global ORDER BY window would show an Exchange SinglePartition
    // feeding the Window — the 100 TB scale-killer this op avoids
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("Window"), p)
  }

  test("lengthBucketBatches: homogeneous full batches, band-exact thresholds, global ids") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val out = Packing.lengthBucketBatches(docs, "doc_id", "text",
      batchSize = 8, seed = "b1").collect()
    assert(out.length == docs.count())
    // every doc's band matches its token count against the thresholds
    out.foreach { r =>
      val (n, band) = (r.getInt(1), r.getInt(2))
      val expect = Seq(16, 32, 64, 128).count(n >= _)
      assert(band == expect, s"n=$n band=$band")
    }
    // batches are band-homogeneous; each band's batches are full except
    // possibly its last; batch ids never collide across bands
    val byBatch = out.groupBy(_.getLong(3))
    byBatch.foreach { case (bid, rows) =>
      assert(rows.map(_.getInt(2)).distinct.length == 1,
        s"batch $bid mixes length bands")
    }
    val byBand = out.groupBy(_.getInt(2))
    byBand.foreach { case (band, rows) =>
      val sizes = rows.groupBy(_.getLong(3)).map(_._2.length).toSeq
      assert(sizes.forall(_ <= 8), s"band $band overfills a batch")
      assert(sizes.count(_ != 8) <= 1,
        s"band $band has more than one partial batch: $sizes")
    }
    // deterministic rerun
    val again = Packing.lengthBucketBatches(docs, "doc_id", "text",
      batchSize = 8, seed = "b1").collect()
    assert(out.map(_.toSeq).sortBy(_.head.toString).toSeq ==
      again.map(_.toSeq).sortBy(_.head.toString).toSeq)
  }

  test("curriculumOrder: phase-major permutation, seeded within-phase shuffle") {
    import spark.implicits._
    val docs = (1 to 100).map(i => (i.toLong, (i % 10).toDouble))
      .toDF("doc_id", "score")
    val out = Packing.curriculumOrder(docs, "doc_id", "score",
      thresholds = Seq(7.0, 4.0), seed = "c0")
      .as[(Long, Int, Long)].collect()
    // positions are a 1-based permutation of 1..N
    assert(out.map(_._3).sorted.toSeq == (1L to 100L).toSeq)
    // phase-major: every phase-0 position precedes every phase-1, etc.
    val byPhase = out.groupBy(_._2).view.mapValues(_.map(_._3)).toMap
    assert(byPhase(0).max < byPhase(1).min && byPhase(1).max < byPhase(2).min)
    // phase membership follows the thresholds
    assert(out.filter(_._2 == 0).map(_._1).forall(id => id % 10 >= 7))
    assert(out.filter(_._2 == 2).map(_._1).forall(id => id % 10 < 4))
    // same seed reproduces; a fresh seed reshuffles within phases only
    val again = Packing.curriculumOrder(docs, "doc_id", "score",
      Seq(7.0, 4.0), "c0").as[(Long, Int, Long)].collect()
    assert(out.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    val other = Packing.curriculumOrder(docs, "doc_id", "score",
      Seq(7.0, 4.0), "c1").as[(Long, Int, Long)].collect()
    assert(other.sortBy(_._1).map(_._2).toSeq ==
      out.sortBy(_._1).map(_._2).toSeq, "phases are seed-independent")
    assert(other.sortBy(_._1).map(_._3).toSeq !=
      out.sortBy(_._1).map(_._3).toSeq, "order within phases reshuffles")
  }
}
