package graft

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

/** ANN search (ext tier): brute-force exactness on a constructed
  * corpus, and the LSH path's recall vs the brute-force ground truth
  * on the real embeddings table (the check the driver can't do —
  * recall<1 by design, so ann_topk_lsh is rows-only there).
  */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("vector functions: dot / cosine on known values") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0))).toDF("a", "b")
    val r = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.cosine(col("a"), col("a")).as("selfcos"))
      .as[(Double, Double)].head()
    assert(r._1 == 32.0)
    assert(math.abs(r._2 - 1.0) < 1e-12)
  }

  test("bruteForceTopK: exact ranks on a constructed corpus") {
    val corpus = Seq(
      (10L, Array(1.0f, 0.0f)), (11L, Array(0.8f, 0.6f)), (12L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val queries = Seq((1L, Array(1.0f, 0.05f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", k = 2)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    assert(top.map(t => (t._2, t._3)).toSeq == Seq((10L, 1), (11L, 2)))
  }

  test("lshTopK recall ≥ 0.8 vs brute force on the embeddings table") {
    // this corpus is near-random (top-5 neighbor cos ≈ 0.3) — the
    // hardest case for sign-LSH, so use short 4-bit tables × 16:
    // P(candidate | cos=0.3) = 1-(1-0.6^4)^16 ≈ 0.89
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, queries, "vec_id", "embedding", 5,
      bitsPerTable = 4, tables = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall < 0.8")
  }

  test("ivfTopK recall on near-random data scales with nProbe") {
    // adversarial corpus (top-5 neighbor cos ≈ 0.3 — barely better
    // than random): probing half the centroid buckets must recover
    // well over half the true neighbors; clustered real embeddings
    // do far better at much lower nProbe.
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5,
      nCentroids = 16, nProbe = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall < 0.6")
    assert(ivf.size == exact.size) // still returns full top-k per query
  }

  test("sqTopK: int8 index is 8× smaller and keeps high recall") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    // index schema really is bytes (the 8× storage claim)
    val idx = Similarity.sqIndex(corpus, "vec_id", "embedding")
    assert(idx.schema("codes").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.ByteType, containsNull = false))
    val codes = idx.select("codes").as[Seq[Byte]].head()
    assert(codes.forall(b => b >= -127 && b <= 127))
    // per-dimension quantization error ≤ 1/254 of unit scale, so on
    // near-random embeddings (neighbor gaps ~0.01 cosine) recall@5
    // stays high even in the adversarial case
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val sq = Similarity.sqTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & sq).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ recall $recall < 0.8")
    assert(sq.size == exact.size)
  }

  test("pqTopK: ADC+rerank recall ≥ 0.7; codebooks and codes are well-formed") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val books = Similarity.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 16, ksub = 16)
    // model shape: 16 subspaces × exactly 16 centroids × 4 dims
    // (the sample exceeds ksub, so no subspace may come up short)
    assert(books.length == 16)
    assert(books.forall(b => b.length == 16 && b.forall(_.length == 4)))
    val again = Similarity.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 16, ksub = 16)
    books.zip(again).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.toSeq == y.toSeq) } }
    // codes: m ints in [0, ksub)
    val codes = Similarity.pqIndex(corpus, "vec_id", "embedding", books)
      .select("codes").as[Seq[Int]].head()
    assert(codes.length == 16 && codes.forall(c => c >= 0 && c < 16))
    // recall on the adversarial near-random corpus: the ADC shortlist
    // (5× oversample) + exact rerank recovers most true neighbors
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 5,
        m = 16, ksub = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & pq).size.toDouble / exact.size
    assert(recall >= 0.7, s"PQ recall $recall < 0.7")
    assert(pq.size == exact.size) // full top-k per query survives rerank
    // rerank matters: ADC-only (oversample=1) recall is strictly lower
    // on this corpus — the shortlist+exact recipe is what closes it
    val adcOnly = Similarity.pqTopKFromIndex(
        Similarity.pqIndex(corpus, "vec_id", "embedding", books),
        books, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val adcRecall = (exact & adcOnly).size.toDouble / exact.size
    assert(adcRecall <= recall, s"rerank must not lose recall ($adcRecall > $recall)")
  }

  test("ivfPqTopK: composed cells+residual codes — recall, determinism, serving parity") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val (cents, books) = Similarity.trainIvfPq(corpus, "vec_id", "embedding",
      nCentroids = 8, m = 16, ksub = 16)
    assert(cents.length == 8 && books.length == 16)
    assert(books.forall(b => b.length == 16 && b.forall(_.length == 4)))
    val (c2, b2) = Similarity.trainIvfPq(corpus, "vec_id", "embedding",
      nCentroids = 8, m = 16, ksub = 16)
    cents.zip(c2).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    books.zip(b2).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.toSeq == y.toSeq) } }

    // index rows: one cell id + m in-range codes, assigned in ONE
    // narrow pass (no shuffle in the build plan)
    val idx = Similarity.ivfPqIndex(corpus, "vec_id", "embedding", cents, books)
    val row = idx.select("cid", "codes").as[(Int, Seq[Int])].head()
    assert(row._1 >= 0 && row._1 < 8)
    assert(row._2.length == 16 && row._2.forall(c => c >= 0 && c < 16))
    assert(!idx.queryExecution.executedPlan.toString.contains("Exchange"))

    // recall through the full recipe (8 probes of 16 cells, 5×
    // shortlist, exact rerank) on the adversarial near-random corpus
    val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val ivfpq = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 8, m = 16, ksub = 16)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val recall = (exact & ivfpq).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-PQ recall $recall < 0.6")

    // residuals are the point: with every cell probed (pruning off),
    // ADC over residual codes must recover at least what ADC over
    // raw-vector codes does — the composed quantizer is never coarser
    val rawBooks = Similarity.trainPqCodebooks(corpus, "vec_id", "embedding",
      m = 16, ksub = 16)
    val rawAdc = Similarity.pqTopKFromIndex(
        Similarity.pqIndex(corpus, "vec_id", "embedding", rawBooks),
        rawBooks, queries, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val resAdc = Similarity.ivfPqTopKFromIndex(idx, cents, books,
        queries, "vec_id", "embedding", 5, nProbe = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val rawR = (exact & rawAdc).size.toDouble / exact.size
    val resR = (exact & resAdc).size.toDouble / exact.size
    assert(resR >= rawR, s"residual ADC recall $resR < raw ADC recall $rawR")

    // serving parity: persisted index + reloaded codebooks answer
    // batches identically to the in-memory run
    val dir = java.nio.file.Files.createTempDirectory("ivfpq")
    idx.write.parquet(dir.resolve("idx").toString)
    Similarity.savePqCodebooks(spark, books, dir.resolve("books").toString)
    val loadedBooks = Similarity.loadPqCodebooks(spark, dir.resolve("books").toString)
    loadedBooks.zip(books).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) => assert(x.toSeq == y.toSeq) } }
    assertSameRows(
      Similarity.ivfPqTopKFromIndex(
        spark.read.parquet(dir.resolve("idx").toString),
        cents, loadedBooks, queries, "vec_id", "embedding", 5,
        nProbe = 4, oversample = 5, rerankWith = Some(corpus)),
      Similarity.ivfPqTopKFromIndex(idx, cents, books,
        queries, "vec_id", "embedding", 5,
        nProbe = 4, oversample = 5, rerankWith = Some(corpus)))
  }

  test("trainCentroids returns unit centroids, deterministic") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val c1 = Similarity.trainCentroids(e, "vec_id", "embedding", 4, iters = 2)
    val c2 = Similarity.trainCentroids(e, "vec_id", "embedding", 4, iters = 2)
    assert(c1.length == 4)
    c1.zip(c2).foreach { case (a, b) => assert(a.toSeq == b.toSeq) }
    c1.foreach { c =>
      assert(math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9)
    }
  }

  test("persisted ANN indexes serve query batches identically to the in-memory run") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val q1 = e.filter(col("vec_id") < 5)
    val q2 = e.filter(col("vec_id") >= 5 && col("vec_id") < 10)
    val dir = java.nio.file.Files.createTempDirectory("annidx")

    // IVF: write the index table once, reload, probe two query
    // batches — no retraining, no re-assignment
    val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding", 8)
    val ivfPath = dir.resolve("ivf").toString
    Similarity.ivfAssign(corpus, "vec_id", "embedding", centroids)
      .write.parquet(ivfPath)
    val loadedIdx = spark.read.parquet(ivfPath)
    for (q <- Seq(q1, q2))
      assertSameRows(
        Similarity.ivfTopKFromIndex(loadedIdx, centroids, q,
          "vec_id", "embedding", k = 5),
        Similarity.ivfTopKFromIndex(
          Similarity.ivfAssign(corpus, "vec_id", "embedding", centroids),
          centroids, q, "vec_id", "embedding", k = 5))

    // LSH: persisted (nid, cv, tbl, bucket) index serves batches ==
    // fresh hashing (seeds fixed, so the index survives restarts)
    val lshPath = dir.resolve("lsh").toString
    Similarity.lshAssign(corpus, "vec_id", "embedding",
      bitsPerTable = 4, tables = 8).write.parquet(lshPath)
    val lshLoaded = spark.read.parquet(lshPath)
    for (q <- Seq(q1, q2))
      assertSameRows(
        Similarity.lshTopKFromIndex(lshLoaded, q, "vec_id", "embedding",
          k = 5, bitsPerTable = 4, tables = 8),
        Similarity.lshTopK(corpus, q, "vec_id", "embedding",
          k = 5, bitsPerTable = 4, tables = 8))

    // SQ: persisted codes table serves batches == fresh quantization
    val sqPath = dir.resolve("sq").toString
    Similarity.sqIndex(corpus, "vec_id", "embedding").write.parquet(sqPath)
    val sqLoaded = spark.read.parquet(sqPath)
    for (q <- Seq(q1, q2))
      assertSameRows(
        Similarity.sqTopKFromIndex(sqLoaded, q, "vec_id", "embedding", k = 5),
        Similarity.sqTopK(corpus, q, "vec_id", "embedding", k = 5))

    // serving-path plan: the index scan feeds the probe join with no
    // corpus-side shuffle — the only hash exchange is the top-k agg
    val p = Similarity.ivfTopKFromIndex(loadedIdx, centroids, q1,
      "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("lshTopK prunes: candidate pairs well below the full cross product") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val nCand = Similarity.lshCandidateCount(corpus, queries,
      "vec_id", "embedding", bitsPerTable = 8, tables = 8)
    val full = corpus.count() * queries.count()
    assert(nCand < full / 2, s"candidates $nCand not < half of $full")
  }

  test("hardNegatives: nearest wrong-label only, never the own class") {
    import spark.implicits._
    val e = Seq(
      (1, 0, Array(1.0f, 0.0f)),   // query, label 0
      (10, 0, Array(0.99f, 0.1f)), // same label, nearest — must NOT appear
      (11, 1, Array(0.9f, 0.2f)),  // wrong label, near
      (12, 1, Array(0.0f, 1.0f)))  // wrong label, far
      .toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(
        corpus = e.filter(col("vec_id") >= 10),
        queries = e.filter(col("vec_id") < 10),
        "vec_id", "embedding", "label", k = 2)
      .orderBy("rank")
      .select(col("qid").cast("long"), col("nid").cast("long"),
        col("nlabel").cast("int"), col("rank").cast("int"))
      .as[(Long, Long, Int, Int)].collect().toSeq
    assert(out == Seq((1L, 11L, 1, 1), (1L, 12L, 1, 2)))
  }

  test("indexDriftGate: orthogonal drift flips the gate; a stationary delta does not") {
    val dim = 8
    val rnd = new scala.util.Random(7)
    // trained distribution: 4 tight clusters along axes e0..e3
    def trained(id: Long): (Long, Array[Float]) = {
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat * 0.05f)
      v((id % 4).toInt) = 1f
      (id, v)
    }
    // drifted distribution: a smooth ring through e4/e5 — a subspace
    // the centroids never saw — plus a SMALL trained-dim component
    // that pins each vector to cell id%4. Ring angle spacing is
    // 2π/100, so a query's true top-4 neighbors are ring-adjacent
    // (Δid = ±1, ±2 → always a DIFFERENT cell mod 4): cos(Δ1) ≈
    // .988 > cos(Δ2) ≈ .982 > cos(Δ4, same cell, +0.01 dim bonus) ≈
    // .969. The probed cell therefore contains only the query itself
    // → recall 1/5, deterministic. (Random noise instead of the
    // pinned component would couple similarity to assignment —
    // nearest neighbors would share the query's noise direction and
    // hence its cell, hiding the drift.)
    def drifted(id: Long): (Long, Array[Float]) = {
      val v = Array.fill(dim)(0f)
      v((id % 4).toInt) = 0.1f
      val theta = 2 * math.Pi * (id % 100) / 100.0
      v(4) = math.cos(theta).toFloat
      v(5) = math.sin(theta).toFloat
      (id, v)
    }
    val corpus = (100L until 400L).map(trained).toDF("vec_id", "embedding")
    val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding",
      nCentroids = 4, iters = 5)

    def gate(delta: org.apache.spark.sql.DataFrame) = {
      // the serving reality: the delta is ASSIGNED into the index with
      // the OLD centroids; the gate probes that index
      val all = corpus.unionByName(delta)
      val index = Similarity.ivfAssign(all, "vec_id", "embedding", centroids)
        .localCheckpoint(true)
      Similarity.indexDriftGate(all, delta, "vec_id", "embedding",
          k = 5, minRecall = 0.6, sampleN = 24) { q =>
        Similarity.ivfTopKFromIndex(index, centroids, q,
          "vec_id", "embedding", k = 5, nProbe = 1)
      }.head()
    }

    val stale = gate((500L until 600L).map(drifted).toDF("vec_id", "embedding"))
    assert(stale.getAs[Boolean]("stale"),
      s"drifted delta must trip the gate (recall=${stale.getAs[Double]("recall")})")
    assert(stale.getAs[Long]("n_queries") == 24)

    val fresh = gate((500L until 600L).map(trained).toDF("vec_id", "embedding"))
    assert(!fresh.getAs[Boolean]("stale"),
      s"stationary delta must pass (recall=${fresh.getAs[Double]("recall")})")
    assert(fresh.getAs[Double]("recall") > stale.getAs[Double]("recall"))

    // the loop the gate exists to close: stale=true ⇒ RETRAIN on the
    // current corpus, re-assign, and the same gate passes again —
    // with extra centroids the drifted ring gets cells of its own
    val delta = (500L until 600L).map(drifted).toDF("vec_id", "embedding")
    val all = corpus.unionByName(delta)
    val retrained = Similarity.trainCentroids(all, "vec_id", "embedding",
      nCentroids = 12, iters = 10)
    val index2 = Similarity.ivfAssign(all, "vec_id", "embedding", retrained)
      .localCheckpoint(true)
    val after = Similarity.indexDriftGate(all, delta, "vec_id", "embedding",
        k = 5, minRecall = 0.6, sampleN = 24) { q =>
      Similarity.ivfTopKFromIndex(index2, retrained, q,
        "vec_id", "embedding", k = 5, nProbe = 3)
    }.head()
    assert(!after.getAs[Boolean]("stale"),
      s"retraining must restore recall (got ${after.getAs[Double]("recall")})")
  }

  test("knnGraphDelta ≡ full knnGraphFromIndex rebuild on the maintained index") {
    // serving reality: centroids trained on the OLD corpus, the delta
    // ASSIGNED into the index with those centroids (maintain first,
    // probe second); the delta twin must reproduce the full rebuild
    // EXACTLY — new queries get lists, affected old queries re-rank,
    // untouched old queries pass through
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val old = e.filter(col("vec_id") % 7 =!= 0)
    val delta = e.filter(col("vec_id") % 7 === 0)
    val centroids = Similarity.trainCentroids(old, "vec_id", "embedding",
      nCentroids = 8, iters = 5)
    val oldIndex = Similarity.ivfAssign(old, "vec_id", "embedding", centroids)
      .localCheckpoint(true)
    val prior = Similarity.knnGraphFromIndex(oldIndex, centroids, old,
      "vec_id", "embedding", k = 5, nProbe = 4).localCheckpoint(true)
    val fullIndex = Similarity.ivfAssign(e, "vec_id", "embedding", centroids)
      .localCheckpoint(true)
    val got = Similarity.knnGraphDelta(fullIndex, centroids, prior,
        delta.select("vec_id"), k = 5, nProbe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    val want = Similarity.knnGraphFromIndex(fullIndex, centroids, e,
        "vec_id", "embedding", k = 5, nProbe = 4)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(got == want,
      s"delta-maintained graph drifted: +${(got -- want).take(5)} -${(want -- got).take(5)}")
    // the delta actually touched something (the parity is not vacuous)
    assert(prior.as[(Long, Long, Int, Double)].collect().toSet != want)
  }

  test("labelCentroids: hand-computed per-label per-dim means") {
    import spark.implicits._
    val e = Seq(
      (0, Array(1.0f, 0.0f)),
      (0, Array(3.0f, 2.0f)),
      (1, Array(-1.0f, 5.0f)))
      .toDF("label", "embedding")
    val out = Similarity.labelCentroids(e, "label", "embedding")
      .as[(Int, Int, Double, Long)].collect().toSet
    assert(out == Set(
      (0, 0, 2.0, 2L), (0, 1, 1.0, 2L),
      (1, 0, -1.0, 1L), (1, 1, 5.0, 1L)))
  }

  test("filtered IVF serving: guaranteed k, predicate honored, forced fallback ≡ brute") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val pred = col("label") === 3
    val nFiltered = corpus.filter(pred).count()
    val nq = queries.count()
    assert(nFiltered > 0 && nq > 0)
    val centroids = Similarity.trainCentroids(corpus, "vec_id", "embedding", 16)
    val index = Similarity.ivfAssign(corpus, "vec_id", "embedding",
      centroids, keepCols = Seq("label"))
    // nProbe=1 starves the probed cells on purpose: the shortfall
    // fallback must still deliver min(k, |filtered|) rows per query
    val out = Similarity.ivfTopKFilteredFromIndex(index, centroids, queries,
      "vec_id", "embedding", k = 5, predicate = pred, nProbe = 1)
      .localCheckpoint(true)
    val perQ = out.groupBy("qid").count().as[(Long, Long)].collect()
    assert(perQ.length == nq)
    perQ.foreach { case (_, n) => assert(n == math.min(5L, nFiltered)) }
    // every returned neighbor satisfies the predicate
    val wrong = out.join(corpus.select(col("vec_id").as("nid"), col("label")),
      Seq("nid")).filter(col("label") =!= 3).count()
    assert(wrong == 0)
    // minCandidates = ∞ forces every query down the exact fallback:
    // result must equal brute force over the filtered subset
    val forced = Similarity.ivfTopKFilteredFromIndex(index, centroids, queries,
      "vec_id", "embedding", k = 5, predicate = pred, nProbe = 1,
      minCandidates = Int.MaxValue)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus.filter(pred), queries,
      "vec_id", "embedding", 5)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(forced == brute)
  }

  test("filtered IVF-PQ serving: guaranteed shortlist + rerank parity on full sweep") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = e.filter(col("vec_id") >= 10)
    val queries = e.filter(col("vec_id") < 10)
    val pred = col("label") === 3
    val nFiltered = corpus.filter(pred).count()
    val (centroids, codebooks) = Similarity.trainIvfPq(
      corpus, "vec_id", "embedding", nCentroids = 8, m = 16, ksub = 16)
    val index = Similarity.ivfPqIndex(corpus, "vec_id", "embedding",
      centroids, codebooks, keepCols = Seq("label"))
    // oversample×k covers the whole filtered subset, so the forced
    // full-sweep shortlist IS the subset and exact rerank must equal
    // brute force over it
    val k = 5
    val oversample = math.max(2, (nFiltered / k + 1).toInt)
    val forced = Similarity.ivfPqTopKFilteredFromIndex(index, centroids,
      codebooks, queries, "vec_id", "embedding", k, predicate = pred,
      nProbe = 1, oversample = oversample, rerankWith = Some(corpus),
      minCandidates = Int.MaxValue)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(corpus.filter(pred), queries,
      "vec_id", "embedding", k)
      .select("qid", "nid", "rank").as[(Long, Long, Int)].collect().toSet
    assert(forced == brute)
    // and the adaptive path still honors the predicate end-to-end
    val out = Similarity.ivfPqTopKFilteredFromIndex(index, centroids,
      codebooks, queries, "vec_id", "embedding", k, predicate = pred,
      nProbe = 2)
    val wrong = out.join(corpus.select(col("vec_id").as("nid"), col("label")),
      Seq("nid")).filter(col("label") =!= 3).count()
    assert(wrong == 0)
  }

  test("rrfFuse: both-list docs outrank single-list docs; equal rrf ties by id") {
    val dense = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("qid", "nid", "rank")
    val sparse = Seq((1L, 11L, 1), (1L, 12L, 2), (2L, 5L, 1))
      .toDF("qid", "nid", "rank")
    val out = Similarity.rrfFuse(dense, sparse, k = 3)
      .orderBy("qid", "rank").as[(Long, Long, Int, Double)].collect().toSeq
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq(
      // q1: 11 in both lists (1/62 + 1/61) beats either single-list doc
      (1L, 11L, 1, r6(1.0 / 62 + 1.0 / 61)),
      (1L, 10L, 2, r6(1.0 / 61)),
      (1L, 12L, 3, r6(1.0 / 62)),
      // q2: both rank-1 singles score 1/61 exactly → min id first
      (2L, 5L, 1, r6(1.0 / 61)),
      (2L, 20L, 2, r6(1.0 / 61))))
  }

  test("knnGraphBrute: self excluded, exact neighbor order on a constructed corpus") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.8f, 0.6f)),
      (3L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val g = Similarity.knnGraphBrute(corpus, "vec_id", "embedding", k = 2)
      .orderBy("qid", "rank").as[(Long, Long, Int, Double)].collect().toSeq
    assert(g.forall(r => r._1 != r._2), "self-edges must be excluded")
    // node 1 (east): nearest 2 (cos .8) then 3 (cos 0); node 2: 1
    // (.8) then 3 (.6); node 3 (north): 2 (.6) then 1 (0)
    assert(g.map(r => (r._1, r._2, r._3)) == Seq(
      (1L, 2L, 1), (1L, 3L, 2),
      (2L, 1L, 1), (2L, 3L, 2),
      (3L, 2L, 1), (3L, 1L, 2)))
  }

  test("knnGraph with nProbe = nCentroids is exactly the brute-force graph") {
    // probing every cell makes the candidate set the whole corpus, so
    // the cell-local plan must reproduce the exact graph edge-for-edge
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val brute = Similarity.knnGraphBrute(e, "vec_id", "embedding", 5)
      .as[(Long, Long, Int, Double)].collect().toSet
    val full = Similarity.knnGraph(e, "vec_id", "embedding", 5,
        nCentroids = 8, nProbe = 8)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(full == brute)
  }

  test("knnGraph recall vs brute force on the embeddings fixture") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val brute = Similarity.knnGraphBrute(e, "vec_id", "embedding", 5)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    val approx = Similarity.knnGraph(e, "vec_id", "embedding", 5,
        nCentroids = 16, nProbe = 8)
      .select("qid", "nid").as[(Long, Long)].collect().toSet
    // every node still gets a full k edges — probing can degrade
    // WHICH neighbors surface, never HOW MANY
    assert(approx.size == brute.size)
    val recall = (brute & approx).size.toDouble / brute.size
    assert(recall >= 0.7, s"knn graph recall $recall < 0.7")
  }

  test("knnClusteringCoeff: hand-computed triangle/pendant graph") {
    // triangle 1-2-3 plus pendant 4 hanging off 3 (directed kNN edges)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("qid", "nid")
    val got = Similarity.knnClusteringCoeff(edges)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, 2L, 1L, 1.0),              // both neighbors connected
      (2L, 2L, 1L, 1.0),
      (3L, 3L, 1L, 0.3333),           // 1 of 3 neighbor pairs
      (4L, 1L, 0L, 0.0)))             // degree < 2 → 0 by contract
  }

  test("kCore: cascade peel on a hand-built graph; local ≡ distributed") {
    // triangle 1-2-3 (the 2-core) + path 3-4-5 (peels outside-in)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("qid", "nid")
    val local = Similarity.kCore(edges, k = 2, rounds = 5)
      .as[(Long, Boolean, Int)].collect().sortBy(_._1)
    assert(local.toSeq == Seq(
      (1L, true, 0), (2L, true, 0), (3L, true, 0),
      (4L, false, 2),   // degree 2 until 5 peels, then cascades
      (5L, false, 1)))  // degree 1 from the start
    val dist = Similarity.kCore(edges, k = 2, rounds = 5,
        localIterThreshold = 0L)
      .as[(Long, Boolean, Int)].collect().sortBy(_._1)
    assert(dist.toSeq == local.toSeq)
  }

  test("knnClusteringCoeff: reciprocal edges collapse; maxDegree drops hubs only") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("qid", "nid")
    val base = Similarity.knnClusteringCoeff(edges)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // (1,2)+(2,1) are ONE undirected edge — same graph as above
    assert(base.map(r => (r._1, r._2)).toSeq ==
      Seq((1L, 2L), (2L, 2L), (3L, 3L), (4L, 1L)))
    val capped = Similarity.knnClusteringCoeff(edges, maxDegree = Some(2L))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // hub 3 (degree 3) dropped from the OUTPUT; survivors' triangles
    // still verify against the FULL edge set, so 1 and 2 keep coeff 1
    assert(capped.toSeq == Seq(
      (1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0), (4L, 1L, 0L, 0.0)))
  }
}
