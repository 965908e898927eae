package graft

import org.apache.spark.sql.functions._

import graft.operators.Sampling
import graft.sources.Tables

/** Deterministic hash sampling: reproducibility, stability under
  * corpus growth, and per-stratum rate accuracy.
  */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  test("deterministic: same sample every run, rate near the fraction") {
    val docs = Tables.load(spark, sfDir, "documents")
    val s1 = Sampling.deterministic(docs, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.deterministic(docs, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2)
    val rate = s1.size.toDouble / docs.count()
    assert(math.abs(rate - 0.2) < 0.1, s"rate $rate far from 0.2")
  }

  test("stable under growth: old rows keep their verdict when rows arrive") {
    val docs = Seq.tabulate(300)(i => (i.toLong, "x")).toDF("id", "v")
    val grown = Seq.tabulate(600)(i => (i.toLong, "x")).toDF("id", "v")
    val before = Sampling.deterministic(docs, "id", 0.3)
      .select("id").as[Long].collect().toSet
    val after = Sampling.deterministic(grown, "id", 0.3)
      .select("id").as[Long].collect().toSet
    assert(after.filter(_ < 300) == before,
      "growing the corpus must not change old rows' sampling verdicts")
  }

  test("weighted: per-row keep probability follows the weight column") {
    val rows = (0 until 3000).map { i =>
      (i.toLong, if (i % 3 == 0) 0.0 else if (i % 3 == 1) 0.5 else 1.0)
    }
    val df = rows.toDF("id", "q")
    val kept = Sampling.weighted(df, "id", "q")
      .select("id", "q").as[(Long, Double)].collect()
    assert(!kept.exists(_._2 == 0.0))                  // weight 0 → never
    assert(kept.count(_._2 == 1.0) == 1000)            // weight 1 → always
    val half = kept.count(_._2 == 0.5) / 1000.0
    assert(math.abs(half - 0.5) < 0.1, s"half-weight rate $half")
    // deterministic rerun
    val again = Sampling.weighted(df, "id", "q").select("id").as[Long].collect()
    assert(again.toSet == kept.map(_._1).toSet)
    // out-of-range weights clamp instead of throwing
    val clamped = Sampling.weighted(
      Seq((1L, -3.0), (2L, 7.0)).toDF("id", "q"), "id", "q")
      .select("id").as[Long].collect().toSet
    assert(clamped == Set(2L))
  }

  test("stratified: per-stratum rates honor the fraction map") {
    val rows = (0 until 2000).map(i => (i.toLong, if (i % 4 == 0) "en" else "de"))
    val df = rows.toDF("id", "lang")
    val sampled = Sampling.stratified(df, "id", "lang",
      Map("en" -> 0.8), defaultFraction = 0.05)
    val byLang = sampled.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val enRate = byLang.getOrElse("en", 0L).toDouble / 500
    val deRate = byLang.getOrElse("de", 0L).toDouble / 1500
    assert(math.abs(enRate - 0.8) < 0.15, s"en rate $enRate")
    assert(math.abs(deRate - 0.05) < 0.05, s"de rate $deRate")
    // and it is the SAME rows on a rerun (no rand())
    val again = Sampling.stratified(df, "id", "lang",
      Map("en" -> 0.8), defaultFraction = 0.05)
    assert(sampled.select("id").as[Long].collect().toSet ==
      again.select("id").as[Long].collect().toSet)
  }

  test("shuffleShards: assignment is total, deterministic, and balanced") {
    val docs = Tables.load(spark, sfDir, "documents")
    val n = docs.count()
    val sharded = Sampling.shuffleShards(docs, "doc_id", "train1", 8)
    // total: every row lands in exactly one shard in [0, 8)
    assert(sharded.count() == n)
    val counts = sharded.groupBy("shard").count()
      .as[(Long, Long)].collect().toMap
    assert(counts.keySet.subsetOf((0L until 8L).toSet))
    // balanced: md5 uniformity keeps every shard within 2× of fair share
    assert(counts.values.forall(c => c > n / 16 && c < n / 4), counts.toString)
    // deterministic: same seed → same assignment; new seed → reshuffle
    val again = Sampling.shuffleShards(docs, "doc_id", "train1", 8)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    val first = sharded.select("doc_id", "shard")
      .as[(Long, Long)].collect().toMap
    assert(first == again)
    val epoch2 = Sampling.shuffleShards(docs, "doc_id", "train2", 8)
      .select("doc_id", "shard").as[(Long, Long)].collect().toMap
    assert(first != epoch2, "a new seed must reshuffle")
  }

  test("fixedPerStratum: exact n per stratum, seeded, deterministic") {
    val docs = Tables.load(spark, sfDir, "documents")
    val sampled = Sampling.fixedPerStratum(docs, "doc_id", "lang",
      n = 5, seed = "s1")
    val counts = sampled.groupBy("lang").count()
      .as[(String, Long)].collect().toMap
    val full = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    full.foreach { case (lang, total) =>
      assert(counts(lang) == math.min(5L, total),
        s"$lang: got ${counts(lang)} of $total")
    }
    // same seed reproduces the exact sample; a new seed redraws
    val again = Sampling.fixedPerStratum(docs, "doc_id", "lang", 5, "s1")
      .select("doc_id").as[Long].collect().toSet
    val other = Sampling.fixedPerStratum(docs, "doc_id", "lang", 5, "s2")
      .select("doc_id").as[Long].collect().toSet
    assert(again == sampled.select("doc_id").as[Long].collect().toSet)
    assert(other != again, "different seeds should redraw")
  }

  test("split: labels partition the corpus, are id-pure, and never move") {
    val docs = Tables.load(spark, sfDir, "documents")
    val splits = Sampling.split(docs, "doc_id",
      Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
    val byLabel = splits.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    val total = docs.count()
    assert(byLabel.keySet == Set("train", "valid", "test"))
    assert(byLabel.values.sum == total)
    assert(byLabel("train") > byLabel("valid") * 4,
      s"80/10 proportions implausible: $byLabel")
    // growth stability: the label of a doc is unchanged when the
    // corpus around it changes (pure function of the id)
    val subset = Sampling.split(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val fullMap = splits.select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    subset.foreach { case (id, label) => assert(fullMap(id) == label) }
    // degenerate and invalid configs
    intercept[IllegalArgumentException] {
      Sampling.split(docs, "doc_id", Seq("a" -> 0.9, "b" -> 0.2))
    }
  }

  test("oversample: integer copies + deterministic fractional draw, contiguous epochs") {
    val docs = Tables.load(spark, sfDir, "documents")
    val out = Sampling.oversample(docs, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.4))
    val bySrc = out.groupBy("source", "doc_id")
      .agg(count(lit(1)).as("copies"), max("epoch").as("maxe"),
        min("epoch").as("mine"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getInt(3), r.getInt(4)))
    // epochs are contiguous 0..copies-1 per doc
    bySrc.foreach { case (_, id, copies, maxe, mine) =>
      assert(mine == 0 && maxe == copies - 1, s"doc $id epochs broken") }
    // ×2.5: every doc at least twice, roughly half three times
    val src0 = bySrc.filter(_._1 == "src0").map(_._3)
    assert(src0.forall(c => c == 2 || c == 3))
    assert(src0.count(_ == 3) > 0 && src0.count(_ == 2) > 0)
    // ×0.4: a strict deterministic subset, single copy each
    val src1 = bySrc.filter(_._1 == "src1")
    assert(src1.forall(_._3 == 1))
    assert(src1.length > 0 && src1.length < 25)
    // default ×1: exactly one copy, epoch 0
    assert(bySrc.filter(_._1 == "src5").forall(t => t._3 == 1 && t._4 == 0))
    // pure function of the id: rerun is identical
    assert(Sampling.oversample(docs, "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 0.4))
      .select("doc_id", "epoch").as[(Long, Int)].collect().sorted.toSeq ==
      out.select("doc_id", "epoch").as[(Long, Int)].collect().sorted.toSeq)
  }

  test("tokenBudgetMix: quotas bound tokens greedily in key order; quota growth only appends") {
    val docs = Tables.load(spark, sfDir, "documents")
    def nTokens(rows: org.apache.spark.sql.DataFrame) = rows
      .select(col("source"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"))
      .groupBy("source").agg(sum("n").as("t"))
      .as[(String, Long)].collect().toMap
    val quotas = Map("src0" -> 300L, "src1" -> 120L, "src2" -> 100000L)
    val mix = Sampling.tokenBudgetMix(docs, "doc_id", "source", "text",
      quotas, seed = "mixA")
    val kept = nTokens(mix)
    // only quota'd sources appear, each within its budget
    assert(kept.keySet.subsetOf(quotas.keySet))
    kept.foreach { case (s, t) => assert(t <= quotas(s), s"$s: $t") }
    // src2's quota exceeds the whole source → everything ships
    assert(kept("src2") == nTokens(docs.filter(col("source") === "src2"))("src2"))
    // greedy tightness: the NEXT doc in key order would cross the quota
    val keptIds = mix.select("doc_id").as[Long].collect().toSet
    val next = docs.filter(col("source") === "src0")
      .filter(!col("doc_id").isin(keptIds.toSeq: _*))
      .select(col("doc_id"),
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long").as("n"),
        Sampling.shuffleKey(col("doc_id"), "mixA").as("k"))
      .orderBy("k").limit(1).as[(Long, Long, String)].collect()
    assert(next.nonEmpty &&
      kept("src0") + next.head._2 > quotas("src0"),
      "dropping the boundary doc must be necessary, not arbitrary")
    // determinism + the prefix property: a bigger quota only APPENDS
    assert(Sampling.tokenBudgetMix(docs, "doc_id", "source", "text",
      quotas, seed = "mixA").select("doc_id").as[Long].collect().toSet == keptIds)
    val grown = Sampling.tokenBudgetMix(docs, "doc_id", "source", "text",
      quotas + ("src0" -> 600L), seed = "mixA")
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds.subsetOf(grown) && grown.size > keptIds.size,
      "raising a quota must keep every previously shipped doc")
    // two-phase prefix sum ≡ the single-window reference
    val ref = docs
      .withColumn("__q", element_at(
        map(quotas.flatMap { case (s, q) => Seq(lit(s), lit(q)) }.toIndexedSeq: _*),
        col("source")))
      .filter(col("__q").isNotNull)
      .withColumn("__n",
        size(graft.operators.TextAnalysis.tokens(col("text"))).cast("long"))
      .withColumn("__cum", sum(col("__n")).over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(Sampling.shuffleKey(col("doc_id"), "mixA"))))
      .filter(col("__cum") <= col("__q"))
      .select("doc_id").as[Long].collect().toSet
    assert(keptIds == ref)
  }

  test("temperatureMix: alpha=1 is proportional, alpha<1 flattens toward uniform") {
    // two sources, 9:1 — alpha=1 splits the budget 9:1, alpha=0.5
    // splits by sqrt sizes 3:1
    val docs = ((1 to 90).map(i => (i.toLong, "big")) ++
      (91 to 100).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    def shares(alpha: Double): Map[String, Long] =
      Sampling.temperatureMix(docs, "doc_id", "source", alpha,
        budget = 40L, seed = "t0")
        .groupBy("source").count().as[(String, Long)].collect().toMap
    val prop = shares(1.0)
    assert(prop == Map("big" -> 36L, "small" -> 4L), s"got $prop")
    val sqrtMix = shares(0.5)
    // weights sqrt(90):sqrt(10) = 3:1 → floor(40*0.75)=30, floor(40*0.25)=10
    assert(sqrtMix == Map("big" -> 30L, "small" -> 10L), s"got $sqrtMix")
    // deterministic: the same seed reproduces the same doc set
    val a = Sampling.temperatureMix(docs, "doc_id", "source", 0.5, 40L, "t0")
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.temperatureMix(docs, "doc_id", "source", 0.5, 40L, "t0")
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("oversample: an epoch seed rotates the fractional-copy draw; default stays fixed") {
    val docs = (1L to 200L).map(id => (id, "src")).toDF("doc_id", "source")
    def extraCopyIds(seed: String) =
      Sampling.oversample(docs, "doc_id", "source", Map("src" -> 1.5),
        seed = seed)
        .filter(col("epoch") === 1).select("doc_id")
        .as[Long].collect().toSet
    val e0 = extraCopyIds("e0")
    assert(math.abs(e0.size - 100) < 40, s"~half draw the extra copy: ${e0.size}")
    assert(extraCopyIds("e0") == e0, "same seed reproduces")
    assert(extraCopyIds("e1") != e0,
      "a fresh epoch seed must rotate WHICH docs get the extra copy")
    // and the unseeded default is the historical pure-function-of-id draw
    assert(extraCopyIds("") ==
      Sampling.oversample(docs, "doc_id", "source", Map("src" -> 1.5))
        .filter(col("epoch") === 1).select("doc_id").as[Long].collect().toSet)
  }

  test("temperatureMix: NULL sources are excluded; empty input yields empty output") {
    val docs = Seq((1L, Some("a")), (2L, Some("a")), (3L, None))
      .toDF("doc_id", "source")
    val kept = Sampling.temperatureMix(docs, "doc_id", "source", 0.5,
      budget = 10L, seed = "t2").select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L), "null-source rows never ship")
    val empty = Sampling.temperatureMix(docs.limit(0), "doc_id", "source",
      0.5, 10L, "t2")
    assert(empty.count() == 0, "empty input degrades, not crashes")
  }

  test("temperatureMix caps an over-allocated source at its size") {
    // small is 4 docs but sqrt-temperature at a big budget allocates
    // it more — selection is without replacement, so it caps
    val docs = ((1 to 96).map(i => (i.toLong, "big")) ++
      (97 to 100).map(i => (i.toLong, "small"))).toDF("doc_id", "source")
    val got = Sampling.temperatureMix(docs, "doc_id", "source", 0.5,
      budget = 60L, seed = "t1")
      .groupBy("source").count().as[(String, Long)].collect().toMap
    assert(got("small") == 4L, s"capped at size, got $got")
    assert(got("big") <= 50L, "big keeps its own quota only")
  }

  test("splitLeakageGuard: quarantine ≡ cross-split restriction of the LSH pair set") {
    val docs = Tables.load(spark, sfDir, "documents")
    val fr = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val got = Sampling.splitLeakageGuard(docs, "doc_id", "text", fr)
      .as[(Long, String)].collect().toMap

    val spl = Sampling.split(docs, "doc_id", fr)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // consistency vs the SAME banded-LSH pair engine run corpus-wide
    // (exact-Jaccard equality holds wherever the bands recall the
    // pair — the property the sf0.01 driver oracle hash-checks, same
    // posture as dedup_minhash_lsh; at this 50-doc fixture a
    // near-threshold pair can legitimately miss the bands)
    val lshPairs = graft.operators.Dedup.minHashLsh(docs, "doc_id", "text",
        k = 3, threshold = 0.5)
      .select("da", "db").as[(Long, Long)].collect()
    val lshLeaked = lshPairs.flatMap { case (a, b) =>
      val (sa, sb) = (spl(a), spl(b))
      Seq(a).filter(_ => sa == "train" && sb != "train") ++
        Seq(b).filter(_ => sb == "train" && sa != "train")
    }.toSet
    assert(lshLeaked.nonEmpty, "fixture should contain cross-split near-dups")

    got.foreach { case (id, label) =>
      val want = if (lshLeaked(id)) "quarantined" else spl(id)
      assert(label == want, s"doc $id: got $label, want $want")
    }
    // quarantine only ever hits true exact-Jaccard leaks (soundness:
    // verification is exact even when candidate recall < 1)
    val exactPairs = graft.operators.Dedup.ngramJaccard(docs, "doc_id",
        "text", k = 3, threshold = 0.5)
      .select("da", "db").as[(Long, Long)].collect()
    val exactLeaked = exactPairs.flatMap { case (a, b) =>
      val (sa, sb) = (spl(a), spl(b))
      Seq(a).filter(_ => sa == "train" && sb != "train") ++
        Seq(b).filter(_ => sb == "train" && sa != "train")
    }.toSet
    val quarantined = got.collect { case (id, "quarantined") => id }.toSet
    assert(quarantined.subsetOf(exactLeaked), "no false quarantines")
    // holdout rows keep their labels verbatim
    spl.filter(_._2 != "train").foreach { case (id, l) =>
      assert(got(id) == l, s"holdout doc $id moved to ${got(id)}")
    }
  }

  test("crossJaccardPairs never emits a within-side pair") {
    val docs = Tables.load(spark, sfDir, "documents")
    val left = docs.filter(col("doc_id") % 2 === 0)
    val right = docs.filter(col("doc_id") % 2 =!= 0)
    val pairs = graft.operators.Dedup.crossJaccardPairs(
        left, right, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    pairs.foreach { case (da, db, j) =>
      assert(da % 2 == 0 && db % 2 != 0, s"pair ($da,$db) is not cross-side")
      assert(j >= 0.5)
    }
  }

  test("unimaxAllocation: caps respected, budget exhausted or all capped, waterfill uniform") {
    val docs = Seq(
      ("a", 100L), ("b", 1000L), ("c", 1000L), ("d", 5000L))
      .toDF("source", "toks")
    val got = Sampling.unimaxAllocation(docs, "source", col("toks"),
        budget = 3000.0, maxEpochs = 1.0)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    // ascending caps: a=100 (caps out), then b,c,d share (3000-100)/3
    assert(got("a")._4 == 100.0, s"a should cap at 100: ${got("a")}")
    val share = math.rint((3000.0 - 100.0) / 3 * 1e4) / 1e4
    Seq("b", "c", "d").foreach { d =>
      assert(math.abs(got(d)._4 - share) < 1e-9, s"$d: ${got(d)._4} vs $share")
    }
    // outputs are 4dp-rounded, so the sum re-adds n half-ulps of 1e-4
    assert(math.abs(got.values.map(_._4).sum - 3000.0) < 1e-3, "budget fully spent")
    got.values.foreach { case (_, tok, cap, alloc, epochs) =>
      assert(alloc <= cap + 1e-9, "never exceeds capacity")
      assert(math.abs(epochs - alloc / tok) < 1e-4)
    }

    // capacity-starved case: budget > total capacity → every domain caps
    val starved = Sampling.unimaxAllocation(docs, "source", col("toks"),
        budget = 100000.0, maxEpochs = 0.5)
      .as[(String, Long, Double, Double, Double)].collect()
    starved.foreach { r =>
      assert(r._4 == r._3, s"${r._1} should be capacity-bound: $r")
      assert(math.abs(r._5 - 0.5) < 1e-9, "all at maxEpochs")
    }
  }
}
