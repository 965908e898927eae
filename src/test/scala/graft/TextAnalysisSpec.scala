package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** Text-analysis ops (ext tier): tokenization edge cases, language-ID
  * determinism, quality gates, fingerprint semantics.
  */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokens drops empties from repeated spaces") {
    val toks = Seq("a  b   c").toDF("text")
      .select(TextAnalysis.tokens(col("text"))).as[Seq[String]].head()
    assert(toks == Seq("a", "b", "c"))
  }

  test("regexTokenCount splits letters / digits / punct the BPE-ish way") {
    val n = Seq("abc123, def!").toDF("text")
      .select(TextAnalysis.regexTokenCount(col("text"))).as[Int].head()
    // abc | 123 | , | def | !
    assert(n == 5)
  }

  test("langId votes by lexicon and ties break to first-listed") {
    val df = Seq(
      "the cat and the dog of it", // en
      "el perro y la casa de que", // es
      "der hund und die katze ist", // de
      "le chien et la maison dans que les", // fr
      "xyzzy qwerty") // no votes at all → tie → first listed (en)
      .toDF("text")
    val langs = df.select(TextAnalysis.langId(col("text"))).as[String].collect()
    assert(langs.toSeq == Seq("en", "es", "de", "fr", "en"))
  }

  test("qualityFeatures gates short / low-signal docs") {
    val out = TextAnalysis.qualityFeatures(
      Seq(
        (1L, "the quick brown fox jumps over the lazy dog again and again today"),
        (2L, "no stop words here"), // <5 words → not quality
        (3L, "zz qq ww ee rr tt yy uu ii oo pp aa ss dd ff")) // no stopwords
        .toDF("doc_id", "text"))
    val rows = out.select("doc_id", "is_quality").as[(Long, Boolean)]
      .collect().toMap
    assert(rows(1L) && !rows(2L) && !rows(3L))
  }

  test("fingerprints: tokenset md5 is order- and dup-insensitive; exact is not") {
    val fp = TextAnalysis.fingerprints(
      Seq((1L, "b a c"), (2L, "a b c c"), (3L, "a b d")).toDF("doc_id", "text"))
      .select("doc_id", "md5_exact", "md5_tokenset")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(fp(0)._3 == fp(1)._3) // same token set
    assert(fp(0)._2 != fp(1)._2) // different bytes
    assert(fp(0)._3 != fp(2)._3) // different token set
  }

  test("winnowing: shared substring ≥ k+w-1 chars ⇒ shared fingerprint") {
    import graft.functions.WinnowFingerprint
    val k = 8; val w = 4
    val common = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"other start $common and another end"),
      (3L, "completely unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), WinnowFingerprint.column(col("text"), k, w).as("fps"))
    val fps = df.as[(Long, Seq[Long])].collect().toMap
    assert((fps(1L).toSet & fps(2L).toSet).nonEmpty) // guarantee holds
    assert(fps(1L) == fps(1L).sorted && fps(1L).distinct == fps(1L))
    // short doc: no full window → empty
    val short = Seq((9L, "tiny")).toDF("doc_id", "text")
      .select(WinnowFingerprint.column(col("text"), k, w)).as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("simhash is deterministic and identical for identical texts") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "alpha beta delta")).toDF("doc_id", "text")
    val h = TextAnalysis.simhash(df, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L))
    assert(h.values.forall(_ >= 0)) // 60-bit, fits positive Long
  }

  test("diversityFeatures: entropy and repetition behave on known cases") {
    val df = Seq(
      (1L, "aaaaaaaa"),              // one symbol → entropy 0
      (2L, "abababab"),              // two equal symbols → ln 2
      (3L, "the the the the"),       // repeated token → low distinct ratio
      (4L, "all words fully unique"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.diversityFeatures(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Double]("char_entropy") == 0.0)
    assert(math.abs(out(2L).getAs[Double]("char_entropy") - math.log(2)) < 1e-3)
    assert(out(3L).getAs[Double]("distinct_token_ratio") == 0.25)
    assert(out(4L).getAs[Double]("distinct_token_ratio") == 1.0)
    // entropy orders repetitive < diverse
    assert(out(1L).getAs[Double]("char_entropy") <
      out(4L).getAs[Double]("char_entropy"))
  }

  test("null and empty texts flow through without crashing") {
    // real corpora contain both; the contract is null-in → null-out
    // for scalar features, absent-from-output for exploding ops
    val df = Seq((1L, Some("real words here")), (2L, Some("")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val feats = TextAnalysis.qualityFeatures(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(feats(1L).getAs[Boolean]("is_quality") == false
      || feats(1L).getAs[Boolean]("is_quality")) // evaluates, no throw
    assert(feats(3L).isNullAt(feats(3L).fieldIndex("word_count")))
    // exploding ops: empty/null docs simply contribute no rows
    val sh = graft.operators.Dedup.shingles(df, "doc_id", "text", 3)
      .select("doc").as[Long].collect().toSet
    assert(sh == Set(1L))
    val norm = df.select(TextAnalysis.normalize(col("text"))).collect()
    assert(norm(1).getString(0) == "" && norm(2).isNullAt(0))
    // tfidf ignores docs with no tokens but counts them in the corpus
    val tf = TextAnalysis.tfidf(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(tf == Set(1L))
  }

  test("repetitionSignals: hand-computed runs, mass ties, empty docs") {
    val df = Seq(
      (1L, "a a a b"),       // words a×3 b×1; grams "a a"×2 "a b"×1
      (2L, "x y"),           // no repetition at all
      (3L, ""),              // empty → all zeros
      (4L, "aa aa b b b"))   // top2 by MASS is "b b"×2=6 > "aa aa"×1=5
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("word_count"), r.getAs[Long]("top_word_n"),
         r.getAs[Long]("dup_word_n"), r.getAs[Long]("top2_n"),
         r.getAs[Long]("top2_mass"), r.getAs[Long]("dup2_n"),
         r.getAs[Long]("dup2_mass"))).toMap
    assert(out(1L) == ((4L, 3L, 3L, 2L, 6L, 2L, 6L)))
    assert(out(2L) == ((2L, 1L, 0L, 1L, 3L, 0L, 0L)))
    assert(out(3L) == ((0L, 0L, 0L, 0L, 0L, 0L, 0L)))
    assert(out(4L) == ((5L, 3L, 5L, 2L, 6L, 2L, 6L)))
  }

  test("redactPii replaces emails, IPs, phones and counts matches") {
    val df = Seq("mail me at bob@x.co or +1 555-0199, host 192.168.0.1 thanks")
      .toDF("text")
    val (red, n) = df.select(TextAnalysis.redactPii(col("text")),
      TextAnalysis.piiCount(col("text"))).as[(String, Int)].head()
    assert(red == "mail me at <EMAIL> or <PHONE>, host <IP> thanks")
    assert(n == 3)
    // parenthesized and dotted phone formats are caught too
    val variants = Seq("call (555) 123-4567 or 555.123.4567 today")
      .toDF("text")
      .select(TextAnalysis.redactPii(col("text")),
        TextAnalysis.piiCount(col("text"))).as[(String, Int)].head()
    assert(variants._1 == "call <PHONE> or <PHONE> today", variants._1)
    assert(variants._2 == 2)
    // clean text passes through untouched, zero count
    val (clean, z) = Seq("nothing sensitive here 42")
      .toDF("text")
      .select(TextAnalysis.redactPii(col("text")),
        TextAnalysis.piiCount(col("text"))).as[(String, Int)].head()
    assert(clean == "nothing sensitive here 42" && z == 0)
  }

  test("chunk: overlapping windows with a short tail; empty docs dropped") {
    val df = Seq((1L, "a b c d e"), (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.chunk(df, "doc_id", "text",
        chunkSize = 3, stride = 2)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, String, Int)].collect().toSeq
    assert(out == Seq(
      (1L, 0, "a b c", 3),
      (1L, 1, "c d e", 3),
      (1L, 2, "e", 1)))
  }

  test("vocab: top-n by occurrence with doc frequency, ties by token") {
    val df = Seq(
      (1L, "b b a c"),
      (2L, "b a"),
      (3L, "c")).toDF("doc_id", "text")
    // occurrences: b=3, a=2, c=2 (a and c tie → 'a' ranks first)
    val out = TextAnalysis.vocab(df, "doc_id", "text", topN = 2)
      .as[(String, Long, Long, Int)].collect().toSeq
    assert(out == Seq(("b", 3L, 2L, 1), ("a", 2L, 2L, 2)))
  }

  test("new ops: null and empty texts flow through without crashing") {
    val df = Seq((1L, "real content here today"), (2L, ""), (3L, null))
      .toDF("doc_id", "text")
    // chunk / lmScore / spanDedup drop token-less docs instead of erroring
    assert(TextAnalysis.chunk(df, "doc_id", "text", 4, 4)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(TextAnalysis.lmScore(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    assert(graft.operators.Dedup.spanDedup(df, "doc_id", "text", 2)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
    // redaction preserves null, counts null as no matches downstream
    val red = df.select(col("doc_id"), TextAnalysis.redactPii(col("text")))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!red(1L) && !red(2L) && red(3L))
    // vocab and drift simply see no tokens from docs 2 and 3
    assert(TextAnalysis.vocab(df, "doc_id", "text", 10).count() == 4)
    val drift = TextAnalysis.distributionDrift(
      df.withColumn("source", lit("s")), "source", "text")
    assert(drift.count() == 1)
  }

  test("distributionDrift: identical groups → 0, disjoint vocab → high") {
    // two groups with IDENTICAL token distributions → jsd 0 for both
    val same = Seq(("a", "x y"), ("b", "x y")).toDF("source", "text")
    val jsdSame = TextAnalysis.distributionDrift(same, "source", "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(jsdSame("a") == 0.0 && jsdSame("b") == 0.0)

    // disjoint vocabularies: hand-compute group a's JSD vs the mixture
    val disj = Seq(("a", "x x"), ("b", "y y")).toDF("source", "text")
    val out = TextAnalysis.distributionDrift(disj, "source", "text")
      .as[(String, Long, Double)].collect().map(r => r._1 -> r).toMap
    // P_a = {x:1}, Q = {x:.5, y:.5}
    // term_x = .5*(1*ln(1/.75) + .5*ln(.5/.75)); term_y = .5*(.5*ln(2))
    val expected = 0.5 * (math.log(1 / 0.75) + 0.5 * math.log(0.5 / 0.75)) +
      0.5 * 0.5 * math.log(2)
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a")._2 == 2L)
    assert(out("a")._3 == r4(expected), s"got ${out("a")._3}, want ${r4(expected)}")
    assert(out("b")._3 == r4(expected)) // symmetric corpus
    // JSD is bounded by ln 2
    assert(out.values.forall(_._3 <= math.log(2) + 1e-9))
  }

  test("bigram model: persisted train/score ≡ one-shot; unseen bigrams floor at 1/V") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents").limit(200)
    val oneShot = TextAnalysis.lmScore(docs, "doc_id", "text")
    val model = TextAnalysis.trainBigramModel(docs, "doc_id", "text")
    // round-trip the model through parquet (the store deployment)
    val dir = java.nio.file.Files.createTempDirectory("lm").toString
    model.bigramCounts.write.parquet(s"$dir/cb")
    model.contextCounts.write.parquet(s"$dir/cg")
    model.vocab.write.parquet(s"$dir/v")
    val loaded = TextAnalysis.BigramModel(
      spark.read.parquet(s"$dir/cb"),
      spark.read.parquet(s"$dir/cg"),
      spark.read.parquet(s"$dir/v"))
    assertSameRows(
      TextAnalysis.scoreWithBigramModel(loaded, docs, "doc_id", "text"),
      oneShot)
    // a doc whose bigrams the model never saw: every pair scores the
    // uniform floor k/(k·V) = 1/V
    val v = model.vocab.collect().head.getLong(0)
    val alien = Seq((99L, "zzq wwx zzq")).toDF("doc_id", "text")
    val ppl = TextAnalysis.scoreWithBigramModel(loaded, alien,
        "doc_id", "text")
      .select("ppl").as[Double].head()
    def r4(x: Double) = BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(ppl == r4(v.toDouble))
  }

  test("encode maps tokens to vocab ranks with unk fallback") {
    val docs = Seq((1L, "b a zz b"), (2L, "")).toDF("doc_id", "text")
    val vocab = Seq(("b", 1), ("a", 2)).toDF("token", "rank")
    val out = TextAnalysis.encode(docs, vocab, "doc_id", "text")
      .as[(Long, Seq[Int], Int)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, Seq(1, 2, -1, 1), 4),
      (2L, Seq(), 0)))
    intercept[IllegalArgumentException] {
      TextAnalysis.encode(docs, vocab.limit(0), "doc_id", "text")
    }
  }

  test("lmScore matches the hand-computed smoothed bigram model") {
    val df = Seq((1L, "a b a b"), (2L, "a b"), (3L, "a"))
      .toDF("doc_id", "text")
    // bigrams: doc1 (a,b)(b,a)(a,b), doc2 (a,b) → cb(a,b)=3, cb(b,a)=1
    // contexts: cg(a)=3, cg(b)=1; vocab V=2; k=0.5
    val pAB = (3 + 0.5) / (3 + 0.5 * 2) // 0.875
    val pBA = (1 + 0.5) / (1 + 0.5 * 2) // 0.75
    val out = TextAnalysis.lmScore(df, "doc_id", "text", addK = 0.5)
      .orderBy("doc_id").as[(Long, Long, Double, Double)].collect().toSeq
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val avg1 = (2 * math.log(pAB) + math.log(pBA)) / 3
    assert(out.map(t => (t._1, t._2)) == Seq((1L, 3L), (2L, 1L)))
    assert(out(0)._3 == r4(avg1) && out(0)._4 == r4(math.exp(-avg1)))
    assert(out(1)._3 == r4(math.log(pAB)) &&
      out(1)._4 == r4(math.exp(-math.log(pAB))))
  }

  test("bm25 matches the hand-computed Okapi formula") {
    val df = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // N=2, Σdl=5; df(a)=2, df(b)=df(c)=1
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def score(c: Long, df: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (2 - df + 0.5) / (df + 0.5))
      val lenNorm = dl.toDouble * 2 / 5
      r4(idf * (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * lenNorm)))
    }
    val out = TextAnalysis.bm25(df, "doc_id", "text")
      .orderBy("doc_id", "token").as[(Long, String, Double)].collect().toSeq
    assert(out == Seq(
      (1L, "a", score(2, 2, 3)), (1L, "b", score(1, 1, 3)),
      (2L, "a", score(1, 2, 2)), (2L, "c", score(1, 1, 2))))
  }

  test("bm25Search sums corpus-side weights over query terms and ranks by id-broken score") {
    val corpus = Seq((10L, "a a b"), (11L, "a c")).toDF("doc_id", "text")
    val query = Seq((1L, "b c c")).toDF("doc_id", "text")
    // weights come from the corpus alone (N=2, Σdl=5); query terms {b, c}
    // hit one doc each, so each score is a single bm25 weight:
    // doc 11 ("c", dl=2) outscores doc 10 ("b", dl=3) on length norm
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def w(c: Long, df: Long, dl: Long): Double = {
      val idf = math.log(1.0 + (2 - df + 0.5) / (df + 0.5))
      r4(idf * (c * 2.2) / (c + 1.2 * (0.25 + 0.75 * (dl.toDouble * 2 / 5))))
    }
    val out = TextAnalysis.bm25Search(corpus, query, "doc_id", "text", k = 2)
      .as[(Long, Long, Int, Double)].collect().toSeq.sortBy(_._3)
    assert(out == Seq((1L, 11L, 1, w(1, 1, 2)), (1L, 10L, 2, w(1, 1, 3))))
  }

  test("bm25 counts an empty doc toward N; its index keeps a presence row, no weights") {
    // doc 4 is empty: a presence row in the index, no weight rows, but
    // it counts toward N
    val df = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b c a"), (4L, ""))
      .toDF("doc_id", "text")
    val direct = TextAnalysis.bm25(df, "doc_id", "text")
      .orderBy("doc_id", "token").as[(Long, String, Double)].collect().toSeq
    assert(TextAnalysis.lexicalIndex(df, "doc_id", "text")
      .filter($"doc_id" === 4L).as[(Long, String, Long, Int)].collect()
      .toSeq == Seq((4L, null, 0L, 0)))
    assert(direct.forall(_._1 != 4L))
    // N=4 (not 3) flows into every idf; pin one weight to prove it:
    // doc 2 token "c": df=2, tf=1, dl=2, Σdl=9
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val idf = math.log(1.0 + (4 - 2 + 0.5) / (2 + 0.5))
    val w = r4(idf * 2.2 / (1 + 1.2 * (0.25 + 0.75 * (2.0 * 4 / 9))))
    assert(direct.find(t => t._1 == 2L && t._2 == "c").map(_._3).contains(w))
  }

  test("pmiPairs reports only pairs at minCount with exact PMI") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // pairs: (a,b)=3, (b,a)=1, (b,c)=1 → total 5; margins c1(a)=3, c2(b)=3
    val out = TextAnalysis.pmiPairs(df, "doc_id", "text", minCount = 2L)
      .as[(String, String, Long, Double)].collect().toSeq
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out == Seq(("a", "b", 3L, r4(math.log(3.0 * 5 / (3.0 * 3))))))
  }

  test("lmScoreKN matches the hand-computed interpolated KN formula") {
    // "a b a b a c": cb ab=2 ba=2 ac=1; cg a=3 b=2; N1+ fwd a=2 b=1;
    // N1+ back a=1 b=1 c=1; T=3; d=0.75
    //   P(b|a) = (1.25 + .75*2*(1/3)) / 3
    //   P(a|b) = (1.25 + .75*1*(1/3)) / 2
    //   P(c|a) = (0.25 + .75*2*(1/3)) / 3
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val got = TextAnalysis.lmScoreKN(df, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect().head
    val t = 3.0
    val pba = (1.25 + 0.75 * 2 * (1 / t)) / 3
    val pab = (1.25 + 0.75 * 1 * (1 / t)) / 2
    val pca = (0.25 + 0.75 * 2 * (1 / t)) / 3
    val avg = (2 * math.log(pba) + 2 * math.log(pab) + math.log(pca)) / 5
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == ((1L, 5L, r4(avg), r4(math.exp(-avg)))))
  }

  test("lmScoreKN: repeated bigrams outscore singletons; scores stay finite") {
    val corpus = Seq((1L, "a b a b a b a b"), (2L, "a z"), (3L, "q r"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lmScoreKN(corpus, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(out.values.forall(v => !v.isNaN && !v.isInfinite))
    assert(out(1L) > out(2L) && out(1L) > out(3L),
      s"the fluent doc's repeated pairs must outscore singletons, got $out")
  }

  test("KN periodic model: unseen pairs fall back, unknown contexts floor — no ln(0)") {
    val train = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val model = TextAnalysis.trainKNModel(train, "doc_id", "text")
    // doc 10: seen pairs; doc 11: seen context a, unseen pair (a,q);
    // doc 12: fully unknown context — must hit the minProb floor
    val batch = Seq((10L, "a b"), (11L, "a q"), (12L, "x y"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.scoreWithKNModel(model, batch, "doc_id", "text")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(got.values.forall(v => !v.isNaN && !v.isInfinite))
    // (a,q): cb=0 -> pure continuation mass of q = 0 -> floors too;
    // (a,b): full KN probability — strictly the best
    assert(got(10L) > got(11L), s"seen must beat unseen, got $got")
    def r4(v: Double) =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(12L) == r4(math.log(1e-10)),
      "an unknown context scores exactly the minProb floor")
  }

  test("textrank one iteration matches the hand-computed update") {
    // "a b a b a c": symmetric weights w(a,b)=4, w(a,c)=1 →
    // wdeg a=5, b=4, c=1; from r0=1:
    //   r1(a) = 0.15 + 0.85*(1/4*4 + 1/1*1) = 1.85
    //   r1(b) = 0.15 + 0.85*(1/5*4)         = 0.83
    //   r1(c) = 0.15 + 0.85*(1/5*1)         = 0.32
    val df = Seq((1L, "a b a b a c")).toDF("doc_id", "text")
    val got = TextAnalysis.textrank(df, "doc_id", "text",
      minWeight = 1L, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 1.85, "b" -> 0.83, "c" -> 0.32))
  }

  test("textrank: the hub outranks its satellites; reruns agree at 4dp") {
    // star graph: h co-occurs with each of s1..s4; satellites only
    // ever touch the hub
    val df = Seq((1L, "h s1 h s1 h s1"), (2L, "h s2 h s2 h s2"),
      (3L, "h s3 h s3 h s3"), (4L, "h s4 h s4 h s4"))
      .toDF("doc_id", "text")
    val ranks = TextAnalysis.textrank(df, "doc_id", "text", minWeight = 1L)
      .as[(String, Double)].collect().toMap
    assert(ranks("h") > ranks("s1") * 2,
      s"hub must dominate the satellites, got $ranks")
    val again = TextAnalysis.textrank(df, "doc_id", "text", minWeight = 1L)
      .as[(String, Double)].collect().toMap
    assert(ranks == again, "4dp ranks must be rerun-stable")
  }

  test("textrank: driver-local and distributed iteration paths agree at 4dp") {
    val df = Seq((1L, "h s1 h s1 h s1"), (2L, "h s2 h s2 h s2"),
      (3L, "a b a b a c d a")).toDF("doc_id", "text")
    val local = TextAnalysis.textrank(df, "doc_id", "text", minWeight = 1L)
      .as[(String, Double)].collect().toMap
    val dist = TextAnalysis.textrank(df, "doc_id", "text", minWeight = 1L,
      localIterThreshold = 0L)
      .as[(String, Double)].collect().toMap
    assert(local == dist)
  }

  test("textrank prunes edges below minWeight (and their orphaned nodes)") {
    val df = Seq((1L, "a b a b a b x y")).toDF("doc_id", "text")
    // w(a,b)=5 survives minWeight=3; w(b,x)=w(x,y)=1 do not
    val nodes = TextAnalysis.textrank(df, "doc_id", "text", minWeight = 3L)
      .select("token").as[String].collect().toSet
    assert(nodes == Set("a", "b"))
  }

  test("hashEmbed: unit-norm per doc, counts conserved, hash-collision fold") {
    val df = Seq((1L, "a a b"), (2L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.hashEmbed(df, "doc_id", "text", buckets = 16)
      .as[(Long, Int, Long, Double)].collect()
    rows.foreach { case (_, b, tf, w) =>
      assert(b >= 0 && b < 16); assert(tf >= 1); assert(w > 0 && w <= 1)
    }
    // token counts conserved per doc
    val tfSum = rows.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    assert(tfSum == Map(1L -> 3L, 2L -> 1L))
    // L2 norm ≈ 1 per doc (4dp rounding slack per surviving bucket)
    rows.groupBy(_._1).values.foreach { docRows =>
      val n2 = docRows.map(r => r._4 * r._4).sum
      assert(math.abs(n2 - 1.0) < 1e-3, s"norm² = $n2")
    }
    // single-token doc: exactly one bucket at weight 1
    val solo = rows.filter(_._1 == 2L)
    assert(solo.length == 1 && solo.head._4 == 1.0)

    // fixture: same invariants at corpus scale, and determinism
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val a = TextAnalysis.hashEmbed(docs, "doc_id", "text").collect().toSet
    val b = TextAnalysis.hashEmbed(docs, "doc_id", "text").collect().toSet
    assert(a == b)
    assert(a.map(_.getInt(1)).forall(x => x >= 0 && x < 256))
  }

  test("hashEmbedDense scatters the long rows into unit vectors") {
    val df = Seq((1L, "a a b"), (2L, "")).toDF("doc_id", "text")
    val dense = TextAnalysis.hashEmbedDense(df, "doc_id", "text", buckets = 16)
      .as[(Long, Seq[Double])].collect().toMap
    // the empty doc has no tokens — excluded, not a zero vector
    assert(dense.keySet == Set(1L))
    val v = dense(1L)
    assert(v.length == 16)
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-3)
    // entries match the long form exactly
    val long = TextAnalysis.hashEmbed(df, "doc_id", "text", buckets = 16)
      .as[(Long, Int, Long, Double)].collect()
    long.foreach { case (_, bucket, _, w) => assert(v(bucket) == w) }
  }

  test("corpusTopics: docs with shared vocabulary cluster together; invariants hold") {
    // two planted vocabularies: docs 0-9 talk fruit, 10-19 talk metal
    val fruit = "apple banana cherry plum grape"
    val metal = "iron copper zinc nickel cobalt"
    val docs = ((0 until 10).map(i => (i.toLong, s"$fruit token$i")) ++
      (10 until 20).map(i => (i.toLong, s"$metal token$i"))).toDF("doc_id", "text")
    val topics = TextAnalysis.corpusTopics(docs, "doc_id", "text",
      nTopics = 2, topTerms = 3, buckets = 64)
      .as[(Int, Long, String, Int, Double)].collect()
    // both topics populated, sizes sum to 20
    val sizes = topics.groupBy(_._1).map { case (t, rows) => t -> rows.head._2 }
    assert(sizes.values.sum == 20L, s"sizes: $sizes")
    assert(sizes.size == 2)
    // the two planted vocabularies do not mix within a topic's terms
    val byTopic = topics.groupBy(_._1).map { case (t, rows) =>
      t -> rows.map(_._3).toSet
    }
    val fruitSet = fruit.split(" ").toSet
    val metalSet = metal.split(" ").toSet
    byTopic.values.foreach { terms =>
      assert(!(terms.exists(fruitSet) && terms.exists(metalSet)),
        s"mixed topic terms: $terms")
    }
    // ranks contiguous and scores non-increasing
    topics.groupBy(_._1).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(hi, lo) => assert(hi._5 >= lo._5)
        case _ =>
      }
    }
  }
}
