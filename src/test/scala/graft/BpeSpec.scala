package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Packing, TextAnalysis}
import graft.sources.Tables

/** Subword tokenization: BPE merge learning on the classic golden
  * corpus, the greedy longest-match matcher, round-trip and
  * determinism properties, model persistence, and the packing/chunk
  * rewire onto piece counts.
  */
class BpeSpec extends SparkSpec {
  import spark.implicits._

  test("golden corpus: merges follow pair frequencies with deterministic ties") {
    // the textbook BPE example: hug×10, pug×5, pun×12, bun×4, hugs×5
    // (each word repeated count times so the histogram IS the counts)
    val words = Seq("hug" -> 10, "pug" -> 5, "pun" -> 12, "bun" -> 4, "hugs" -> 5)
    val docs = words.flatMap { case (w, n) => Seq.fill(n)(w) }
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val model = Bpe.train(docs, "text", numMerges = 3)
    // pair counts round 1: (u,g)=10+5+5=20, (u,n)=12+4=16, (h,u)=15,
    // (p,u)=17, (g,s)=5, (b,u)=4 → merge 1 = u+g
    // round 2: pug's (p,u) became (p,ug), so (p,u)=12; (u,n)=16 wins
    // round 3: (h,ug)=15 beats (p,un)=12 → merge 3 = h+ug
    assert(model.merges.take(3).map(m => (m.left, m.right)) ==
      Seq(("u", "g"), ("u", "n"), ("h", "ug")))
    // vocab = sorted chars then merge products, ids contiguous from 1
    assert(model.vocab.startsWith(Seq("b", "g", "h", "n", "p", "s", "u")))
    assert(model.vocab.drop(7) == Seq("ug", "un", "hug"))
    val ids = model.vocabDf(spark).select("id").as[Int].collect().sorted
    assert(ids.toSeq == (1 to model.vocab.size))
  }

  test("training is deterministic: same corpus → identical merges twice") {
    val docs = Tables.load(spark, sfDir, "documents")
    val a = Bpe.train(docs, "text", numMerges = 40)
    val b = Bpe.train(docs, "text", numMerges = 40)
    assert(a.merges == b.merges && a.vocab == b.vocab)
    assert(a.merges.nonEmpty, "corpus must yield at least one merge")
  }

  test("greedy matcher: longest match wins, unseen chars fall back to unk") {
    val docs = Seq((1L, "hugs pun hux 7!")).toDF("doc_id", "text")
    val vocab = Seq("b", "g", "h", "n", "p", "s", "u", "ug", "pu", "un", "hugs")
    val out = docs.select(
        Bpe.pieces(col("text"), vocab, maxPieceLen = 4).as("p"))
      .as[Seq[String]].head()
    // "hugs" matches whole (longest), "pun" → pu+n, "hux" → h+u+x(unk),
    // pre-tokenizer splits "7!" into digit run + punct, both unseen
    assert(out == Seq("hugs", "pu", "n", "h", "u", "x", "7", "!"))
    // and ids: unseen pieces map to unkId through encodePieces
    val vdf = vocab.zipWithIndex.map { case (t, i) => (t, i + 1) }
      .toDF("token", "id")
    val enc = Bpe.encodePieces(docs, vdf, "doc_id", "text")
    assert(enc.filter(col("token_id") === -1).select("piece")
      .as[String].collect().toSet == Set("x", "7", "!"))
    assert(enc.count() == 8)
    assert(enc.select("pos").as[Int].collect().sorted.toSeq == (1 to 8))
    // unseen NON-BMP char: the fallback must emit the whole code point
    // (advancing by UTF-16 units would cut the surrogate pair into two
    // invalid lone-surrogate pieces and break the round-trip)
    val emoji = new String(Character.toChars(0x1F600))
    val astral = Seq((2L, s"hugs$emoji")).toDF("doc_id", "text")
    val ap = astral.select(Bpe.pieces(col("text"), vocab, 4).as("p"))
      .as[Seq[String]].head()
    assert(ap == Seq("hugs", emoji), s"got $ap")
  }

  test("round-trip: pieces concatenate back to the pre-tokenized words on the training corpus") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = Bpe.train(docs, "text", numMerges = 120)
    val p = Bpe.pieces(col("text"), model.vocab, model.maxPieceLen)
    val w = Bpe.preTokens(col("text"))
    val bad = docs.filter(array_join(p, "") =!= array_join(w, "")).count()
    assert(bad == 0, s"$bad docs fail encode∘concat round-trip")
    // no unk on the training corpus: every char was seen → every piece in vocab
    val vocabArr = array(model.vocab.map(lit): _*)
    val unk = docs.filter(
      size(filter(p, x => not(array_contains(vocabArr, x)))) > 0).count()
    assert(unk == 0)
    // merges compress: strictly fewer pieces than characters
    val r = docs.agg(
      sum(size(p).cast("long")), sum(length(array_join(w, "")).cast("long"))).head()
    assert(r.getLong(0) < r.getLong(1),
      s"pieces ${r.getLong(0)} must be < chars ${r.getLong(1)}")
  }

  test("model persists and reloads identically through the analysis store") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = Bpe.train(docs, "text", numMerges = 30)
    val root = Files.createTempDirectory("bpe").resolve("model").toString
    Bpe.saveModel(spark, model, root)
    val back = Bpe.loadModel(spark, root)
    assert(back == model)
    // encode through the reloaded model matches the original
    assertSameRows(
      Bpe.encodeWithModel(back, docs.limit(50), "doc_id", "text"),
      Bpe.encodeWithModel(model, docs.limit(50), "doc_id", "text"))
  }

  test("piece-budgeted packing: counts are subword pieces") {
    val docs = Tables.load(spark, sfDir, "documents")
    val model = Bpe.train(docs, "text", numMerges = 60)
    val count: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => Bpe.pieceCount(t, model.vocab, model.maxPieceLen)
    val full = Packing.packSequences(docs, "doc_id", "text",
      budget = 128, tokenCount = count)
    // n_tokens is the piece count, not the word count
    val one = docs.filter(col("doc_id") === 1)
    val nPieces = one.select(size(
      Bpe.pieces(col("text"), model.vocab, model.maxPieceLen))).head().getInt(0)
    assert(full.filter(col("doc_id") === 1).select("n_tokens")
      .head().getInt(0) == nPieces)
  }

  test("chunking by pieces: windows count subword tokens") {
    val docs = Seq((1L, "hugs hugs hugs hugs")).toDF("doc_id", "text")
    val vocab = Seq("h", "u", "g", "s", "hugs")
    val out = TextAnalysis.chunk(docs, "doc_id", "text",
        chunkSize = 3, stride = 3,
        tokensOf = t => Bpe.pieces(t, vocab, 4))
      .orderBy("chunk_id")
      .select("chunk_text", "n_tokens").as[(String, Int)].collect().toSeq
    // 4 one-piece words → windows of 3 then 1
    assert(out == Seq(("hugs hugs hugs", 3), ("hugs", 1)))
  }

  test("greedy longest-match agrees with canonical merge-replay on the training corpus") {
    // the engine encodes by greedy longest-match against the final
    // vocab (deterministic, single-pass, oracle-replayable); canonical
    // BPE replays merges in rank order. The two CAN diverge on
    // adversarial vocabularies — this pins that on the actual corpus
    // they agree everywhere, so the documented divergence is
    // theoretical, not operative.
    val docs = Tables.load(spark, sfDir, "documents")
    val model = Bpe.train(docs, "text", numMerges = 120)
    def replay(word: String): Seq[String] = {
      var syms = word.codePoints().toArray
        .map(cp => new String(Character.toChars(cp))).toSeq
      for (m <- model.merges) {
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == m.left && syms(j + 1) == m.right) {
            out += m.token; j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.toSeq
      }
      syms
    }
    val words = docs
      .select(explode(Bpe.preTokens(col("text"))).as("w"))
      .distinct().as[String].collect()
    assert(words.nonEmpty)
    val engine = Seq(words.mkString(" ")).toDF("text")
      .select(Bpe.pieces(col("text"), model.vocab, model.maxPieceLen))
      .as[Seq[String]].head()
    val replayed = words.toSeq.flatMap(replay)
    assert(engine == replayed,
      s"greedy vs merge-replay diverged: ${engine.take(20)} vs ${replayed.take(20)}")
  }

  test("fertility rises on a drifted corpus — the frozen-vocab retrain signal") {
    val docs = Tables.load(spark, sfDir, "documents")
    val vocab = Bpe.subwordVocab(docs, "text", topK = 200, maxPieceLen = 6)
      .select("token").as[String].collect().toSeq
    val home = Bpe.fertility(docs, "text", vocab, 6).head()
    // in-distribution text: the frequent whole words sit in the vocab,
    // so most words encode as a single piece
    assert(home.getAs[Double]("single_piece_ratio") > 0.5, home.toString)
    // drifted corpus: vocabulary the tokenizer never saw → words
    // shatter into pieces and fertility rises
    val drifted = Seq((1L, "xylophone quixotic jazzberry phantasm"),
      (2L, "kryptonite mozzarella viaduct")).toDF("doc_id", "text")
    val away = Bpe.fertility(drifted, "text", vocab, 6).head()
    assert(away.getAs[Double]("fertility") > home.getAs[Double]("fertility"),
      s"drifted ${away.getAs[Double]("fertility")} vs home ${home.getAs[Double]("fertility")}")
  }

  test("subword vocab: ids are the (count desc, token) dense ranking") {
    val docs = Tables.load(spark, sfDir, "documents")
    val v = Bpe.subwordVocab(docs, "text", topK = 50, maxPieceLen = 6)
      .orderBy("id").collect()
    assert(v.length == 50)
    assert(v.map(_.getInt(2)).toSeq == (1 to 50))
    val occ = v.map(_.getLong(1))
    assert(occ.sameElements(occ.sortBy(-_)), "n_occ must be non-increasing")
  }
}
