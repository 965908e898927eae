package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline
  * (ext tier, SURVEY §7.1): tokenization, quality scoring, language
  * ID, document fingerprinting. Everything is per-row/narrow — no
  * shuffle — so throughput scales linearly with executors at 100 TB.
  *
  * All expressions are engine-deterministic (integer arithmetic,
  * md5, sequential lambdas) so each op carries a DuckDB oracle.
  */
object TextAnalysis {

  /** Whitespace tokens, empties dropped (robust to double spaces). */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= lit(""))

  /** Feature-hashed document embedding in long format: (id, bucket,
    * tf, weight) — token counts folded into `buckets` md5-derived
    * slots, L2-normalized per doc. The model-free way to give every
    * document a dense-comparable vector (the hashing trick /
    * hashed-TF of DSIR and fastText): downstream cosine over the
    * long form is a (bucket-keyed) sparse dot, and the long format
    * is what the oracle hash-compares exactly (an array column would
    * ride on element-order ulp).
    *
    * Scale shape: one narrow explode, ONE (id, bucket) aggregation
    * with map-side combine (≤ `buckets` rows per doc survive), then
    * the per-doc norm as a window over the already-aggregated rows —
    * both exchanges are id-keyed and uniform; the bucket space is
    * fixed, so state never grows with vocabulary (the
    * [[Dsir]] discipline). md5-derived buckets, not xxhash64, so any
    * engine reproduces the embedding bit-for-bit.
    */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("__t"))
      .withColumn("bucket",
        pmod(conv(substring(md5(col("__t")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    tf.withColumn("__nrm", sqrt(sum(col("tf") * col("tf")).over(w)))
      .select(col(idCol), col("bucket").cast("int").as("bucket"),
        col("tf"), round(col("tf") / col("__nrm"), 4).as("weight"))
  }

  /** Dense form of [[hashEmbed]]: (id, vec array<double>[buckets]) —
    * the model-free document vector the clustering/ANN entry points
    * consume. The scatter from long rows to a fixed-width array is
    * one codegen'd [[graft.functions.ScatterDense]] fill per doc,
    * O(entries + buckets) — the previous map_from_entries +
    * transform/element_at form was interpreted with a linear map
    * scan per output slot, O(buckets · entries) per doc, and
    * dominated the corpus_topics training-sample pass (r13 bench
    * profile). Output is byte-identical (absent buckets are 0.0,
    * bucket ids are unique per doc from the groupBy upstream). Docs
    * with zero tokens have no long rows and are excluded (they carry
    * no signal to embed).
    */
  def hashEmbedDense(df: DataFrame, idCol: String, textCol: String,
      buckets: Int = 256): DataFrame =
    hashEmbed(df, idCol, textCol, buckets)
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("bucket"), col("weight"))).as("__e"))
      .select(col(idCol),
        graft.functions.ScatterDense.column(col("__e"), buckets)
          .as("vec"))

  /** Corpus topic map — the cartography summary next to
    * [[Similarity.knnCentrality]]: hashed doc vectors → spherical
    * k-means cells ([[Similarity.trainCentroids]], the IVF trainer)
    * → each topic labeled by its top TF-IDF terms. Output one row
    * per (topic, term): (topic, n_docs, term, rank, score).
    *
    * Scale shape: the embedding is [[hashEmbed]]'s two id-keyed
    * exchanges; training collects the usual driver-side sample;
    * assignment is a narrow codegen'd argmax per doc; the term
    * aggregation is one (topic, term) exchange whose output is
    * topics × vocab — vocab-bounded MODEL data (the textrank edge
    * posture), so the per-topic rank window over it is skew-safe.
    * k-means is iterative → rows-only driver check;
    * `corpus_topics_gate` pins the partition/rank/order invariants.
    */
  def corpusTopics(df: DataFrame, idCol: String, textCol: String,
      nTopics: Int = 8, topTerms: Int = 5, buckets: Int = 256): DataFrame = {
    // persisted because it feeds BOTH the training sample collect and
    // the assignment scan (the minHashIndex posture: the persist
    // serves one pass's branches; callers that materialize the topic
    // map should unpersist via spark.catalog.clearCache at batch end)
    val vecs = hashEmbedDense(df, idCol, textCol, buckets)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpusTopicsFromVecs(df, vecs, idCol, textCol, nTopics, topTerms)
  }

  /** [[corpusTopics]] over PREBUILT (id, vec) document vectors, for a
    * caller that already holds them ([[hashEmbed]] is doc-local, so
    * kept vectors only ever need a delta re-embedded; the topic map is
    * then a pure function of (vecs, docs) and byte-matches
    * [[corpusTopics]] on the same set).
    */
  def corpusTopicsFromVecs(df: DataFrame, vecs: DataFrame,
      idCol: String, textCol: String,
      nTopics: Int = 8, topTerms: Int = 5): DataFrame = {
    // the k-means training collect (over vecs) and tf-idf's eager
    // (doc, token) checkpoint (over raw text) are independent actions
    // over different inputs — overlap them (guide §2.6); the topic
    // fit itself is unchanged
    val (cents, terms) = graft.Par.two(
      Similarity.trainCentroids(vecs, idCol, "vec", nTopics),
      tfidf(df, idCol, textCol))
    val assigned = Similarity.ivfAssign(vecs, idCol, "vec", cents)
      .select(col("nid").as("doc_id"), col("cid"))
    val sizes = assigned.groupBy("cid").agg(count(lit(1)).as("n_docs"))
    val termScore = terms
      .join(assigned, Seq("doc_id"))
      .groupBy("cid", "token")
      .agg(round(sum(col("tfidf")), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cid").orderBy(desc("score"), asc("token"))
    termScore.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topTerms)
      .join(broadcast(sizes), Seq("cid"))
      .select(col("cid").cast("int").as("topic"), col("n_docs"),
        col("token").as("term"), col("rank").cast("int").as("rank"),
        col("score"))
  }

  /** Canonical dedup-preprocessing form: lowercase, strip
    * non-alphanumerics to spaces, collapse runs, trim — what the
    * dedup family should hash so cosmetic edits don't defeat
    * exact-dup detection. (Also exposed as the text_normalize query.)
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * other non-space chars — the pre-tokenizer shape BPE vocabularies
    * assume. Regex kept to the POSIX-safe subset both Java regex and
    * RE2 (DuckDB) treat identically.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), lit(0)))

  /** Small multilingual stopword lexicons for the language-ID
    * heuristic. Tiny on purpose: broadcast as literals into codegen,
    * no join.
    */
  val lexicons: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "it", "for", "on"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "es", "los", "por"),
    "de" -> Seq("der", "die", "und", "das", "ein", "ist", "mit", "zu", "den", "von"),
    "fr" -> Seq("le", "la", "de", "et", "un", "est", "dans", "que", "les", "pour"))

  private def lexScore(toks: Column, lex: Seq[String]): Column = {
    val arr = array(lex.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t)))
  }

  /** n-gram/stopword-count language ID: score each lexicon against the
    * token list, argmax with a fixed tie-break order (first listed
    * language wins ties — deterministic, mirrored in the oracle).
    * All lexicon scores come from ONE [[graft.functions.TokenStats]]
    * pass (the composed per-language filter() was interpreted and
    * re-walked the tokens per language).
    */
  def langId(text: Column): Column = {
    val stats = graft.functions.TokenStats.column(text, lexicons.map(_._2))
    val scores = lexicons.zipWithIndex.map { case ((lang, _), i) =>
      lang -> element_at(stats.getField("scores"), i + 1)
    }
    // argmax by cascade: pick the first language whose score >= all others
    scores.foldRight(lit(lexicons.last._1)) { case ((lang, s), elseCol) =>
      val geAll = scores.filter(_._1 != lang).map(o => s >= o._2)
        .reduceOption(_ && _).getOrElse(lit(true))
      when(geAll, lit(lang)).otherwise(elseCol)
    }
  }

  /** Quality-score feature block over a text column:
    * word/char counts, avg word length, punctuation ratio, stopword
    * ratio, plus a composite boolean gate — the usual pre-training
    * corpus filters. All ratios are exact-integer divisions → rounded
    * to 4dp, so the oracle hash-matches.
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    // one monolithic pass for token count / summed length / stopword
    // hits — the composed HOF form walked the tokens three times,
    // interpreted
    val stats = graft.functions.TokenStats.column(t, Seq(lexicons.head._2))
    val nChars = length(t)
    val nWords = stats.getField("n_words")
    val sumWordLen = stats.getField("sum_word_len")
    // counted inside the TokenStats walk — the regexp_replace form
    // rewrote (allocated) every document once per row just to take a
    // length, and was the dominant per-row cost of this pass at sf1
    val nPunct = stats.getField("n_punct")
    val nStop = element_at(stats.getField("scores"), 1)
    // empty docs exist in real corpora: zero denominators become NULL
    // (ratio undefined) instead of an ANSI DIVIDE_BY_ZERO that kills
    // the whole pass; NULL ratios make is_quality false via
    // three-valued AND (nWords >= 5 is already false)
    val safeWords = when(nWords === 0, lit(null)).otherwise(nWords)
    val safeChars = when(nChars === 0, lit(null)).otherwise(nChars)
    df.withColumn("n_chars_m", nChars)
      .withColumn("word_count", nWords)
      .withColumn("avg_word_len",
        round(sumWordLen.cast("double") / safeWords, 4))
      .withColumn("punct_ratio",
        round(nPunct.cast("double") / safeChars, 4))
      .withColumn("stopword_ratio",
        round(nStop.cast("double") / safeWords, 4))
      .withColumn("is_quality",
        coalesce(nWords >= 5 && nChars >= 40 &&
          (nStop.cast("double") / safeWords) >= 0.01, lit(false)))
  }

  /** Gopher-rule stopword list (Rae et al. 2021, appendix A1.1): a
    * doc must contain ≥2 of these to pass the "natural language"
    * heuristic. Distinct from the language-ID lexicons above — this
    * is the published 8-word filter set, kept verbatim.
    */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    * filter battery FineWeb/RefinedWeb variants start from), as one
    * narrow pass:
    *
    *  - word count within [minWords, maxWords] (published: 50..100k)
    *  - mean word length within [3, 10]
    *  - symbol-to-word ratio (`#` and `...` occurrences / words) < 0.1
    *  - fraction of words containing an alphabetic char > 0.8
    *  - ≥ 2 distinct hits from the 8-word [[gopherStopwords]] list
    *
    * Emits each rule's measurement plus the composite `gopher_pass`,
    * so downstream curation can re-threshold without recomputing.
    * Zero shuffles — scales linearly with executors at 100 TB, and
    * every measurement is integer/ratio arithmetic with a DuckDB
    * oracle (`text_gopher` query).
    */
  def gopherRules(df: DataFrame, textCol: String = "text",
      minWords: Int = 50, maxWords: Int = 100000,
      minStopHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val stats = graft.functions.TokenStats.column(t, Seq(gopherStopwords))
    val nWords = stats.getField("n_words")
    val sumWordLen = stats.getField("sum_word_len")
    val safeWords = when(nWords === 0, lit(null)).otherwise(nWords)
    val meanLen = sumWordLen.cast("double") / safeWords
    // symbol occurrences via length deltas (codegen'd string ops, no
    // regex): '#' count + '...' count (each ellipsis removes 3 chars)
    val nHash = length(t) - length(regexp_replace(t, "#", ""))
    val nEll = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3
    val symbolRatio = (nHash + nEll).cast("double") / safeWords
    val alphaWords = size(filter(toks, w => w.rlike("[a-zA-Z]")))
    val alphaRatio = alphaWords.cast("double") / safeWords
    // DISTINCT stopword hits: which of the 8 appear at all (the rule
    // is "contains at least 2 of", not an occurrence count)
    val stopHits = size(filter(
      array(gopherStopwords.map(lit): _*), w => array_contains(toks, w)))
    df.withColumn("word_count", nWords)
      .withColumn("mean_word_len", round(meanLen, 4))
      .withColumn("symbol_word_ratio", round(symbolRatio, 4))
      .withColumn("alpha_word_ratio", round(alphaRatio, 4))
      .withColumn("stop_hits", stopHits)
      .withColumn("gopher_pass",
        coalesce(nWords >= minWords && nWords <= maxWords &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          symbolRatio < 0.1 && alphaRatio > 0.8 && stopHits >= minStopHits,
          lit(false)))
  }

  /** Exact-content fingerprint (md5 of the raw text) plus an
    * order-insensitive one (md5 of the sorted distinct token set) —
    * the pair distinguishes "identical bytes" from "same bag of
    * words" duplicates.
    */
  def fingerprints(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    df.withColumn("md5_exact", md5(t))
      .withColumn("md5_tokenset",
        md5(array_join(array_sort(array_distinct(tokens(t))), " ")))
  }

  /** Repetition/diversity features — the filters that catch generated
    * or boilerplate text that length/punctuation gates miss:
    * character-level Shannon entropy (low = repetitive byte patterns)
    * and distinct-token ratio (low = the same words over and over).
    * One explode + one grouped agg per doc; entropy accumulates in a
    * deterministic per-character-count sum so the oracle reproduces
    * it exactly.
    */
  def diversityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val chars = df.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
    val charCounts = chars.groupBy("doc_id", "ch")
      .agg(count(lit(1)).as("c"))
    val entropy = charCounts.groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        sum(col("c") * log(col("c").cast("double"))).as("clogc"))
      // H = ln(n) − (Σ c·ln c)/n — one pass, no per-char division
      .select(col("doc_id"),
        round(log(col("n").cast("double")) - col("clogc") / col("n"), 4)
          .as("char_entropy"))
    val toks = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__toks"))
    val diversity = toks.select(col("doc_id"),
      when(size(col("__toks")) === 0, lit(null))
        .otherwise(round(size(array_distinct(col("__toks"))).cast("double") /
          size(col("__toks")), 4)).as("distinct_token_ratio"))
    diversity.join(entropy, Seq("doc_id"), "left")
  }

  /** Adjacent word 2-grams ("a b c" → ["a b", "b c"]); empty below
    * two words. Index-generated (not zip_with) because Spark pads
    * zip_with to the LONGER side with nulls.
    */
  private def wordBigrams(words: Column): Column =
    when(size(words) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(words) - 2),
        i => concat(element_at(words, i + 1), lit(" "),
          element_at(words, i + 2))))

  /** Run-length stats over a gram array, computed ROW-LOCALLY:
    * sort_array puts equal grams adjacent, then one aggregate() pass
    * folds each run into (top_n, top_mass, dup_n, dup_mass) where
    * mass = occurrences × gram length in chars. O(n log n) per row,
    * codegen'd, zero exchanges — the explode+groupBy formulation of
    * the same stats shuffles every gram instance of the corpus.
    */
  private def runStats(arr: Column): Column = {
    def fold(s: Column): Column = {
      val r = s.getField("run")
      val mass = r * length(s.getField("prev"))
      struct(
        greatest(s.getField("top_n"), r).as("top_n"),
        greatest(s.getField("top_mass"), mass).as("top_mass"),
        (s.getField("dup_n") + when(r > 1, r).otherwise(lit(0L))).as("dup_n"),
        (s.getField("dup_mass") + when(r > 1, mass).otherwise(lit(0L)))
          .as("dup_mass"))
    }
    def carry(prev: Column, run: Column, f: Column): Column =
      struct(prev.as("prev"), run.as("run"),
        f.getField("top_n").as("top_n"),
        f.getField("top_mass").as("top_mass"),
        f.getField("dup_n").as("dup_n"),
        f.getField("dup_mass").as("dup_mass"))
    val zero = struct(lit("").as("prev"), lit(0L).as("run"),
      lit(0L).as("top_n"), lit(0L).as("top_mass"),
      lit(0L).as("dup_n"), lit(0L).as("dup_mass"))
    aggregate(
      sort_array(arr),
      zero,
      (s, x) => when(x === s.getField("prev"),
          carry(s.getField("prev"), s.getField("run") + 1L, s))
        .otherwise(carry(x, lit(1L), fold(s))),
      s => fold(s))
  }

  /** Gopher-style repetition signals: most-frequent and duplicated
    * word / 2-gram occurrence counts and char masses. High dup_mass
    * relative to doc length flags boilerplate and generated loops
    * that entropy/length gates miss. Per-row narrow op (see
    * [[runStats]]) — linear scale-out, no shuffle. All-integer output
    * so the DuckDB oracle hash-matches exactly.
    */
  def repetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    withRepetitionSignals(df.select(col(idCol).as("doc_id"), col(textCol)),
        textCol)
      .select("doc_id", "word_count", "top_word_n", "dup_word_n",
        "top2_n", "top2_mass", "dup2_n", "dup2_mass")

  /** [[repetitionSignals]] appended to the caller's columns — the
    * in-pipeline form: a gate filters on the signals and drops them,
    * all in one narrow scan (no join back by id).
    */
  def withRepetitionSignals(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__ws", tokens(col(textCol)))
      .withColumn("__w", runStats(col("__ws")))
      .withColumn("__g", runStats(wordBigrams(col("__ws"))))
      .withColumn("word_count", size(col("__ws")).cast("long"))
      .withColumn("top_word_n", col("__w").getField("top_n"))
      .withColumn("dup_word_n", col("__w").getField("dup_n"))
      .withColumn("top2_n", col("__g").getField("top_n"))
      .withColumn("top2_mass", col("__g").getField("top_mass"))
      .withColumn("dup2_n", col("__g").getField("dup_n"))
      .withColumn("dup2_mass", col("__g").getField("dup_mass"))
      .drop("__ws", "__w", "__g")

  /** TF-IDF weights per (doc, token): tf = occurrences / doc length,
    * idf = ln(corpusDocs / docsContainingToken). The classic relevance
    * weight a training-data pipeline uses for keyword scoring and
    * cheap salient-term extraction.
    *
    * Plan shape at scale: one explode (narrow) → (doc, token) count
    * aggregation, checkpointed once (two consumers) → document
    * frequency as a vocab-sized `groupBy(token).count()` joined back
    * (AQE broadcasts it when small, splits it when a Zipf-head token
    * skews the shuffle), plus a scalar corpus count riding in as a
    * broadcast crossJoin (one row). df used to be a count window
    * partitioned by token — fewer exchanges on paper, but a stopword's
    * window partition is |docs| rows in ONE task and window partitions
    * are not AQE-splittable; the agg+join-back keeps the Zipf head
    * splittable, and the checkpoint stops Catalyst re-running the
    * explode+agg branch for the df side.
    */
  def tfidf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("__n"),
        explode(col("__toks")).as("token"))
    val tf = tok.groupBy("doc_id", "token")
      .agg(count(lit(1)).as("__c"), first(col("__n")).as("__n"))
      .localCheckpoint(true)
    val dfTab = tf.groupBy("token").agg(count(lit(1)).as("__df"))
    val withDf = tf.join(dfTab, Seq("token"))
    val nDocs = df.agg(countDistinct(col(idCol)).as("__nd"))
    withDf
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("token"),
        round((col("__c").cast("double") / col("__n")) *
          log(col("__nd").cast("double") / col("__df")), 4).as("tfidf"))
  }

  /** Okapi BM25 weights per (doc, token) — the relevance scoring a
    * retrieval-augmented pipeline runs over its corpus (and the
    * lexical half of hybrid dense+sparse search next to the ANN
    * tier): tf saturates at k1 and is normalized by doc length
    * against the corpus average (b), idf is the standard
    * ln(1 + (N − df + 0.5)/(df + 0.5)).
    *
    * Plan shape: identical to [[tfidf]] — one explode, one (doc,
    * token) hash aggregation, document frequency as a count window
    * over the same rows, and the two corpus scalars (doc count N and
    * summed doc length, an exact integer sum so avgdl is
    * deterministic) riding in as a one-row broadcast.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // corpus scalars from a NARROW second scan of the raw text (one
    // cheap column-pruned pass) — deriving them from the postings
    // subplan instead would rebuild the tokenize+explode+shuffle
    // subtree a second time (Catalyst can't reuse the exchange: the
    // two consumers prune different columns).
    val stats = df.agg(
      countDistinct(col(idCol)).as("__nd"),
      sum(size(tokens(col(textCol)))).as("__suml"))
    bm25Weights(lexicalIndex(df, idCol, textCol), stats, k1, b)
  }

  /** Sparse lexical retrieval: BM25 top-k corpus docs per query doc —
    * the keyword half of hybrid search ([[graft.operators.Similarity
    * .rrfFuse]] combines it with the dense ANN side). A query scores
    * each corpus doc by the sum of that doc's [[bm25]] weights over
    * the query's distinct terms; ties break by neighbor id.
    *
    * Plan shape at scale: the corpus-side weight table is the [[bm25]]
    * plan (2 exchanges); the query batch is broadcast (retrieval
    * batches are small next to a corpus), so matching is a map-side
    * join on token followed by one (query, doc) partial-sum shuffle of
    * MATCH rows only. The rank window partitions by query id —
    * batch-granular keys. The per-(doc,token) weights and the summed
    * score are rounded to 4dp so ranking compares engine-reproducible
    * values (cross-row double sums are order-sensitive in the last
    * ulp; the id tie-break then pins exact ties identically
    * everywhere).
    */
  def bm25Search(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, k: Int = 5,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    searchWeights(bm25(corpus, idCol, textCol, k1, b),
      queries, idCol, textCol, k)

  /** The match/rank half of [[bm25Search]]: `weights` is a [[bm25]]
    * weight table, `queries` the query docs.
    */
  def searchWeights(weights: DataFrame, queries: DataFrame,
      idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val qTerms = queries.select(col(idCol).as("qid"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    val scores = weights.join(broadcast(qTerms), Seq("token"))
      .groupBy("qid", "doc_id")
      .agg(round(sum(col("bm25")), 4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("score").desc, col("doc_id"))
    scores.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("doc_id").as("nid"), col("rank"), col("score"))
  }

  /** Lexical postings index — the state behind BM25 retrieval: one
    * row per (doc, token) with the raw term frequency and the doc's
    * token count, from which every corpus-level BM25 input — df per
    * token, N, Σdl — is an exact integer aggregate.
    *
    * One (doc, token) shuffle, map-side combine — the [[tfidf]] /
    * [[bm25]] tokenize+count subplan. A doc with zero tokens keeps a
    * PRESENCE row (doc_id, NULL, 0, 0) — explode_outer +
    * count(token) — so the indexed corpus's N matches the document
    * set exactly.
    */
  def lexicalIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), size(col("__toks")).as("__dl"),
        explode_outer(col("__toks")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(col("token")).as("tf"), first(col("__dl")).as("dl"))

  /** THE Okapi weight formula over a [[lexicalIndex]] and the corpus
    * scalars [[bm25]] derives.
    *
    * Plan shape: document frequency as a vocab-sized
    * `groupBy(token).count()` joined back onto the checkpointed
    * postings, corpus scalars as a one-row broadcast — the [[tfidf]]
    * shape (and the same Zipf-head rationale: a token-partitioned
    * count window puts a stopword's whole posting list in one
    * non-splittable window task).
    */
  private def bm25Weights(index: DataFrame, stats: DataFrame,
      k1: Double, b: Double): DataFrame = {
    val posts = index.filter(col("token").isNotNull).localCheckpoint(true)
    val dfTab = posts.groupBy("token").agg(count(lit(1)).as("__df"))
    val withDf = posts.join(dfTab, Seq("token"))
    // dl/avgdl expressed as (dl·N)/Σdl — one double divide, and the
    // oracle can mirror the exact operation order
    val lenNorm = col("dl").cast("double") * col("__nd") / col("__suml")
    val idf = log(lit(1.0) +
      (col("__nd") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)))
    withDf
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("token"),
        round(idf * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * lenNorm)), 4)
          .as("bm25"))
  }

  /** Pointwise mutual information over adjacent word pairs — the
    * collocation / phrase-mining statistic (e.g. merging "new york"
    * into one vocabulary unit before embedding training):
    * pmi = ln( p(w1,w2) / (p(w1·)·p(·w2)) ) with probabilities over
    * bigram instances, reported for pairs seen ≥ `minCount` times
    * (sparse pairs have unstable PMI — the classic cutoff).
    *
    * Plan shape at scale: ONE corpus-wide shuffle (the (w1,w2) count
    * aggregation, Zipf-head pairs absorbed by map-side combine),
    * checkpointed because four plan branches read it; everything
    * after operates on the distinct-bigram table (vocab²-bounded,
    * model-sized next to the corpus). The margin joins are
    * AQE-skew-splittable, unlike a count window partitioned by a
    * Zipf-head context word.
    */
  def pmiPairs(df: DataFrame, idCol: String, textCol: String,
      minCount: Long = 5L): DataFrame = {
    val counts = bigramRows(df, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
      .localCheckpoint(true)
    val c1 = counts.groupBy("w1").agg(sum(col("n_pair")).as("__c1"))
    val c2 = counts.groupBy("w2").agg(sum(col("n_pair")).as("__c2"))
    val total = counts.agg(sum(col("n_pair")).as("__n"))
    counts.filter(col("n_pair") >= minCount)
      .join(c1, Seq("w1")).join(c2, Seq("w2"))
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log((col("n_pair").cast("double") * col("__n")) /
          (col("__c1").cast("double") * col("__c2"))), 4).as("pmi"))
  }

  /** PII regexes, kept to the POSIX-safe subset Java regex and RE2
    * (DuckDB) treat identically — no lookaround, no backrefs, no \b.
    * Replacement order matters and is fixed: emails first (their
    * local/domain parts contain dots and digits that the other
    * patterns could chew on), then IPv4, then phone.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  // two alternatives: separator-delimited (+1 555-0199, 555.123.4567)
  // and parenthesized US-style ((555) 123-4567). Dot separators rank
  // AFTER the IPv4 replacement in redactPii, so dotted-quad IPs are
  // already gone when this pattern runs. Unseparated digit runs are
  // deliberately NOT matched — they collide with ids/quantities.
  val PhoneRe = "\\+?[0-9]{1,3}[-. ][0-9]{3}[-. ][0-9]{4}" +
    "|\\([0-9]{3}\\) ?[0-9]{3}[-. ][0-9]{4}"

  /** PII redaction — the compliance pass a training corpus runs before
    * anything else sees the text: emails, IPv4 addresses, and
    * international-format phone numbers become typed placeholder
    * tokens. Pure narrow regexp_replace chain (codegen'd, zero
    * shuffle) — linear scale-out like the rest of the text tier.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")

  /** Count of PII matches in a text (pre-redaction audit metric). */
  def piiCount(text: Column): Column =
    size(regexp_extract_all(text, lit(s"$EmailRe|$Ipv4Re|$PhoneRe"), lit(0)))

  /** Sliding-window chunking: split each doc into `chunkSize`-token
    * windows starting every `stride` tokens (stride < chunkSize ⇒
    * overlapping windows, the shape context-window training prep
    * uses). Emits (doc_id, chunk_id, chunk_text, n_tokens).
    *
    * Entirely narrow — tokenize, generate window starts, slice — so
    * it scales linearly; contrast [[Packing.packSequences]], which
    * needs a global prefix sum because its windows span documents.
    *
    * `tokensOf` swaps the tokenizer: pass [[Bpe.pieces]] (partially
    * applied) to window in subword pieces; `chunk_text` is then the
    * space-joined piece sequence (the id-level view — feed it through
    * [[Bpe.encodePieces]]'s vocab map for ids).
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkSize: Int = 64, stride: Int = 48,
      tokensOf: Column => Column = tokens): DataFrame = {
    require(chunkSize >= 1 && stride >= 1, "chunkSize and stride must be >= 1")
    val n = size(col("__toks"))
    val windows = transform(
      sequence(lit(0), floor((n - 1) / stride).cast("int")),
      i => struct(
        i.as("chunk_id"),
        array_join(slice(col("__toks"), i * stride + 1, lit(chunkSize)), " ")
          .as("chunk_text"),
        least(lit(chunkSize), n - i * stride).as("n_tokens")))
    df.select(col(idCol).as("doc_id"), tokensOf(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), explode(windows).as("__c"))
      .select(col("doc_id"), col("__c.chunk_id"), col("__c.chunk_text"),
        col("__c.n_tokens"))
  }

  /** Bigram-LM fluency scoring — the cheap perplexity-style quality
    * filter: train add-k-smoothed bigram probabilities on the corpus
    * itself, then score each doc by its mean log-probability and
    * perplexity (high ppl = text unlike the corpus; the classic
    * KenLM-filter shape with the n-gram model kept inside the engine).
    *
    * P(w2|w1) = (c(w1,w2) + k) / (c(w1·) + k·V), where c(w1·) counts
    * w1 as a bigram context and V is the unigram vocabulary.
    *
    * Plan shape at scale: two grouped counts over the corpus's bigram
    * instances (uniform-ish keys; Zipf-head bigrams are exactly what
    * AQE skew-join splits), V as a broadcast scalar, then the doc
    * bigrams join the model tables on (w1,w2)/(w1) and aggregate by
    * doc. Nothing is collected to the driver and the model never has
    * to fit anywhere whole — unlike an external-LM UDF, which would
    * ship the model to every executor.
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
      addK: Double = 0.5): DataFrame = {
    val model = trainBigramModel(df, idCol, textCol)
    scoreWithBigramModel(model, df, idCol, textCol, addK)
  }

  /** Interpolated Kneser–Ney bigram scoring — the smoothing KenLM
    * uses, and a strictly better fluency filter than [[lmScore]]'s
    * add-k: instead of giving every unseen pair the same uniform
    * mass, the discount `d` taken from seen bigrams is redistributed
    * by CONTINUATION probability (how many distinct contexts a word
    * follows — "francisco" is frequent but only ever follows "san",
    * so it gets little continuation mass):
    *
    *   P(w2|w1) = (max(c(w1,w2) − d, 0) + d · N1+(w1,·) · Pcont(w2))
    *              / c(w1),  Pcont(w2) = N1+(·,w2) / N1+(·,·)
    *
    * Every model term is an integer aggregate of the ONE bigram-count
    * table (type counts per context, per continuation, and the grand
    * type total as a driver scalar), so the plan stays the [[lmScore]]
    * shape: one corpus bigram pass, model-sized joins, one doc agg —
    * and the fixed formula shape is engine-exact, so the 4dp scores
    * hash-match an external SQL oracle.
    *
    * Scoring the training corpus, every pair is seen; a batch scored
    * against a PERIODIC model may bring unseen pairs — they fall back
    * to the continuation term alone (left joins, zero counts), and a
    * word never seen as a continuation floors at `minProb` instead of
    * ln(0).
    */
  def lmScoreKN(df: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75, minProb: Double = 1e-10): DataFrame =
    scoreWithKNModel(trainKNModel(df, idCol, textCol), df, idCol, textCol,
      discount, minProb)

  /** The persisted half of [[lmScoreKN]] — the KenLM periodic-filter
    * deployment shape (train once, score every incoming batch), the
    * KN twin of [[BigramModel]]. `contextStats` fuses the context
    * token count and the context TYPE count (one aggregation, one
    * scoring join); `typeTotal` is a single row.
    */
  final case class KNModel(
      bigramCounts: DataFrame,  // (w1, w2, __cb)
      contextStats: DataFrame,  // (w1, __cg, __fwd)
      contStats: DataFrame,     // (w2, __back)
      typeTotal: Double)        // N1+(·,·)

  def trainKNModel(df: DataFrame, idCol: String,
      textCol: String): KNModel = {
    val cb = bigramRows(df, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("__cb"))
      .localCheckpoint(true)
    KNModel(
      bigramCounts = cb,
      contextStats = cb.groupBy("w1").agg(sum(col("__cb")).as("__cg"),
        count(lit(1)).as("__fwd")),
      contStats = cb.groupBy("w2").agg(count(lit(1)).as("__back")),
      typeTotal = cb.count().toDouble)
  }

  /** Score a batch against a trained KN model. Pairs the model never
    * saw fall back to the continuation term alone (left joins, zero
    * counts); a word never seen as a continuation — or a fully
    * unknown context — floors at `minProb` instead of ln(0).
    */
  def scoreWithKNModel(model: KNModel, df: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75,
      minProb: Double = 1e-10): DataFrame = {
    require(discount > 0 && discount < 1,
      s"discount must be in (0,1), got $discount")
    val d = lit(discount)
    val p = (greatest(col("__cb") - d, lit(0.0)) +
      d * col("__fwd") * (col("__back") / lit(model.typeTotal))) / col("__cg")
    val ll = log(greatest(coalesce(p, lit(minProb)), lit(minProb)))
    bigramRows(df, idCol, textCol)
      .join(model.bigramCounts, Seq("w1", "w2"), "left")
      .join(model.contextStats, Seq("w1"), "left")
      .join(model.contStats, Seq("w2"), "left")
      .na.fill(0L, Seq("__cb", "__fwd", "__back"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(ll), 4).as("avg_logprob"),
        round(exp(-avg(ll)), 4).as("ppl"))
  }

  /** Bigram rows (doc_id, w1, w2) — narrow index-generated pairs. */
  private def bigramRows(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__toks"))
    base.filter(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("__toks")) - 2),
        i => struct(element_at(col("__toks"), i + 1).as("w1"),
          element_at(col("__toks"), i + 2).as("w2")))).as("__b"))
      .select(col("doc_id"), col("__b.w1"), col("__b.w2"))
  }

  /** The persisted half of [[lmScore]]: train the counts once, score
    * every incoming batch against them. All three frames are
    * analysis-store shaped (bigram counts ideally bucketed on (w1,w2)
    * so scoring joins bucket-locally — the same serving pattern as
    * the ANN and minhash indexes).
    */
  final case class BigramModel(
      bigramCounts: DataFrame,  // (w1, w2, cb)
      contextCounts: DataFrame, // (w1, cg)
      vocab: DataFrame)         // single row (v)

  def trainBigramModel(df: DataFrame, idCol: String,
      textCol: String): BigramModel = {
    val bigrams = bigramRows(df, idCol, textCol)
    BigramModel(
      bigramCounts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("cb")),
      contextCounts = bigrams.groupBy("w1").agg(count(lit(1)).as("cg")),
      vocab = df.select(explode(tokens(col(textCol))).as("w"))
        .agg(countDistinct(col("w")).as("v")))
  }

  /** Score a batch against a trained model. Bigrams UNSEEN by the
    * model (new docs bring new pairs) still score: smoothing gives
    * them (k)/(cg + k·V), and a fully-unknown context scores k/(k·V)
    * = 1/V — the uniform floor. That is what makes the periodic-train
    * / continuous-score deployment sound.
    */
  def scoreWithBigramModel(model: BigramModel, df: DataFrame,
      idCol: String, textCol: String, addK: Double = 0.5): DataFrame =
    bigramRows(df, idCol, textCol)
      .join(model.bigramCounts, Seq("w1", "w2"), "left")
      .join(model.contextCounts, Seq("w1"), "left")
      .crossJoin(broadcast(model.vocab))
      .select(col("doc_id"),
        log((coalesce(col("cb"), lit(0L)) + addK) /
          (coalesce(col("cg"), lit(0L)) + lit(addK) * col("v")))
          .as("__ll"))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        round(avg(col("__ll")), 4).as("avg_logprob"),
        round(exp(-avg(col("__ll"))), 4).as("ppl"))

  /** Vocabulary builder: the `topN` tokens by corpus occurrence count
    * (ties broken by token text), with document frequency — the seed
    * step of BPE/unigram vocab construction and the stopword-list
    * refresh a curation pipeline periodically re-derives.
    *
    * Plan shape: one explode + one hash aggregation by token (map-side
    * partial counts absorb Zipf-head tokens before the exchange), then
    * TakeOrdered for the top slice. The top slice is MODEL-sized (topN
    * rows), so the rank is assigned on the collected rows (the
    * sanctioned model-collect discipline) rather than via a global
    * row_number window — a window would emit WindowExec's "moving all
    * data to a single partition" warning, indistinguishable in logs
    * from a genuine corpus-sized single-partition sort.
    */
  def vocab(df: DataFrame, idCol: String, textCol: String,
      topN: Int = 100): DataFrame = {
    require(topN > 0, "topN must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val tok = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    val counts = tok.groupBy("token")
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("doc_id")).as("n_docs"))
    // collect-bound: limit(topN) — structurally ≤ topN rows
    val top = counts.orderBy(col("n_occ").desc, col("token")).limit(topN)
      .collect()
    top.zipWithIndex.map { case (r, i) =>
      (r.getString(0), r.getLong(1), r.getLong(2), i + 1)
    }.toSeq.toDF("token", "n_occ", "n_docs", "rank")
  }

  /** Distribution drift per group: Jensen–Shannon divergence between
    * each group's token distribution and the corpus-wide one — the
    * check a curation pipeline runs when a new source (or a new crawl
    * of an old one) lands: high JSD = the source's language no longer
    * looks like the corpus (format change, spam injection, scraper
    * breakage).
    *
    * JSD(P‖Q) = ½ Σ p·ln(p/m) + ½ Σ q·ln(q/m), m=(p+q)/2 — bounded
    * [0, ln 2], symmetric, defined even where a group lacks tokens.
    *
    * Plan shape: token counts by (group, token) — one uniform
    * exchange of the corpus's tokens with map-side combine — then the
    * term grid is groups × vocab (MODEL-sized: both factors bounded;
    * cap the vocab with [[vocab]] first if a raw 100 TB vocabulary is
    * too wide) and one tiny aggregation by group. The corpus total
    * rides in as a broadcast scalar.
    *
    * Note: calling this MATERIALIZES the token counts eagerly (the
    * checkpoint that stops four plan branches re-exploding the
    * corpus); the model-sized blocks live until the returned frame is
    * GC'd, so long-lived monitors should drop references between
    * drops rather than accumulate them.
    */
  def distributionDrift(df: DataFrame, groupCol: String,
      textCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("grp"),
      explode(tokens(col(textCol))).as("token"))
    // materialize the (group, token) counts ONCE: they feed four plan
    // branches (group totals, token totals, the grid join-back, the
    // corpus scalar) and each would otherwise re-explode the corpus's
    // tokens; the counts table itself is groups × vocab — model-sized
    val counts = tok.groupBy("grp", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val tokTotals = counts.groupBy("token").agg(sum(col("c")).as("ct"))
    val grpTotals = counts.groupBy("grp").agg(sum(col("c")).as("ng"))
    val total = counts.agg(sum(col("c")).as("n"))
    val grid = grpTotals.crossJoin(tokTotals)
      .join(counts, Seq("grp", "token"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(total))
    val p = col("c").cast("double") / col("ng")
    val q = col("ct").cast("double") / col("n")
    val m = (p + q) / 2
    val term = (when(col("c") > 0, p * log(p / m)).otherwise(lit(0.0)) +
      q * log(q / m)) * 0.5
    grid.select(col("grp"), col("ng"), term.as("__t"))
      .groupBy("grp")
      .agg(first(col("ng")).as("n_tokens"),
        round(sum(col("__t")), 4).as("jsd"))
      .select(col("grp").as(groupCol), col("n_tokens"), col("jsd"))
  }

  /** Encode: map each doc's tokens to vocabulary ids — the step
    * between curation and packing in a training-data pipeline. Tokens
    * absent from the vocab become `unkId`.
    *
    * The vocab rides in as a DataFrame (token, rank) — typically
    * [[vocab]]'s output or a store table — and is collected to a
    * literal map ONLY because a vocabulary is model-sized by
    * definition (the same bounded-artifact rule as IVF centroids and
    * bloom bytes); the encode itself is then a narrow codegen'd
    * map-lookup transform, zero exchanges, linear scale-out. The
    * join-based alternative (explode → join vocab → re-collect) pays
    * a corpus-wide shuffle for no benefit at any vocab size that fits
    * a broadcast.
    */
  def encode(df: DataFrame, vocabDf: DataFrame, idCol: String,
      textCol: String, unkId: Int = -1): DataFrame = {
    val entries = ModelCollect.bounded(
        vocabDf.select(col("token"), col("rank").cast("int")),
        ModelCollect.MaxModelRows, "encode vocabulary")
      .map(r => r.getString(0) -> r.getInt(1))
    require(entries.nonEmpty, "encode needs a non-empty vocabulary")
    val vocabMap = map(entries.flatMap { case (t, r) =>
      Seq(lit(t), lit(r)) }.toIndexedSeq: _*)
    df.select(col(idCol).as("doc_id"),
        tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"),
        transform(col("__toks"),
          t => coalesce(element_at(vocabMap, t), lit(unkId)))
          .as("token_ids"),
        size(col("__toks")).as("n_tokens"))
  }

  /** 60-bit token hash shared by SimHash and the oracle: the top 15
    * hex chars of md5 — reproducible in any engine, unlike
    * murmur/xxhash which are Spark-internal. Positive (fits BIGINT).
    */
  def tokenHash60(w: Column): Column =
    conv(substring(md5(w), 1, 15), 16, 10).cast("long")

  /** Second md5 half (hex chars 17–31) as a 60-bit long. Paired with
    * [[tokenHash60]] where a single 60-bit key's birthday collisions
    * would be FALSE POSITIVES rather than tolerable noise (substring
    * dedup's count>1 predicate): two int64 columns give 120 bits —
    * ~10^13 windows at 100 TB collide with probability ~n²/2^121 ≈
    * 4·10⁻¹¹ — while the shuffle key stays fixed-width integers.
    * SimHash keeps the single half: it is collision-tolerant by
    * construction (one colliding token barely moves 60 bit-sums).
    */
  def tokenHash60b(w: Column): Column =
    conv(substring(md5(w), 17, 15), 16, 10).cast("long")

  val SimhashBits = 60

  /** SimHash over the distinct token set: per bit j, sum ±1 across
    * token hashes' bit j; bit j of the output is 1 iff the sum is
    * positive. One explode + one grouped aggregate with 60 sum
    * columns — a single shuffle of (doc, token-hash) pairs, fully
    * codegen'd.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val hv = tokenHash60(col("__w")).as("__hv")
    val exploded = df
      .select(col(idCol), explode(array_distinct(tokens(col(textCol)))).as("__w"))
      .select(col(idCol), hv)
    val bitSums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("__hv"), j).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"__b$j")
    }
    val combined = (0 until SimhashBits).map { j =>
      when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    exploded.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), combined.as("simhash"))
  }

  /** Exact heavy hitters over an item stream, routed through a
    * Misra–Gries sketch ([[graft.functions.MisraGriesAggregator]]):
    * items whose frequency exceeds `minFreqBp` basis points of the
    * stream, with their EXACT counts.
    *
    * Two passes, neither of which shuffles by item cardinality:
    * 1. sketch pass — the MG aggregator combines map-side, so the
    *    exchange carries ≤ k counters per partition (not one row per
    *    distinct item; n-gram cardinality at 100 TB makes a plain
    *    `groupBy` exchange corpus-sized). The stream total rides in
    *    the same aggregation.
    * 2. rerank pass — only the ≤ k sketch survivors (a guaranteed
    *    superset of every item above N/(k+1): enforced by the
    *    `require` below) are exact-counted; the candidate filter is a
    *    codegen'd literal set probe, so the shuffle carries ≤ k
    *    distinct keys with map-side combine.
    *
    * The sketch's own contents depend on merge order, but the final
    * answer is the deterministic exact set {item : count·10⁴ >
    * minFreqBp·N} — hash-verifiable against a plain SQL oracle.
    */
  def heavyItems(items: DataFrame, itemCol: String, k: Int,
      minFreqBp: Int): DataFrame = {
    require(minFreqBp >= 1 && minFreqBp <= 10000,
      s"minFreqBp must be in [1, 10000], got $minFreqBp")
    require(minFreqBp.toLong * (k + 1) >= 10000L,
      s"superset guarantee needs k+1 >= 10000/minFreqBp " +
        s"(k=$k too small for minFreqBp=$minFreqBp)")
    val mg = udaf(graft.functions.MisraGriesAggregator.misraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    val sk = items
      .agg(mg(col(itemCol)).as("sketch"), count(lit(1)).as("n_total"))
      .head()
    val total = sk.getAs[Long]("n_total")
    val cands = sk.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    val empty = items.limit(0).select(col(itemCol))
      .withColumn("n_occ", lit(0L)).withColumn("n_total", lit(0L))
    if (total == 0L || cands.isEmpty) empty
    else items.filter(col(itemCol).isin(cands: _*))
      .groupBy(col(itemCol))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") * 10000L > lit(minFreqBp.toLong) * lit(total))
      .withColumn("n_total", lit(total))
      .orderBy(col("n_occ").desc, col(itemCol))
  }

  /** Heavy-hitter TOKENS of a corpus: [[heavyItems]] over the
    * whitespace token stream. Defaults give the 1%-of-corpus set.
    */
  def heavyTokens(df: DataFrame, textCol: String, k: Int = 99,
      minFreqBp: Int = 100): DataFrame =
    heavyItems(df.select(explode(tokens(col(textCol))).as("token")),
      "token", k, minFreqBp)

  /** Heavy-hitter word n-grams: where the sketch route genuinely
    * matters — n-gram cardinality grows superlinearly with corpus
    * size, so the naive `groupBy(gram)` exchange is corpus-sized
    * while this one stays ≤ k counters per partition. The n-gram
    * explode is narrow (docs shorter than n are filtered BEFORE the
    * index `sequence`, which would otherwise run descending).
    */
  def heavyNgrams(df: DataFrame, textCol: String, n: Int = 2,
      k: Int = 667, minFreqBp: Int = 15): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = df.select(tokens(col(textCol)).as("__ws"))
      .where(size(col("__ws")) >= n)
      .select(explode(transform(
        sequence(lit(0), size(col("__ws")) - n),
        i => concat_ws(" ",
          (0 until n).map(j => element_at(col("__ws"), i + j + 1)): _*)))
        .as("gram"))
    heavyItems(grams, "gram", k, minFreqBp)
  }

  /** TextRank (Mihalcea & Tarau 2004) over the corpus co-occurrence
    * graph: tokens are nodes, adjacent-token pairs are undirected
    * weighted edges (weight = co-occurrence count, symmetrized,
    * pruned below `minWeight`), ranked by the weighted PageRank
    * iteration `r(u) = (1−d) + d · Σ_{v∼u} w(v,u)/wdeg(v) · r(v)`
    * for `iters` rounds from r=1 — the graph-centrality keyword
    * signal next to tf-idf's frequency signal and PMI's association
    * signal.
    *
    * Scale shape: the corpus pays ONE (w1,w2) exchange for the edge
    * counts (the [[pmiPairs]] plan, checkpointed); every iteration
    * after runs on the vocab²-bounded, minWeight-pruned edge table.
    * When that table fits the model-collect discipline (≤
    * `localIterThreshold` edges — it is a keyword GRAPH, not corpus
    * data) the rank iteration runs driver-local in deterministic edge
    * order; beyond the threshold it falls back to one model-sized
    * shuffle per round with lineage truncated per round (the
    * connected-components discipline), so 10 rounds stay 10 small
    * jobs, not one exponential plan.
    *
    * Engine-reproducible: the per-edge contribution keeps one fixed
    * IEEE shape (`r / wdeg * w`) and damping makes the iteration a
    * contraction, so cross-engine summation-order drift SHRINKS each
    * round instead of compounding; the 4dp-rounded ranks hash-match
    * an oracle that unrolls the same 10 iterations in SQL. The local
    * and distributed paths sum edge contributions in different orders,
    * so they agree only at the 4dp rounding quantum (the contraction
    * keeps raw drift orders of magnitude below it) — and the default
    * `localIterThreshold` of 100k edges (~few MB of string-pair rows)
    * keeps the collected table safely driver-sized.
    */
  def textrank(df: DataFrame, idCol: String, textCol: String,
      minWeight: Long = 3L, iters: Int = 10,
      damping: Double = 0.85, localIterThreshold: Long = 100000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    // aggregate the DIRECTED counts first (the corpus-sized scan runs
    // once), then symmetrize the model-sized count table — a union of
    // the raw bigram rows would re-run the explode subtree per branch
    val directed = bigramRows(df, idCol, textCol)
      .filter(col("w1") =!= col("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    val edges = directed.select(col("w1").as("u"), col("w2").as("v"), col("c"))
      .unionByName(directed.select(col("w2").as("u"), col("w1").as("v"), col("c")))
      .groupBy("u", "v").agg(sum(col("c")).cast("double").as("wt"))
      .filter(col("wt") >= lit(minWeight.toDouble))
      .localCheckpoint(true)
    // The pruned edge table is vocab²-bounded — MODEL-sized, like the
    // k-means training samples ([[Similarity.trainPqCodebooks]]) and
    // the vocab→literal map ([[encode]]). Iterating such a graph as
    // 10 Spark jobs pays ~0.5s/round of scheduling+codegen on
    // kilobytes of data (measured 5.3s of a 5.3s query), so when it
    // fits the model-collect discipline the rank loop runs
    // driver-local; a corpus with a genuinely huge vocabulary falls
    // back to the distributed one-job-per-round iteration below.
    if (edges.count() <= localIterThreshold) {
      // deterministic summation order: edges sorted by (u, v)
      val e = ModelCollect.bounded(edges.orderBy("u", "v"),
          localIterThreshold.toInt, "textrank local edges")
        .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
      val wd = scala.collection.mutable.LinkedHashMap[String, Double]()
      e.foreach { case (u, _, wt) => wd(u) = wd.getOrElse(u, 0.0) + wt }
      val nodes = e.map(_._1).distinct.sorted
      var r = nodes.map(n => n -> 1.0).toMap
      for (_ <- 1 to iters) {
        val contrib = scala.collection.mutable.HashMap[String, Double]()
        e.foreach { case (u, v, wt) =>
          contrib(v) = contrib.getOrElse(v, 0.0) + r(u) / wd(u) * wt
        }
        r = nodes.map(n =>
          n -> ((1.0 - damping) + damping * contrib.getOrElse(n, 0.0))).toMap
      }
      val spark = df.sparkSession
      import spark.implicits._
      nodes.map(n => (n, r(n))).toSeq.toDF("token", "__r")
        .select(col("token"), round(col("__r"), 4).as("tr_score"))
    } else {
      val deg = edges.groupBy("u").agg(sum(col("wt")).as("wd"))
      val nodes = edges.select(col("u").as("node")).distinct()
        .localCheckpoint(true)
      var ranks = nodes.withColumn("r", lit(1.0)).localCheckpoint(true)
      for (_ <- 1 to iters) {
        val contrib = edges.join(deg, Seq("u"))
          .join(ranks, col("u") === col("node"))
          .groupBy(col("v").as("node"))
          .agg(sum(col("r") / col("wd") * col("wt")).as("__x"))
        ranks = nodes.join(contrib, Seq("node"), "left")
          .select(col("node"),
            (lit(1.0 - damping) + lit(damping) * coalesce(col("__x"), lit(0.0)))
              .as("r"))
          .localCheckpoint(true)
      }
      ranks.select(col("node").as("token"), round(col("r"), 4).as("tr_score"))
    }
  }
}
