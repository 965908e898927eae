package graft

import graft.queries.Registry

/** Plan-shape regression tests: the scale properties the engine is
  * designed around, asserted on the actual physical plans of driver
  * queries — filter pushdown reaching scans, dims broadcasting, shuffle
  * counts not regressing, top-N avoiding full sorts. A refactor that
  * silently turns a broadcast join into a shuffle or loses a pushed
  * filter fails here, not in a 100× slower production run.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.all(name).build(spark, sfDir).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    needle.r.findAllIn(hay).size

  test("q1: the date predicate reaches the lineitem parquet scan") {
    val p = plan("q1_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
  }

  test("q8 star join: all dims broadcast, zero sort-merge joins") {
    val p = plan("q8_star_join")
    assert(count(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q11 top-N plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("q11_topn")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("dsir: scoring is a zero-exchange narrow pass; select avoids a global sort") {
    // fit already ran inside build (two model-sized count passes);
    // the returned scoring plan probes the model literal per row
    val p = plan("dsir_scores")
    assert(count(p, "Exchange") == 0, p)
    val sel = plan("dsir_select")
    assert(sel.contains("TakeOrderedAndProject"), sel)
    assert(count(sel, "Exchange hashpartitioning") == 0, sel)
  }

  test("q26: both window families share ONE exchange") {
    val p = plan("q26_window_analytics")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(count(p, "Window") >= 2, p)
  }

  test("q5 flatten: window dedup + pivot agg share one exchange") {
    val p = plan("q5_flatten_pivot")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
  }

  test("ann_topk_brute: corpus never shuffles — only the top-k heaps do") {
    // (r14 note: a widen-the-corpus variant was tried here and backed
    // out — the shuffled streamed side cost more than the parallelism
    // bought on the bipartite callers; knn_graph_brute's SELF-graph
    // keeps the widen and its own plan assertion below)
    val p = plan("ann_topk_brute")
    assert(count(p, "Exchange hashpartitioning") == 1, p) // the topK agg
    assert(p.contains("BroadcastNestedLoopJoin"), p)      // scored via broadcast
  }

  test("knn_graph_brute: the under-parallel fixture corpus widens " +
      "once (REPARTITION_BY_NUM), heaps shuffle once") {
    val p = plan("knn_graph_brute")
    assert(count(p, "REPARTITION_BY_NUM") == 1, p)
    assert(count(p, "ENSURE_REQUIREMENTS") == 1, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text_heavy_ngrams: rerank shuffles only candidate keys — one hash exchange, no join") {
    // the sketch pass already ran (it's collected inside build); the
    // returned plan is the exact rerank: narrow gram explode → literal
    // candidate-set probe → one <= k-key aggregation exchange
    val p = plan("text_heavy_ngrams")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"), p)
  }

  test("text_unigram_roundtrip: Viterbi encode is narrow — zero exchanges") {
    // training already ran (driver-side over the histogram, inside
    // build); the returned plan is the literal-model decode pass
    val p = plan("text_unigram_roundtrip")
    assert(count(p, "Exchange") == 0, p)
  }

  test("q27 bloom join: dim broadcasts and its segment filter is pushed") {
    val p = plan("q27_bloom_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), p)
  }

  test("q33 LATERAL decorrelates to a join, not a per-row nested loop") {
    val p = plan("q33_lateral_join")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("sample_stratified: pure narrow filter, zero exchanges") {
    val p = plan("sample_stratified")
    assert(count(p, "Exchange hashpartitioning") == 0, p)
  }

  test("dedup_contamination: eval shingles broadcast; corpus pays one agg exchange") {
    val p = plan("dedup_contamination")
    assert(p.contains("BroadcastHashJoin"), p) // eval side broadcast
    // exactly two hash exchanges: the eval-sized shingle distinct
    // (inside the broadcast build) and the by-doc agg — the corpus
    // itself never shuffles for the join
    assert(count(p, "Exchange hashpartitioning") == 2, p)
  }

  test("text_repetition: row-local run folding — zero exchanges") {
    val p = plan("text_repetition")
    assert(count(p, "Exchange") == 0, p)
  }

  test("ann_topk_pq: corpus never shuffles — ADC heap + rerank heap only") {
    val p = plan("ann_topk_pq")
    // two hash exchanges: the ADC shortlist top-k agg and the final
    // reranked top-k agg; candidates/queries ride broadcasts
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("ann_topk_ivfpq: probe join broadcasts — ADC heap + rerank heap only") {
    val p = plan("ann_topk_ivfpq")
    // two hash exchanges, exactly as ann_topk_pq: the in-cell ADC
    // shortlist agg and the final reranked top-k agg; the cell-probe
    // join and the rerank fetch ride broadcasts, so the corpus-side
    // index never shuffles
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sample_weighted: pure narrow filter, zero exchanges") {
    val p = plan("sample_weighted")
    assert(count(p, "Exchange hashpartitioning") == 0, p)
  }

  test("corpus_split and text_chunk and text_redact_pii: narrow, zero exchanges") {
    Seq("corpus_split", "text_chunk", "text_redact_pii").foreach { q =>
      val p = plan(q)
      assert(count(p, "Exchange") == 0, s"$q:\n$p")
    }
  }

  test("dedup_spans: span agg + join-back + reassembly, no extra exchanges") {
    val p = plan("dedup_spans")
    // 1: partial→final first-occurrence agg; 2: join probe side by
    // span; 3: reassembly by doc. The first-occurrence side reuses its
    // agg exchange for the join (same key) — anything above 4 means a
    // replanned branch snuck in.
    assert(count(p, "Exchange hashpartitioning") <= 4, p)
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"), p)
  }

  test("corpus_profile: exact pays one distinct-key shuffle; approx pays none") {
    val p = plan("corpus_profile")
    // exact multi-distinct: Expand feeds ONE distinct-key exchange,
    // then a single-partition merge — no other corpus-keyed shuffle
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    val approx = graft.operators.Profile.profile(
        graft.sources.Tables.load(spark, sfDir, "documents"),
        Seq("doc_id", "lang", "source"), approxDistinct = true)
      .queryExecution.executedPlan.toString
    assert(count(approx, "Exchange hashpartitioning") == 0, approx)
  }

  test("embedding_centroids: one (label, dim) exchange, partial aggregation first") {
    val p = plan("embedding_centroids")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("partial_"), p) // map-side combine before the exchange
  }

  test("corpus_drift: corpus tokens explode once; downstream is model-sized") {
    val p = plan("corpus_drift")
    // the (group, token) counts are checkpointed, so the corpus scan +
    // explode appears in NO branch of the final plan — everything
    // downstream reads the model-sized counts
    assert(!p.contains("FileScan"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("text_vocab: rank assigned on collected model rows — no window, no single-partition sort") {
    // the TakeOrdered top slice is collected (model-sized by
    // construction) and ranked driver-side, so the returned plan is a
    // LocalTableScan: zero WindowExec, zero warning lines
    val p = plan("text_vocab")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Window"), p)
  }

  test("hard_negatives: corpus never shuffles — queries broadcast, heaps exchange") {
    val p = plan("hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    // the top-k agg heap exchange + the two label join-backs; the
    // corpus side itself must not hash-partition
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("text_bpe_encode: vocab is a literal — the encode pass is narrow, zero exchanges") {
    val p = plan("text_bpe_encode")
    assert(count(p, "Exchange hashpartitioning") == 0, p)
    assert(!p.contains("Join"), p) // id lookup is a map literal, not a join
  }

  test("corpus_temperature_mix rides the same bucketed prefix shape") {
    val p = plan("corpus_temperature_mix")
    assert(!p.contains("SinglePartition"), p)
  }

  test("corpus_curriculum: within-phase rank is bucketed — never one partition per phase") {
    val p = plan("corpus_curriculum")
    assert(!p.contains("SinglePartition"), p)
  }

  test("corpus_token_mix: per-source prefix sum is bucketed — never one partition per source") {
    val p = plan("corpus_token_mix")
    assert(!p.contains("SinglePartition"), p)
    // the running sum windows over (source, key-bucket), prefix rides
    // in as a broadcast — one hash exchange total
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("pack_length_batches: within-band rank is bucketed — never one partition per band") {
    val p = plan("pack_length_batches")
    assert(!p.contains("SinglePartition"), p)
    assert(count(p, "Exchange hashpartitioning") == 1, p) // (band, kb) window
    assert(p.contains("BroadcastExchange"), p)            // prefix grid
  }

  test("pack_sequences_bpe: piece counting stays inside the two-phase prefix-sum shape") {
    val p = plan("pack_sequences_bpe")
    // same contract as pack_sequences: per-bucket windows, never the
    // single-partition global window
    assert(!p.contains("SinglePartition"), p)
    assert(p.contains("graft_subword_pieces"), p) // counting by pieces
  }

  test("lexical index: postings pay one (doc, token) exchange") {
    val docs = graft.sources.Tables.load(spark, sfDir, "documents")
    val idx = graft.operators.TextAnalysis.lexicalIndex(docs, "doc_id", "text")
    val pIdx = idx.queryExecution.executedPlan.toString
    assert(count(pIdx, "Exchange hashpartitioning") == 1, pIdx)
  }

  test("text_gopher: the rule battery is a zero-exchange narrow pass") {
    val p = plan("text_gopher")
    assert(count(p, "Exchange") == 0, p)
  }

  test("linkage: the dictionary pair join broadcasts — no sort-merge, no cartesian") {
    val p = plan("linkage_blocked")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_containment: shares the jaccard plan family (same exchange count)") {
    val pc = plan("dedup_containment")
    val pj = plan("dedup_ngram_jaccard")
    assert(count(pc, "Exchange hashpartitioning") ==
      count(pj, "Exchange hashpartitioning"), pc)
  }

  test("dedup_semantic_lsh: verification is pair-restricted hash joins, never an all-pairs NLJ") {
    val p = plan("dedup_semantic_lsh")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("dedup_containment_lsh: candidates checkpointed, shingle work candidate-restricted") {
    val p = plan("dedup_containment_lsh")
    // the band-key candidate pipeline ran pre-plan into a checkpoint
    // (the verify stages read it as an ExistingRDD scan) …
    assert(p.contains("ExistingRDD"), p)
    // … and every touch of the corpus shingle table is first semi-
    // joined down to candidate docs (the LeftSemi pair: docsInPlay →
    // shingles, candidate pairs → intersections) — the exact
    // baseline's corpus-wide shared-shingle pair agg never appears
    assert(count(p, "LeftSemi") >= 2, p)
  }

  test("eval_retrieval: only the brute scorer is an NLJ; metric joins never cartesian") {
    val p = plan("eval_retrieval")
    assert(count(p, "BroadcastNestedLoopJoin|CartesianProduct") == 1, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("knn_graph: cell-id hash join, nothing broadcast, no all-pairs NLJ") {
    val p = plan("knn_graph")
    // the probe join must co-partition BOTH corpus-scale sides by cid
    // — a broadcast here would ship the whole corpus to every task
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct") &&
      !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("dedup_semdedup: cluster-scoped pair join is hash-partitioned, never an NLJ") {
    val p = plan("dedup_semdedup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // the checkpointed assignment feeds the cid self-join
    assert(p.contains("ExistingRDD"), p)
  }

  test("embedding_pca: the projection is a zero-exchange narrow pass") {
    // fit already ran inside build (the one-pass moment aggregation);
    // the RETURNED plan is the per-row affine map — nothing shuffles
    val p = plan("embedding_pca")
    assert(count(p, "Exchange") == 0, p)
    assert(p.contains("graft_affine"), p)
  }

  test("pca moment aggregation partial-aggregates map-side") {
    import org.apache.spark.sql.functions.col
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
    val agg = org.apache.spark.sql.functions.udaf(
      graft.functions.GramianAggregator.gramian)
    val p = e.select(agg(
        graft.functions.VectorFunctions.toDouble(col("embedding"))))
      .queryExecution.executedPlan.toString
    // two-phase agg: partial before the exchange, the exchange
    // carries ONE buffer per partition (SinglePartition is fine — the
    // combined state is one ~17 KB row, not data)
    assert(count(p, "ObjectHashAggregate|SortAggregate|HashAggregate") >= 2, p)
  }

  test("ann_topk_pca: reduced shortlist rides the brute plan family (broadcast queries, one NLJ)") {
    val p = plan("ann_topk_pca")
    assert(count(p, "BroadcastNestedLoopJoin|CartesianProduct") == 1, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("split_leakage_guard: band joins are hash joins; no shared-shingle self-join NLJ") {
    val p = plan("split_leakage_guard")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("text_hash_embed: one (id, bucket) aggregation + one id-keyed window exchange") {
    val p = plan("text_hash_embed")
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("corpus_unimax: one domain aggregation feeds the driver walk — result is a literal frame") {
    val p = plan("corpus_unimax")
    // the returned frame is the collected walk result
    assert(p.contains("LocalTableScan") || p.contains("ExistingRDD"), p)
  }

  test("q43 scd2: both windows and the run groupBy share ONE key exchange") {
    // hashpartitioning(user_id) satisfies the (user_id, __run) groupBy
    // clustering and both window partitionings — the whole history
    // build is a single shuffle of the event stream
    val p = plan("q43_scd2_history")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("q44 scd2 merge: delta key-split is broadcast; nothing history-sized sorts") {
    val p = plan("q44_scd2_merge")
    // the anti/semi split joins build on the broadcast delta key set
    assert(count(p, "BroadcastExchange") >= 1, p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("sketch state: build + rollup are two key exchanges, no single partition") {
    val p = plan("sketch_rollup")
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // partial sketch merge happens map-side before the exchange
    assert(count(p, "HashAggregate") >= 4, p)
  }

  test("q45 point-in-time: two key exchanges, zero join operators, filters pushed") {
    // history build (one exchange) + the as-of log-merge (one
    // exchange) — the interval lookup never becomes a join node, let
    // alone a per-row range probe
    val p = plan("q45_scd2_pointintime")
    assert(count(p, "Exchange hashpartitioning") == 2, p)
    assert(count(p, "Join") == 0, p)
    assert(count(p, "PushedFilters: \\[[^\\]]") == 2, p)
  }

  test("dq_checks_by_day: the whole battery rides ONE group exchange") {
    val p = plan("dq_checks_by_day")
    assert(count(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("eval_classification: predictor runs once — metrics read the checkpoint, no NLJ") {
    val p = plan("eval_classification")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(count(p, "Exchange hashpartitioning") <= 5, p)
  }

  test("graph_clustering: every join is key-partitioned hash — no all-pairs NLJ") {
    val p = plan("graph_clustering")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("WindowAudit detector: flags a bare global count window, exempts a pruned rank window") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, lit, row_number}
    val df = spark.range(100).toDF("v")
    // the anti-pattern: unbounded count over NO partition key — every
    // row to one task, no rank-limit pushdown possible
    val bad = df.withColumn("__n",
        org.apache.spark.sql.functions.count(lit(1))
          .over(Window.partitionBy()))
      .queryExecution.executedPlan
    assert(graft.plans.WindowAudit.unprunedGlobalWindows(bad).nonEmpty,
      bad.toString)
    // the exemption: a global row_number <= k plans its prune BELOW the
    // window (LimitPushDownThroughWindow → TakeOrderedAndProject here;
    // WindowGroupLimit for partitioned specs), so the single-partition
    // window receives <= k rows — state, not data
    val ok = df.withColumn("__rk",
        row_number().over(Window.partitionBy().orderBy(col("v"))))
      .filter(col("__rk") <= 5)
      .queryExecution.executedPlan
    assert(ok.toString.contains("TakeOrderedAndProject") ||
      ok.toString.contains("WindowGroupLimit"), ok.toString)
    assert(graft.plans.WindowAudit.unprunedGlobalWindows(ok).isEmpty,
      ok.toString)
  }

  test("theta sample + tfidf/bm25/hybrid: no unpruned global windows (round-6 invariant)") {
    // the two families the r11 verdict flagged as the last
    // single-partition window shapes — fixed to grain-sized
    // agg+broadcast-join (sampleFromTheta) and vocab-sized df
    // agg+join-back (tfidf/bm25Weights); this pins them, and PlanAudit
    // main enforces the same rule over EVERY registered plan when
    // PLANS.md regenerates
    Seq("theta_window_sample", "text_tfidf", "text_bm25", "hybrid_search")
      .foreach { q =>
        val p = Registry.all(q).build(spark, sfDir)
          .queryExecution.executedPlan
        assert(graft.plans.WindowAudit.unprunedGlobalWindows(p).isEmpty,
          s"$q:\n$p")
      }
  }
}
