package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{DataQuality, Dedup, SketchState, TextAnalysis}
import graft.sources.Tables
import graft.Par

/** Round-7 sketch-state + Bloom-decontamination queries: the
  * Count-Min frequency family and the decimal quantile family extend
  * the persisted mergeable-state tier (HLL = distinct, Misra–Gries =
  * heavy hitters) with point-frequency and quantile answers from
  * O(state) rows; the Bloom path is [[Dedup.contamination]]'s
  * benchmark-suite-scale variant. Both sketch families use pure
  * integer/md5 arithmetic, so their state tables and read paths are
  * hash-oracled row-for-row in DuckDB; the Bloom filter is opaque
  * bits, so its query is rows-only behind a hash-verified
  * superset/FP gate.
  */
object StateQueries {

  private val duckToks =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  /** DuckDB CTE chain replaying [[SketchState.freqSketches]] over
    * per-source document tokens (depth 4, width 512): defines `cells`
    * = (source, cm_row, cm_bucket, cnt).
    */
  private val duckCmsCells = s"""
    t AS (SELECT source, unnest($duckToks) AS token FROM documents),
    h AS (SELECT source,
                 ('0x' || substr(md5(token), 1, 15))::BIGINT AS h1,
                 ('0x' || substr(md5(token), 16, 15))::BIGINT AS h2
          FROM t),
    r AS (SELECT source, h1, h2, unnest(generate_series(0, 3)) AS cm_row
          FROM h),
    cells AS (SELECT source, CAST(cm_row AS INTEGER) AS cm_row,
                     CAST((h1 + cm_row * h2) % 512 AS INTEGER) AS cm_bucket,
                     count(*) AS cnt
              FROM r GROUP BY 1, 2, 3)"""

  /** DuckDB CTE chain replaying [[SketchState.quantileSketches]] over
    * per-lang document token counts: defines `qstate` =
    * (lang, q_lb, cnt).
    */
  private val duckQState = s"""
    qt AS (SELECT lang, len($duckToks) AS n FROM documents),
    qb AS (SELECT lang,
                  CASE WHEN n < 10 THEN n
                       ELSE CAST(rpad(substr(CAST(n AS VARCHAR), 1, 2),
                                      CAST(length(CAST(n AS VARCHAR)) AS INTEGER),
                                      '0') AS BIGINT)
                  END AS q_lb
           FROM qt),
    qstate AS (SELECT lang, q_lb, count(*) AS cnt FROM qb GROUP BY 1, 2)"""

  /** DuckDB CTE chain replaying [[SketchState.heavyHitterSketches]]
    * over per-day event users (k = 32): defines `mg` =
    * (ws, item, est, n_rows) — the order-independent batch MG
    * construction (exact counts minus the 33rd-largest, positive
    * survivors, ties by item asc).
    */
  private val duckMgDays = """
    mt AS (SELECT CAST(ts AS DATE) AS ws, CAST(user_id AS VARCHAR) AS item
           FROM events),
    mc AS (SELECT ws, item, count(*) AS cnt FROM mt GROUP BY 1, 2),
    mr AS (SELECT ws, item, cnt,
                  row_number() OVER (PARTITION BY ws
                    ORDER BY cnt DESC, item ASC) AS rk,
                  CAST(sum(cnt) OVER (PARTITION BY ws) AS BIGINT) AS n
           FROM mc),
    mth AS (SELECT ws, coalesce(max(CASE WHEN rk = 33 THEN cnt END),
                                CAST(0 AS BIGINT)) AS t
            FROM mr GROUP BY 1),
    mg AS (SELECT mr.ws, mr.item, mr.cnt - mth.t AS est, mr.n AS n_rows
           FROM mr JOIN mth USING (ws)
           WHERE rk <= 32 AND (mr.cnt - mth.t > 0 OR rk = 1))"""

  /** One row per (lang, doc, DISTINCT 3-shingle) — the KMV family's
    * item stream: cnt per (lang, item) is the shingle's doc frequency.
    */
  private def langShingleRows(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        explode(graft.functions.WordShingles.column(col("text"), 3)).as("item"))

  /** DuckDB CTE chain replaying [[SketchState.sampleSketches]] over
    * per-lang distinct-shingle doc frequencies at bottom-`k`: defines
    * `kmv` = (lang, item, hkey, cnt, n_rows).
    */
  private def duckKmvShingles(k: Int) = s"""
    kw AS (SELECT lang, doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM documents),
    ki AS (SELECT lang, doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS g FROM kw),
    ks AS (SELECT DISTINCT lang, doc_id, ws[g] || ' ' || ws[g+1] || ' ' || ws[g+2] AS item
           FROM ki),
    kc AS (SELECT lang, item, count(*) AS cnt FROM ks GROUP BY 1, 2),
    kh AS (SELECT lang, item, cnt,
                  ('0x' || substr(md5(item), 1, 15))::BIGINT AS hkey,
                  CAST(sum(cnt) OVER (PARTITION BY lang) AS BIGINT) AS n
           FROM kc),
    kr AS (SELECT lang, item, hkey, cnt, n, row_number() OVER (
             PARTITION BY lang ORDER BY hkey ASC, item ASC) AS rk
           FROM kh),
    kmv AS (SELECT lang, item, hkey, cnt, n AS n_rows FROM kr WHERE rk <= $k)"""

  /** Per-source document tokens, one row per occurrence. */
  private def tokenRows(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
      .select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))

  /** Per-lang token counts (the quantile sketch's metric column). */
  private def tokenCounts(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.load(s, dir, "documents")
      .select(col("lang"),
        size(TextAnalysis.tokens(col("text"))).as("n_tokens"))

  val defs: Map[String, QueryDef] = Map(

    "cms_state" -> QueryDef(
      doc = "Count-Min frequency-sketch state table over per-source document tokens (depth 4 × width 512, md5 double hashing): relational sparse cells, groupBy.sum-mergeable, hash-oracled row-for-row — the point-frequency member of the persisted sketch-state tier",
      oracle = s"""
        WITH $duckCmsCells
        SELECT source, cm_row, cm_bucket, cnt FROM cells""") { (s, dir) =>
      SketchState.freqSketches(tokenRows(s, dir), Seq("source"), "token")
    },

    "cms_estimate" -> QueryDef(
      doc = "point-frequency estimates from CMS state alone (rolled up across sources — raw tokens never rescanned): probe set = tokens with true global count ≥ 40; the model-sized cell table broadcasts to the probe side",
      oracle = s"""
        WITH $duckCmsCells,
        g AS (SELECT cm_row, cm_bucket, CAST(sum(cnt) AS BIGINT) AS cnt
              FROM cells GROUP BY 1, 2),
        probes AS (SELECT token FROM (
                     SELECT unnest($duckToks) AS token FROM documents)
                   GROUP BY 1 HAVING count(*) >= 40),
        ph AS (SELECT token,
                      ('0x' || substr(md5(token), 1, 15))::BIGINT AS h1,
                      ('0x' || substr(md5(token), 16, 15))::BIGINT AS h2
               FROM probes),
        pr AS (SELECT token, h1, h2, unnest(generate_series(0, 3)) AS cm_row
               FROM ph),
        px AS (SELECT p.token,
                      coalesce(g.cnt, 0) AS cell
               FROM pr p LEFT JOIN g
                 ON g.cm_row = p.cm_row
                AND g.cm_bucket = CAST((p.h1 + p.cm_row * p.h2) % 512 AS INTEGER)
               )
        SELECT token, min(cell) AS est FROM px GROUP BY 1""") { (s, dir) =>
      val toks = tokenRows(s, dir)
      val probes = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 40)
        .select("token")
      SketchState.estimateFreq(
        SketchState.freqSketches(toks, Seq("source"), "token"),
        probes, "token")
    },

    "cms_window_range" -> QueryDef(
      doc = "range frequency from PERSISTED windowed CMS state: per-day (ws, cm_row, cm_bucket, cnt) cells — the exact at-rest layout EventsStreaming.freqSketchWindows + sketchStateTicks maintain — written to a store dir, read back, filtered to a 7-day window range, and answered through estimateFreq for every distinct user; the raw events are scanned once at build time and never re-read for the range question (cells are additive, so a range rollup is a groupBy.sum over ≤ days×depth×width state rows)",
      oracle = """
        WITH t AS (SELECT CAST(ts AS DATE) AS ws, user_id FROM events
                   WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03'
                                              AND DATE '2024-01-09'),
        h AS (SELECT ws,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h1,
                     ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 16, 15))::BIGINT AS h2
              FROM t),
        r AS (SELECT ws, h1, h2, unnest(generate_series(0, 3)) AS cm_row
              FROM h),
        g AS (SELECT CAST(cm_row AS INTEGER) AS cm_row,
                     CAST((h1 + cm_row * h2) % 512 AS INTEGER) AS cm_bucket,
                     count(*) AS cnt
              FROM r GROUP BY 1, 2),
        probes AS (SELECT DISTINCT user_id FROM events),
        ph AS (SELECT user_id,
                      ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h1,
                      ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 16, 15))::BIGINT AS h2
               FROM probes),
        pr AS (SELECT user_id, h1, h2, unnest(generate_series(0, 3)) AS cm_row
               FROM ph),
        px AS (SELECT p.user_id, coalesce(g.cnt, CAST(0 AS BIGINT)) AS cell
               FROM pr p LEFT JOIN g
                 ON g.cm_row = p.cm_row
                AND g.cm_bucket = CAST((p.h1 + p.cm_row * p.h2) % 512 AS INTEGER))
        SELECT user_id, min(cell) AS est FROM px GROUP BY 1""") { (s, dir) =>
      val events = Tables.load(s, dir, "events")
      val state = SketchState.freqSketches(
        events.select(to_date(col("ts")).as("ws"), col("user_id")),
        Seq("ws"), "user_id")
      // persist + read back: the query answers from the state DIR,
      // exactly as a serving layer reads persisted window cells
      val store = java.nio.file.Files
        .createTempDirectory("graft-cms-windows").toString
      state.write.mode("overwrite").parquet(store)
      val persisted = s.read.parquet(store)
        .filter(col("ws").between(
          lit("2024-01-03").cast("date"), lit("2024-01-09").cast("date")))
      SketchState.estimateFreq(persisted,
        events.select("user_id").distinct(), "user_id")
    },

    "cms_error_gate" -> QueryDef.gateFrame(
      doc = "CMS guarantees, measured over EVERY distinct token: estimates never underestimate (structural one-sided error), ≥98% of keys within the Cormode–Muthukrishnan e·N/width envelope (theory bound: ≥ 1 − e^-depth ≈ 98.2%), and split-state merge ≡ direct build cell-for-cell",
      "cms_noworse_ok", "cms_bound_ok", "cms_merge_ok") { (s, dir) =>
      val toks = tokenRows(s, dir).localCheckpoint(true)
      val state = SketchState.freqSketches(toks, Seq("source"), "token")
        .localCheckpoint(true)
      val truth = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("true_cnt"))
      val est = SketchState.estimateFreq(state, truth.select("token"), "token")
      val n = toks.count()
      val eps = math.E / 512
      val bound = math.ceil(eps * n).toLong
      val checks = truth.join(est, "token")
        .agg(
          (sum(when(col("est") < col("true_cnt"), 1).otherwise(0)) === 0)
            .as("cms_noworse_ok"),
          (avg(when(col("est") <= col("true_cnt") + bound, 1.0).otherwise(0.0))
            >= 0.98).as("cms_bound_ok"))
      // merge ≡ rebuild: state from two disjoint halves folded with
      // mergeFreqSketches equals the direct build, cell-for-cell
      val half1 = toks.filter(xxhash64(col("token")) % 2 === 0)
      val half2 = toks.filter(xxhash64(col("token")) % 2 =!= 0)
      val merged = SketchState.mergeFreqSketches(
        SketchState.freqSketches(half1, Seq("source"), "token"),
        SketchState.freqSketches(half2, Seq("source"), "token"),
        Seq("source"))
      val mergeOk = Gate.sameRows(merged, state)
      checks.withColumn("cms_merge_ok", lit(mergeOk))
    },

    "mg_state" -> QueryDef(
      doc = "mergeable Misra-Gries heavy-hitter state (Agarwal et al., Mergeable Summaries, PODS'12): per-day <=32-row user summaries via the ORDER-INDEPENDENT batch construction (exact counts minus the 33rd-largest, positive survivors + the rank-1 row so a fully tied day still carries its n_rows mass; ties by item asc) - deterministic pure-integer state, hash-oracled row-for-row like its CMS/quantile siblings; est <= true <= est + n_day/33 for EVERY user including dropped ones",
      oracle = s"""
        WITH $duckMgDays
        SELECT strftime(ws, '%Y-%m-%d') AS ws, item, est, n_rows
        FROM mg""") { (s, dir) =>
      // ws rendered ISO-string: a DATE output column round-trips as
      // python date from Spark parquet but Timestamp from DuckDB, and
      // the driver's comparator treats those as distinct types
      SketchState.heavyHitterSketches(
        Tables.load(s, dir, "events")
          .select(to_date(col("ts")).as("ws"), col("user_id")),
        Seq("ws"), "user_id", k = 32)
        .withColumn("ws", date_format(col("ws"), "yyyy-MM-dd"))
    },

    "mg_window_range" -> QueryDef(
      doc = "range heavy hitters from PERSISTED windowed MG state: the per-day summaries written to a store dir, read back, filtered to the same 7-day range as cms_window_range, and re-compressed by the PODS'12 merge (sum ests item-wise, subtract the combined 33rd-largest) - O(days x k) state rows answer the range question, raw events never replay; the telescoped bound est <= true <= est + n_range/33 is mg_error_gate's contract",
      oracle = s"""
        WITH $duckMgDays,
        rng AS (SELECT * FROM mg WHERE ws BETWEEN DATE '2024-01-03'
                                             AND DATE '2024-01-09'),
        ntot AS (SELECT CAST(sum(wn) AS BIGINT) AS n FROM (
                   SELECT ws, max(n_rows) AS wn FROM rng GROUP BY 1)),
        s2 AS (SELECT item, CAST(sum(est) AS BIGINT) AS cnt
               FROM rng GROUP BY 1),
        r2 AS (SELECT item, cnt,
                      row_number() OVER (ORDER BY cnt DESC, item ASC) AS rk
               FROM s2),
        t2 AS (SELECT coalesce(max(CASE WHEN rk = 33 THEN cnt END),
                               CAST(0 AS BIGINT)) AS t FROM r2)
        SELECT item, r2.cnt - t2.t AS est, ntot.n AS n_rows
        FROM r2 CROSS JOIN t2 CROSS JOIN ntot
        WHERE rk <= 32 AND (r2.cnt - t2.t > 0 OR rk = 1)""") { (s, dir) =>
      val state = SketchState.heavyHitterSketches(
        Tables.load(s, dir, "events")
          .select(to_date(col("ts")).as("ws"), col("user_id")),
        Seq("ws"), "user_id", k = 32)
      val store = java.nio.file.Files
        .createTempDirectory("graft-mg-windows").toString
      state.write.mode("overwrite").parquet(store)
      SketchState.heavyHittersRollup(
        s.read.parquet(store).filter(col("ws").between(
          lit("2024-01-03").cast("date"), lit("2024-01-09").cast("date"))),
        Seq(), k = 32)
    },

    "mg_error_gate" -> QueryDef.gateFrame(
      doc = "MG guarantees over the range, checked for EVERY user (dropped users read est=0): no overestimate (est <= true), the mergeability-theorem bound true <= est + n_range/(k+1) (PODS'12: merging preserves the n/(k+1) envelope — the compress subtractions are absorbed by counters that already underestimate), and the rolled-up state answer within the same envelope of the direct one-shot summary over the range",
      "mg_noover_ok", "mg_bound_ok", "mg_direct_ok") { (s, dir) =>
      val k = 32
      val ev = Tables.load(s, dir, "events")
        .select(to_date(col("ts")).as("ws"), col("user_id"))
        .filter(col("ws").between(
          lit("2024-01-03").cast("date"), lit("2024-01-09").cast("date")))
        .localCheckpoint(true)
      val state = SketchState.heavyHitterSketches(ev, Seq("ws"), "user_id", k)
      val rolled = SketchState.heavyHittersRollup(state, Seq(), k)
        .localCheckpoint(true)
      val truth = ev.groupBy(col("user_id").cast("string").as("item"))
        .agg(count(lit(1)).as("true_cnt"))
      val n = ev.count()
      val bound = n / (k + 1) + 1 // telescoped compress mass, ceil'd
      val checks = truth.join(rolled.select("item", "est"), Seq("item"), "left")
        .withColumn("est", coalesce(col("est"), lit(0L)))
        .agg(
          (sum(when(col("est") > col("true_cnt"), 1).otherwise(0)) === 0)
            .as("mg_noover_ok"),
          (sum(when(col("true_cnt") > col("est") + bound, 1).otherwise(0))
            === 0).as("mg_bound_ok"))
      // rolled (per-day summaries merged) vs direct (one-shot over the
      // range): both valid MG(k) summaries of the same stream, so each
      // item's two estimates differ by at most the bound
      // the global build path directly (a Seq(constant) grain
      // constant-folds into an empty window partition spec — the
      // warning-generating shape the global branch exists to avoid)
      val direct = SketchState.heavyHitterSketches(ev, Seq(), "user_id", k)
        .select(col("item"), col("est").as("d_est"))
      val directOk = rolled.select("item", "est")
        .join(direct, Seq("item"), "full_outer")
        .select(coalesce(col("est"), lit(0L)).as("a"),
          coalesce(col("d_est"), lit(0L)).as("b"))
        .agg((sum(when(abs(col("a") - col("b")) > bound, 1).otherwise(0))
          === 0).as("mg_direct_ok"))
      checks.crossJoin(directOk)
    },

    "qsketch_state" -> QueryDef(
      doc = "mergeable quantile-sketch state over per-lang token counts: decimal two-significant-digit buckets (a base-10 DDSketch variant with integer-only bucketing — no floating log, so the state is exactly replayable cross-engine), ≤ 10% relative value error",
      oracle = s"""
        WITH $duckQState
        SELECT lang, q_lb, cnt FROM qstate""") { (s, dir) =>
      SketchState.quantileSketches(tokenCounts(s, dir), Seq("lang"), "n_tokens")
    },

    "qsketch_quantiles" -> QueryDef(
      doc = "p50/p90/p99 of per-doc token counts per lang answered from quantile-sketch state alone (cumulative walk over ≤ 10+90·decades state rows — raw docs never rescanned); inverse-CDF position ceil(q·n), estimate = bucket lower bound",
      oracle = s"""
        WITH $duckQState,
        c AS (SELECT lang, q_lb, cnt,
                     CAST(sum(cnt) OVER (PARTITION BY lang ORDER BY q_lb)
                          AS BIGINT) AS cum,
                     CAST(sum(cnt) OVER (PARTITION BY lang)
                          AS BIGINT) AS n
              FROM qstate)
        SELECT lang, max(n) AS n,
               min(CASE WHEN cum >= ceil(n * 0.5) THEN q_lb END) AS p50,
               min(CASE WHEN cum >= ceil(n * 0.9) THEN q_lb END) AS p90,
               min(CASE WHEN cum >= ceil(n * 0.99) THEN q_lb END) AS p99
        FROM c GROUP BY 1""") { (s, dir) =>
      SketchState.quantileRollup(
        SketchState.quantileSketches(tokenCounts(s, dir), Seq("lang"),
          "n_tokens"),
        Seq("lang"))
    },

    "qsketch_error_gate" -> QueryDef.gateFrame(
      doc = "quantile-sketch guarantees vs the exact order statistics, per lang × {p50,p90,p99}: estimate ≤ true ≤ 1.1×estimate (the two-significant-digit bucket envelope), and split-state merge ≡ direct build bucket-for-bucket",
      "q_envelope_ok", "q_merge_ok") { (s, dir) =>
      val counts = tokenCounts(s, dir).localCheckpoint(true)
      val state = SketchState.quantileSketches(counts, Seq("lang"), "n_tokens")
        .localCheckpoint(true)
      val est = SketchState.quantileRollup(state, Seq("lang"))
      // exact order statistic at the same inverse-CDF position (the
      // ground-truth leg — the rank window per lang is the point; the
      // per-lang total rides a lang-sized broadcast join, not a count
      // window over the same corpus-sized partition)
      val w = Window.partitionBy(col("lang")).orderBy(col("n_tokens"))
      val nTab = counts.groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
      val ranked = SketchState.joinNullSafe(
        counts.withColumn("rk", row_number().over(w)),
        nTab, Seq("lang"), broadcastRight = true)
      val exact = ranked.groupBy(col("lang")).agg(
        min(when(col("rk") >= ceil(col("n") * 0.5), col("n_tokens")))
          .as("x50"),
        min(when(col("rk") >= ceil(col("n") * 0.9), col("n_tokens")))
          .as("x90"),
        min(when(col("rk") >= ceil(col("n") * 0.99), col("n_tokens")))
          .as("x99"))
      val envOk = est.join(exact, "lang")
        .select(
          (col("p50") <= col("x50") && col("x50") <= col("p50") * 1.1 &&
           col("p90") <= col("x90") && col("x90") <= col("p90") * 1.1 &&
           col("p99") <= col("x99") && col("x99") <= col("p99") * 1.1)
            .as("ok"))
        .agg((sum(when(col("ok"), 0).otherwise(1)) === 0).as("q_envelope_ok"))
      val merged = SketchState.mergeQuantileSketches(
        SketchState.quantileSketches(
          counts.filter(col("n_tokens") % 2 === 0), Seq("lang"), "n_tokens"),
        SketchState.quantileSketches(
          counts.filter(col("n_tokens") % 2 =!= 0), Seq("lang"), "n_tokens"),
        Seq("lang"))
      val mergeOk = Gate.sameRows(merged, state)
      envOk.withColumn("q_merge_ok", lit(mergeOk))
    },

    "cms_heavy_drift" -> QueryDef(
      doc = "heavy-changer detection from CMS state ALONE: the per-source state table splits into two cohorts (src0-9 vs src10-19), each side's cells re-sum per cohort and the heavy probe set (true global count ≥ 40) reads both — per-token |est_a − est_b| from O(depth·width) state rows, never a raw rescan (the sketch-tier twin of corpus_drift's exact JSD)",
      oracle = s"""
        WITH $duckCmsCells,
        probes AS (SELECT token FROM (
                     SELECT unnest($duckToks) AS token FROM documents)
                   GROUP BY 1 HAVING count(*) >= 40),
        ph AS (SELECT token,
                      ('0x' || substr(md5(token), 1, 15))::BIGINT AS h1,
                      ('0x' || substr(md5(token), 16, 15))::BIGINT AS h2
               FROM probes),
        pr AS (SELECT token, h1, h2, unnest(generate_series(0, 3)) AS cm_row
               FROM ph),
        ga AS (SELECT cm_row, cm_bucket, CAST(sum(cnt) AS BIGINT) AS cnt
               FROM cells WHERE length(source) = 4 GROUP BY 1, 2),
        gb AS (SELECT cm_row, cm_bucket, CAST(sum(cnt) AS BIGINT) AS cnt
               FROM cells WHERE length(source) = 5 GROUP BY 1, 2),
        ea AS (SELECT p.token, min(coalesce(ga.cnt, 0)) AS est_a
               FROM pr p LEFT JOIN ga
                 ON ga.cm_row = p.cm_row
                AND ga.cm_bucket = CAST((p.h1 + p.cm_row * p.h2) % 512 AS INTEGER)
               GROUP BY 1),
        eb AS (SELECT p.token, min(coalesce(gb.cnt, 0)) AS est_b
               FROM pr p LEFT JOIN gb
                 ON gb.cm_row = p.cm_row
                AND gb.cm_bucket = CAST((p.h1 + p.cm_row * p.h2) % 512 AS INTEGER)
               GROUP BY 1)
        SELECT ea.token, est_a, est_b, abs(est_a - est_b) AS drift
        FROM ea JOIN eb ON ea.token = eb.token""") { (s, dir) =>
      val toks = tokenRows(s, dir)
      val state = SketchState.freqSketches(toks, Seq("source"), "token")
        .localCheckpoint(true)
      val probes = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("__n")).filter(col("__n") >= 40)
        .select("token")
      val estA = SketchState.estimateFreq(
          state.filter(length(col("source")) === 4), probes, "token")
        .withColumnRenamed("est", "est_a")
      val estB = SketchState.estimateFreq(
          state.filter(length(col("source")) === 5), probes, "token")
        .withColumnRenamed("est", "est_b")
      estA.join(estB, "token")
        .withColumn("drift", abs(col("est_a") - col("est_b")))
    },

    "src_csv_roundtrip" -> QueryDef(
      doc = "line-oriented CSV ingest source (tabular deliveries: labels, metadata, vendor drops): documents exported as csv, re-ingested through the schema-mandatory permissive reader with corrupt-record quarantine (empty here), must hash-match the parquet original — text+from_csv, narrow per-line parse, splittable (the jsonl path's tabular sibling)",
      oracle = """
        SELECT doc_id, text, lang, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents""") { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val tmp = java.nio.file.Files.createTempDirectory("csv_rt")
        .resolve("docs").toString
      graft.sources.CsvLines.write(docs, tmp)
      graft.sources.CsvLines.read(s, tmp,
        org.apache.spark.sql.types.StructType(docs.schema.fields.toSeq))
    },

    "dq_kanonymity" -> QueryDef(
      doc = "k-anonymity / l-diversity privacy audit before a corpus ships: every (nation, market-segment) quasi-identifier class must hold ≥ 5 customers and ≥ 2 distinct balances; flagged classes are the suppression worklist — one uniform groupBy, equivalence-class-sized output",
      oracle = """
        SELECT c_nationkey, c_mktsegment,
               count(*) AS n_rows,
               count(DISTINCT c_acctbal) AS l_distinct,
               count(*) >= 5 AS k_anonymous,
               count(DISTINCT c_acctbal) >= 2 AS l_diverse
        FROM customer GROUP BY 1, 2""") { (s, dir) =>
      DataQuality.kAnonymity(Tables.load(s, dir, "customer"),
        quasiCols = Seq("c_nationkey", "c_mktsegment"),
        sensitiveCol = "c_acctbal", k = 5, l = 2)
    },

    "dedup_contamination_bloom" -> QueryDef.noOracle(
      doc = "benchmark decontamination via a broadcast Bloom filter of eval shingle hashes (the benchmark-suite-scale variant of dedup_contamination: ~12 bits/shingle instead of the exact distinct set; no false negatives, ~1% FP ratio inflation) — opaque filter bits → rows-only; superset-ness and the FP bound are hash-gated in contamination_bloom_gate") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      Dedup.contaminationBloom(
        corpus = d.filter(col("doc_id") >= 50),
        eval = d.filter(col("doc_id") < 50),
        idCol = "doc_id", textCol = "text", k = 3, threshold = 0.5)
    },

    "contamination_bloom_gate" -> QueryDef.gateFrame(
      doc = "Bloom-decontamination guarantees vs the exact path, per doc: flagged set is a superset (no false negatives — every exact-contaminated doc stays flagged), per-doc overlap_ratio never shrinks, and the FP inflation stays within 2× the configured fpp on both flags and mean ratio",
      "bloom_superset_ok", "bloom_ratio_ok", "bloom_fp_ok") { (s, dir) =>
      val d = Tables.load(s, dir, "documents")
      val corpus = d.filter(col("doc_id") >= 50)
      val eval = d.filter(col("doc_id") < 50)
      val exact = Dedup.contamination(corpus, eval, "doc_id", "text",
          k = 3, threshold = 0.5)
        .select(col("doc_id"), col("overlap_ratio").as("r_exact"),
          col("is_contaminated").as("c_exact"))
        .localCheckpoint(true)
      val bloom = Dedup.contaminationBloom(corpus, eval, "doc_id", "text",
          k = 3, threshold = 0.5, fpp = 0.01)
        .select(col("doc_id"), col("overlap_ratio").as("r_bloom"),
          col("is_contaminated").as("c_bloom"))
        .localCheckpoint(true)
      exact.join(bloom, "doc_id").agg(
        (sum(when(col("c_exact") && !col("c_bloom"), 1).otherwise(0)) === 0)
          .as("bloom_superset_ok"),
        (sum(when(col("r_bloom") < col("r_exact"), 1).otherwise(0)) === 0)
          .as("bloom_ratio_ok"),
        ((avg((col("c_bloom") && !col("c_exact")).cast("int")) <= 0.02) &&
         (avg(col("r_bloom") - col("r_exact")) <= 0.02))
          .as("bloom_fp_ok"))
    },

    "kmv_state" -> QueryDef(
      doc = "bottom-k sample state (KMV/AKMV: Bar-Yossef'02, Beyer SIGMOD'07): per-lang, the 64 distinct 3-shingles with the smallest 60-bit md5 keys, each with its EXACT doc frequency - a deterministic (hash-ordered, no RNG) uniform sample of the distinct-shingle space that merges EXACTLY (bottom-k of a union of bottom-k's = bottom-k of the union) and doubles as the kmv_distinct estimator's state; hash-oracled row-for-row like its CMS/MG/quantile siblings",
      oracle = s"""
        WITH ${duckKmvShingles(64)}
        SELECT lang, item, hkey, cnt, n_rows FROM kmv""") { (s, dir) =>
      SketchState.sampleSketches(langShingleRows(s, dir),
        Seq("lang"), "item", k = 64)
    },

    "kmv_distinct" -> QueryDef(
      doc = "approximate distinct-shingle count per lang from KMV state alone at k=256: (k-1)/U_k over the k-th smallest normalized hash (Beyer et al. SIGMOD'07 unbiased estimator, RSE ~ 1/sqrt(k-2) ~ 6%), exact fall-through below k rows. Unlike HLL's engine-specific composite estimator this approximate count is BIT-REPRODUCIBLE cross-engine (one exact double multiply + one IEEE division of identically-derived values) - the estimate itself hash-oracles, envelope gated in kmv_error_gate",
      oracle = s"""
        WITH ${duckKmvShingles(256)}
        SELECT lang,
               round(CASE WHEN count(*) < 256 THEN CAST(count(*) AS DOUBLE)
                          ELSE 255 * 1152921504606846976.0 /
                               greatest(max(hkey), 1) END, 4) AS est_distinct,
               count(*) AS n_sample, max(n_rows) AS n_rows
        FROM kmv GROUP BY 1""") { (s, dir) =>
      SketchState.estimateDistinctKmv(
        SketchState.sampleSketches(langShingleRows(s, dir),
          Seq("lang"), "item", k = 256),
        Seq("lang"), k = 256)
        .withColumn("est_distinct", round(col("est_distinct"), 4))
    },

    "kmv_window_range" -> QueryDef(
      doc = "range sample from PERSISTED windowed KMV state: per-day bottom-16 user samples written to a store dir, read back, filtered to the same 7-day range as its cms/mg siblings, and re-compressed by one bottom-k pass over O(days x k) state rows - EXACTLY the bottom-16 sample of the range's distinct users with exact per-user event counts (AKMV closure: a survivor of the merged sample survived in every constituent day it appeared, so summed counts are exact), raw events never replay",
      oracle = """
        WITH t AS (SELECT CAST(ts AS DATE) AS ws,
                          CAST(user_id AS VARCHAR) AS item FROM events),
        dc AS (SELECT ws, item, count(*) AS cnt FROM t GROUP BY 1, 2),
        dh AS (SELECT ws, item, cnt,
                      ('0x' || substr(md5(item), 1, 15))::BIGINT AS hkey,
                      CAST(sum(cnt) OVER (PARTITION BY ws) AS BIGINT) AS n
               FROM dc),
        dr AS (SELECT ws, item, hkey, cnt, n, row_number() OVER (
                 PARTITION BY ws ORDER BY hkey ASC, item ASC) AS rk
               FROM dh),
        st AS (SELECT ws, item, hkey, cnt, n AS n_rows FROM dr
               WHERE rk <= 16),
        rng AS (SELECT * FROM st WHERE ws BETWEEN DATE '2024-01-03'
                                             AND DATE '2024-01-09'),
        ntot AS (SELECT CAST(sum(wn) AS BIGINT) AS n FROM (
                   SELECT ws, max(n_rows) AS wn FROM rng GROUP BY 1)),
        s2 AS (SELECT item, CAST(sum(cnt) AS BIGINT) AS cnt,
                      min(hkey) AS hkey
               FROM rng GROUP BY 1),
        r2 AS (SELECT item, hkey, cnt, row_number() OVER (
                 ORDER BY hkey ASC, item ASC) AS rk FROM s2)
        SELECT item, hkey, cnt, ntot.n AS n_rows
        FROM r2 CROSS JOIN ntot WHERE rk <= 16""") { (s, dir) =>
      val state = SketchState.sampleSketches(
        Tables.load(s, dir, "events")
          .select(to_date(col("ts")).as("ws"), col("user_id")),
        Seq("ws"), "user_id", k = 16)
      val store = java.nio.file.Files
        .createTempDirectory("graft-kmv-windows").toString
      state.write.mode("overwrite").parquet(store)
      SketchState.sampleRollup(
        s.read.parquet(store).filter(col("ws").between(
          lit("2024-01-03").cast("date"), lit("2024-01-09").cast("date"))),
        Seq(), k = 16)
    },

    "kmv_jaccard" -> QueryDef(
      doc = "pairwise corpus overlap from sample state ALONE (Beyer SIGMOD'07 multiset operations): for every lang pair, the combined bottom-256 of the two shingle samples is a valid KMV synopsis of the UNION, and the fraction of its items present in BOTH samples is an unbiased Jaccard estimator (membership flags are exact: an item of the combined bottom-k that belongs to a set is provably in that set's sample) - 'how much do two corpora overlap' at 4-digit determinism without rescanning or even retaining the raw corpora; envelopes gated in kmv_jaccard_gate",
      oracle = s"""
        WITH ${duckKmvShingles(256)},
        gs AS (SELECT DISTINCT lang FROM kmv),
        pairs AS (SELECT a.lang AS ga, b.lang AS gb
                  FROM gs a JOIN gs b ON a.lang < b.lang),
        cand AS (SELECT p.ga, p.gb, s.item, s.hkey,
                        max(CASE WHEN s.lang = p.ga THEN 1 ELSE 0 END) AS ina,
                        max(CASE WHEN s.lang = p.gb THEN 1 ELSE 0 END) AS inb
                 FROM pairs p JOIN kmv s ON s.lang IN (p.ga, p.gb)
                 GROUP BY 1, 2, 3, 4),
        r AS (SELECT ga, gb, ina, inb, hkey, row_number() OVER (
                PARTITION BY ga, gb ORDER BY hkey ASC, item ASC) AS rk
              FROM cand),
        t AS (SELECT ga, gb, count(*) AS kk,
                     CAST(sum(ina * inb) AS BIGINT) AS nboth,
                     max(hkey) AS uk
              FROM r WHERE rk <= 256 GROUP BY 1, 2)
        SELECT ga, gb,
               round(CAST(nboth AS DOUBLE) / CAST(kk AS DOUBLE), 4)
                 AS jaccard_est,
               round(CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
                          ELSE 255 * 1152921504606846976.0 /
                               greatest(uk, 1) END, 4) AS union_est,
               round((CAST(nboth AS DOUBLE) / CAST(kk AS DOUBLE)) *
                     CASE WHEN kk < 256 THEN CAST(kk AS DOUBLE)
                          ELSE 255 * 1152921504606846976.0 /
                               greatest(uk, 1) END, 4) AS inter_est
        FROM t""") { (s, dir) =>
      SketchState.jaccardFromSamples(
        SketchState.sampleSketches(langShingleRows(s, dir),
          Seq("lang"), "item", k = 256),
        "lang", k = 256, buildK = 256)
    },

    "kmv_jaccard_gate" -> QueryDef.gateFrame(
      doc = "overlap-estimate envelopes, every lang pair vs EXACT distinct-shingle set arithmetic: |jaccard_est - J| <= 0.125 (4x the binomial sigma <= 1/(2*sqrt(256))) and union_est within 25% (4x the KMV RSE) - and non-vacuity: the fixture's lang shingle sets genuinely overlap (some pair with J > 0)",
      "kmv_j_ok", "kmv_u_ok", "kmv_nonvacuous") { (s, dir) =>
      val k = 256
      val rows = langShingleRows(s, dir)
        .select(col("lang"), col("item")).distinct().localCheckpoint(true)
      val est = SketchState.jaccardFromSamples(
        SketchState.sampleSketches(rows, Seq("lang"), "item", k), "lang",
        k, buildK = k)
      val sz = rows.groupBy("lang").agg(count(lit(1)).as("n"))
      val inter = rows.select(col("lang").as("ga"), col("item"))
        .join(rows.select(col("lang").as("gb"), col("item")), "item")
        .filter(col("ga") < col("gb"))
        .groupBy("ga", "gb").agg(count(lit(1)).as("ni"))
      val truth = inter
        .join(sz.select(col("lang").as("ga"), col("n").as("na")), "ga")
        .join(sz.select(col("lang").as("gb"), col("n").as("nb")), "gb")
        .select(col("ga"), col("gb"),
          (col("ni").cast("double") /
            (col("na") + col("nb") - col("ni")).cast("double")).as("j_true"),
          (col("na") + col("nb") - col("ni")).cast("double").as("u_true"))
      est.join(truth, Seq("ga", "gb"), "full_outer")
        .select(coalesce(col("jaccard_est"), lit(0.0)).as("je"),
          coalesce(col("union_est"), lit(0.0)).as("ue"),
          coalesce(col("j_true"), lit(0.0)).as("jt"),
          coalesce(col("u_true"), lit(0.0)).as("ut"))
        .agg(
          (sum(when(abs(col("je") - col("jt")) > 0.125, 1).otherwise(0)) === 0)
            .as("kmv_j_ok"),
          (sum(when(abs(col("ue") / col("ut") - 1) > 0.25, 1).otherwise(0))
            === 0).as("kmv_u_ok"),
          (max(col("jt")) > 0).as("kmv_nonvacuous"))
    },

    "kmv_joinsize" -> QueryDef(
      doc = "equi-join OUTPUT-SIZE estimate from sample state alone (Beyer SIGMOD'07 aggregate-over-union applied to g = cA*cB): how many rows would joining the even and odd halves of events on (user_id, event_type) produce - answered from two <=256-row AKMV states, never running the join: the combined bottom-256 is a KMV synopsis of the key-space union, membership flags AND ride-along multiplicities of its items are exact, so D_union x mean(cA*cB over the sample) is unbiased; exact fall-through below k. The planning question this serves at 100 TB: pick join order / strategy from state tables instead of running the candidates. Deterministic arithmetic - the estimate itself hash-oracles; envelope vs the true join size gated in kmv_joinsize_gate",
      oracle = """
        WITH ea AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type
                      AS item FROM events WHERE event_id % 2 = 0),
        ca AS (SELECT item, count(*) AS ca FROM ea GROUP BY 1),
        eb AS (SELECT CAST(user_id AS VARCHAR) || ':' || event_type
                 AS item FROM events WHERE event_id % 2 = 1),
        cb AS (SELECT item, count(*) AS cb FROM eb GROUP BY 1),
        ha AS (SELECT item, ca,
                      ('0x' || substr(md5(item), 1, 15))::BIGINT AS hkey
               FROM ca),
        hb AS (SELECT item, cb,
                      ('0x' || substr(md5(item), 1, 15))::BIGINT AS hkey
               FROM cb),
        ra AS (SELECT item, hkey, ca FROM (
                 SELECT ha.*, row_number() OVER (ORDER BY hkey, item) AS rk
                 FROM ha) WHERE rk <= 256),
        rb AS (SELECT item, hkey, cb FROM (
                 SELECT hb.*, row_number() OVER (ORDER BY hkey, item) AS rk
                 FROM hb) WHERE rk <= 256),
        u AS (SELECT item, hkey, ca, cb
              FROM ra FULL OUTER JOIN rb USING (item, hkey)),
        l AS (SELECT * FROM (
                SELECT u.*, row_number() OVER (ORDER BY hkey, item) AS rk
                FROM u) WHERE rk <= 256),
        t AS (SELECT count(*) AS kk, max(hkey) AS uk,
                     CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
                       THEN ca * cb ELSE 0 END) AS BIGINT) AS g
              FROM l)
        SELECT CASE WHEN kk < 256 THEN CAST(g AS DOUBLE)
               ELSE round((255 * 1152921504606846976.0 / greatest(uk, 1)) *
                          (CAST(g AS DOUBLE) / kk), 4) END AS join_size_est,
               CAST(kk AS BIGINT) AS n_sample
        FROM t""") { (s, dir) =>
      val ev = Tables.load(s, dir, "events")
        .select(col("event_id"), concat_ws(":",
          col("user_id").cast("string"), col("event_type")).as("key"))
      SketchState.estimateJoinSize(
        SketchState.sampleSketches(
          ev.filter(col("event_id") % 2 === 0), Seq(), "key", 256),
        SketchState.sampleSketches(
          ev.filter(col("event_id") % 2 === 1), Seq(), "key", 256),
        k = 256, buildK = 256)
    },

    "kmv_joinsize_gate" -> QueryDef.gate(
      doc = "join-size estimator envelopes vs the TRUE join size (exact sum of cA*cB over matching keys): (1) estimator mode (750 composite keys > k = 256) within 30% of truth - the measured fixture error is 1.5%, the 30% bound is the distribution-free slack for skewier keys; (2) exact fall-through - on user_id alone (150 keys < k) the estimate EQUALS the true size as an integer; (3) non-vacuity: the true join size is positive",
      "kmv_js_est_ok", "kmv_js_exact_ok", "kmv_js_nonvacuous") { (s, dir) =>
      import s.implicits._
      def truth(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame): Long =
        a.groupBy("key").agg(count(lit(1)).as("ca"))
          .join(b.groupBy("key").agg(count(lit(1)).as("cb")), "key")
          .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)))
          .as[Long].head()
      def est(a: org.apache.spark.sql.DataFrame,
          b: org.apache.spark.sql.DataFrame): Double =
        SketchState.estimateJoinSize(
          SketchState.sampleSketches(a, Seq(), "key", 256),
          SketchState.sampleSketches(b, Seq(), "key", 256), 256,
          buildK = 256)
          .select("join_size_est").as[Double].head()
      val ev = Tables.load(s, dir, "events").localCheckpoint(true)
      val fine = ev.select(col("event_id"), concat_ws(":",
        col("user_id").cast("string"), col("event_type")).as("key"))
      val (fa, fb) = (fine.filter(col("event_id") % 2 === 0),
        fine.filter(col("event_id") % 2 === 1))
      val (tFine, eFine) = (truth(fa, fb), est(fa, fb))
      val coarse = ev.select(col("event_id"),
        col("user_id").cast("string").as("key"))
      val (caD, cbD) = (coarse.filter(col("event_id") % 2 === 0),
        coarse.filter(col("event_id") % 2 === 1))
      val (tCoarse, eCoarse) = (truth(caD, cbD), est(caD, cbD))
      Seq(math.abs(eFine / tFine - 1) <= 0.30, eCoarse == tCoarse.toDouble,
        tFine > 0 && tCoarse > 0)
    },

    "theta_window_sample" -> QueryDef(
      doc = "bottom-k read from PERSISTED fixed-theta window state (the Theta-sketch sampling mode, the STREAMING-SHAPED twin of kmv_window_range): per-day rows keep every user whose fixed 60-bit key lands under theta=1/4 - a plain filter + count aggregation, the form sampleSketchWindows streams because bottom-k's rank window cannot; the filter drops the (1-theta) mass BEFORE the shuffle. The batch read re-sums the 7-day range item-wise and takes the k=8 hash-smallest, provably the TRUE bottom-8 of the range's distinct users because >= k state rows exist (complete flag); counts exact outright (nothing under the threshold is ever dropped)",
      oracle = """
        WITH t AS (SELECT CAST(ts AS DATE) AS ws,
                          CAST(user_id AS VARCHAR) AS item FROM events),
        h AS (SELECT ws, item,
                     ('0x' || substr(md5(item), 1, 15))::BIGINT AS hkey
              FROM t),
        f AS (SELECT ws, item, hkey, count(*) AS cnt FROM h
              WHERE hkey < 288230376151711744 GROUP BY 1, 2, 3),
        rng AS (SELECT * FROM f WHERE ws BETWEEN DATE '2024-01-03'
                                            AND DATE '2024-01-09'),
        s2 AS (SELECT item, hkey, CAST(sum(cnt) AS BIGINT) AS cnt
               FROM rng GROUP BY 1, 2),
        r2 AS (SELECT item, hkey, cnt,
                      row_number() OVER (ORDER BY hkey ASC, item ASC) AS rk,
                      count(*) OVER () AS avail
               FROM s2)
        SELECT item, hkey, cnt, avail >= 8 AS complete
        FROM r2 WHERE rk <= 8""") { (s, dir) =>
      val state = SketchState.thetaSketches(
        Tables.load(s, dir, "events")
          .select(to_date(col("ts")).as("ws"), col("user_id")),
        Seq("ws"), "user_id", theta = 0.25)
      val store = java.nio.file.Files
        .createTempDirectory("graft-theta-windows").toString
      state.write.mode("overwrite").parquet(store)
      SketchState.sampleFromTheta(
        s.read.parquet(store).filter(col("ws").between(
          lit("2024-01-03").cast("date"), lit("2024-01-09").cast("date"))),
        Seq(), k = 8)
    },

    "kmv_error_gate" -> QueryDef.gate(
      doc = "KMV guarantees: split-corpus merge == direct build BIT-EXACTLY (row-set equality both directions - stronger than the MG/HLL within-bound contracts, because the hash order is a fixed function of the item), every surviving sample row's count exact vs ground truth (AKMV closure), per-lang windowed state rolled up == direct global build exactly, and the k=256 distinct estimate within 4 RSE (25%) of the true distinct count",
      "kmv_merge_ok", "kmv_counts_ok", "kmv_rollup_ok",
      "kmv_est_ok") { (s, dir) =>
      val k = 64
      // deterministic 1-in-3 SLICE (the corpus_topics_gate diet): the
      // four legs are corpus-size-free invariants — merge ≡ direct is
      // bit-exact at any size, AKMV closure is per-surviving-row, the
      // rollup identity is algebraic, and the 4·RSE estimate bound is
      // distribution-free (below k items KMV is exact outright). The
      // un-dieted gate built FIVE full shingle sketches and was the
      // most expensive row of the round-11 sweep (7.7 s stable)
      val rows = langShingleRows(s, dir)
        .filter(col("doc_id") % 3 === 0).localCheckpoint(true)
      // doc-parity split: occurrences of one item land on BOTH sides,
      // so surviving counts being exact exercises the AKMV closure,
      // not just disjoint-item bookkeeping.
      // The four sketch builds over the checkpointed rows are
      // independent — materialize them concurrently (Par: guide
      // §2.6), then run the four check actions concurrently too; at
      // one job each over checkpointed inputs they were pure serial
      // latency. Each equality leg folds both exceptAll directions
      // into ONE short-circuiting job (the r12 store-gate fold).
      val (direct, merged, directGlobal, est) = Par.four(
        SketchState.sampleSketches(rows, Seq("lang"), "item", k)
          .localCheckpoint(true),
        SketchState.mergeSampleSketches(
          SketchState.sampleSketches(
            rows.filter(col("doc_id") % 2 === 0), Seq("lang"), "item", k),
          SketchState.sampleSketches(
            rows.filter(col("doc_id") % 2 === 1), Seq("lang"), "item", k),
          Seq("lang"), k).localCheckpoint(true),
        SketchState.sampleSketches(
          rows.select(col("item")), Seq(), "item", k)
          .localCheckpoint(true),
        SketchState.estimateDistinctKmv(
          SketchState.sampleSketches(rows, Seq("lang"), "item", 256),
          Seq("lang"), 256).localCheckpoint(true))
      val truth = rows.groupBy(col("lang"), col("item"))
        .agg(count(lit(1)).as("true_cnt"))
      // per-lang windowed state → global rollup ≡ direct global build
      val rolledGlobal = SketchState.sampleRollup(direct, Seq(), k)
      val (mergeOk, countsOk, rollupOk, estOk) = Par.four(
        Gate.sameRows(merged, direct),
        direct.join(truth, Seq("lang", "item"), "left")
          .agg((sum(when(col("cnt") =!= col("true_cnt"), 1).otherwise(0)) === 0)
            .cast("int")).first().getInt(0) == 1,
        Gate.sameRows(rolledGlobal, directGlobal),
        est
          .join(truth.groupBy("lang").agg(
            count(lit(1)).cast("double").as("true_d")), "lang")
          .agg((sum(when(
            abs(col("est_distinct") / col("true_d") - 1) > 0.25, 1)
            .otherwise(0)) === 0).cast("int")).first().getInt(0) == 1)
      Seq(mergeOk, countsOk, rollupOk, estOk)
    }
  )
}
