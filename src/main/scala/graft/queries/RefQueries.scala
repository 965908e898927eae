package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, BloomJoin, DataQuality, Flatten, Incremental, Melt, RangeJoin, Sessionize, SketchState, SkewJoin}
import graft.reports.ReportRegistry
import graft.sources.Tables

/** The reference operator surface (SURVEY §2) re-expressed over the
  * driver's star schema (FIXTURES.md §A mapping): every query here has
  * a DuckDB oracle and exercises one row of the §2 inventory.
  *
  * Conventions (see [[QueryDef]]): aliases identical on both sides;
  * cross-engine-aggregated doubles rounded; DuckDB integer aggregates
  * cast to match Spark's output types (DuckDB sum(BIGINT) is INT128,
  * year() is BIGINT, window sum is INT128).
  */
object RefQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The row-local rule battery shared by dq_checks (full scan) and
    * dq_checks_merge (two parity deltas folded): the merge's oracle
    * is the full-scan SQL, so hash equality is the merge ≡ rebuild
    * proof. The discount range is deliberately tighter than the
    * data's [0, 0.1] so one rule FAILS (pass_rate ≈ 0.5 < 0.9) and
    * the report's failing path is driver-exercised.
    */
  private def dqRowRules = Seq(
    graft.operators.DataQuality.notNull("l_shipdate"),
    graft.operators.DataQuality.inRange("l_discount", 0.0, 0.05),
    graft.operators.DataQuality.inSet("l_returnflag", Seq("A", "N", "R")),
    graft.operators.DataQuality.nonNegative("l_quantity"))

  private val dqRowRulesSql = {
    val rules = Seq(
      "not_null(l_shipdate)" -> "l_shipdate IS NOT NULL",
      "in_range(l_discount)" -> "coalesce(l_discount BETWEEN 0.0 AND 0.05, FALSE)",
      "in_set(l_returnflag)" -> "coalesce(l_returnflag IN ('A','N','R'), FALSE)",
      "non_negative(l_quantity)" -> "coalesce(l_quantity >= 0, FALSE)")
    rules.map { case (name, pred) =>
      s"""
        SELECT '$name' AS rule,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_violations,
               round((count(*) - sum(CASE WHEN $pred THEN 0 ELSE 1 END)) * 1.0
                 / count(*), 4) AS pass_rate,
               round((count(*) - sum(CASE WHEN $pred THEN 0 ELSE 1 END)) * 1.0
                 / count(*), 4) >= 0.9 AS passed
        FROM lineitem"""
    }.mkString(" UNION ALL ")
  }

  /** Shared by q43 (full build) and q44 (incremental merge): the
    * merge's oracle is the FULL-rerun SQL — hash equality is the
    * merge ≡ rebuild proof.
    */
  private val scd2OracleSql = scd2OracleSqlOver("events")

  /** The SCD2 build as SQL over any source relation/subquery —
    * q45's oracle rebuilds history over the non-purchase stream.
    */
  private def scd2OracleSqlOver(src: String) = s"""
    WITH runs0 AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = lag(event_type)
               OVER (PARTITION BY user_id ORDER BY ts, event_id)
             THEN 0 ELSE 1 END AS chg
      FROM $src),
    runs1 AS (
      SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS run
      FROM runs0),
    runs AS (
      SELECT user_id, run, any_value(event_type) AS event_type,
             min(ts) AS valid_from, count(*) AS n_events
      FROM runs1 GROUP BY user_id, run)
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id
             ORDER BY valid_from, run) AS valid_to,
           (lead(valid_from) OVER (PARTITION BY user_id
             ORDER BY valid_from, run) IS NULL) AS is_current,
           n_events
    FROM runs"""

  /** The reference README's reports.json block EXACTLY as published
    * (reference README.md:289-330) — MySQL dialect, bare
    * stored-procedure-style param identifiers and all; also quoted in
    * MambaLifecycleSpec. report_verbatim serves it from a persisted
    * analysis store.
    */
  private val verbatimReportsJson = """
    {
      "report_definitions": [
        {
          "report_name": "MCH Mother HIV Status",
          "report_id": "mother_hiv_status",
          "report_sql": {
            "sql_query": "SELECT pm.hiv_test_result AS hiv_test_result FROM mamba_flat_encounter_pmtct_anc pm INNER JOIN mamba_dim_person p ON pm.client_id = p.person_id WHERE p.uuid = person_uuid AND pm.ptracker_id = ptracker_id",
            "query_params": [
              { "name": "ptracker_id", "type": "VARCHAR(255)" },
              { "name": "person_uuid", "type": "VARCHAR(255)" }
            ]
          }
        },
        {
          "report_name": "MCH Total Deliveries",
          "report_id": "total_deliveries",
          "report_sql": {
            "sql_query": "SELECT COUNT(*) AS total_deliveries FROM mamba_dim_encounter e inner join mamba_dim_encounter_type et on e.encounter_type = et.encounter_type_id WHERE et.uuid = '6dc5308d-27c9-4d49-b16f-2c5e3c759757' AND DATE(e.encounter_datetime) > CONCAT(YEAR(CURDATE()), '-01-01 00:00:00')",
            "query_params": []
          }
        },
        {
          "report_name": "MCH HIV-Exposed Infants",
          "report_id": "total_hiv_exposed_infants",
          "report_sql": {
            "sql_query": "SELECT COUNT(DISTINCT ei.infant_client_id) AS total_hiv_exposed_infants FROM mamba_fact_pmtct_exposedinfants ei INNER JOIN mamba_dim_person p ON ei.infant_client_id = p.person_id WHERE ei.encounter_datetime BETWEEN DATE_FORMAT(NOW(), '%Y-01-01') AND NOW() AND birthdate BETWEEN DATE_FORMAT(NOW(), '%Y-01-01') AND NOW()",
            "query_params": []
          }
        }
      ]
    }"""

  private lazy val reports: ReportRegistry = {
    val in = getClass.getResourceAsStream("/reports.json")
    val json = scala.io.Source.fromInputStream(in, "UTF-8").mkString
    ReportRegistry.fromJson(json)
  }

  val defs: Map[String, QueryDef] = Map(

    // ── §2.4 A1/A4 + §2.2: scan → filter → hash agg (partial+final) ──
    "q1_pricing_summary" -> QueryDef(
      doc = "TPC-H Q1 shape: grouped sums/avgs/count with a pushed-down date filter (SURVEY A1/A4/P4)",
      oracle = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               round(round(sum(l_quantity), 2) / count(*), 4) AS avg_qty,
               round(round(sum(l_discount), 2) / count(*), 4) AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate < TIMESTAMP '2001-06-01'
        GROUP BY l_returnflag, l_linestatus""") { (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit("2001-06-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          // avg re-expressed as rounded-sum / count: inputs are
          // 2-decimal quantized, so round(sum,2) is never a rounding
          // boundary and both engines land on the identical double —
          // a bare round(avg,4) can straddle a half-ulp boundary.
          round(round(sum(col("l_quantity")), 2) / count(lit(1)), 4).as("avg_qty"),
          round(round(sum(col("l_discount")), 2) / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
    },

    // ── reference report #2 (README.md:309-315): dim join + range + COUNT(*) ──
    "q2_report_total_deliveries" -> QueryDef(
      doc = "report #2 via ReportRegistry: join + segment filter + date window + COUNT(*) (SURVEY J2/P2/P4/A1/F8)",
      oracle = """
        SELECT COUNT(*) AS total_deliveries
        FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
          AND o.o_orderdate < TIMESTAMP '2001-01-01'""") { (s, dir) =>
      Tables.registerAll(s, dir)
      reports.run(s, "total_deliveries", Map(
        "mktsegment" -> "BUILDING",
        "date_from" -> "2000-01-01", "date_to" -> "2001-01-01"))
    },

    // ── reference report #3 (README.md:317-326): COUNT(DISTINCT) + BETWEEN ×2 ──
    "q3_report_distinct_clients" -> QueryDef(
      doc = "report #3: COUNT(DISTINCT) over a doubly-BETWEEN-bounded join (SURVEY A2/P5/J3)",
      oracle = """
        SELECT COUNT(DISTINCT o.o_custkey) AS total_clients
        FROM orders o INNER JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE o.o_orderdate BETWEEN TIMESTAMP '1998-01-01' AND TIMESTAMP '2001-12-31'
          AND c.c_acctbal BETWEEN 0 AND 5000""") { (s, dir) =>
      Tables.registerAll(s, dir)
      reports.run(s, "exposed_infants", Map(
        "date_from" -> "1998-01-01", "date_to" -> "2001-12-31",
        "bal_lo" -> 0, "bal_hi" -> 5000))
    },

    // ── reference report #1 (README.md:292-307): typed named params ──
    "q4_report_client_lookup" -> QueryDef(
      doc = "report #1: parameterized projection with aliases (SURVEY P1/P2/F7/F8)",
      oracle = """
        SELECT c_custkey AS client_id, c_name AS client_name,
               round(c_acctbal, 2) AS acctbal
        FROM customer WHERE c_mktsegment = 'BUILDING'""") { (s, dir) =>
      Tables.registerAll(s, dir)
      reports.run(s, "client_lookup", Map("mktsegment" -> "BUILDING"))
    },

    // ── §2.4 A3: the flagship flatten (EAV pivot), melt→pivot on lineitem ──
    "q5_flatten_pivot" -> QueryDef(
      doc = "core flatten: typed EAV → wide row per entity via conditional agg (SURVEY A3, reference README.md:7-12)",
      oracle = """
        WITH eav AS (
          SELECT l_orderkey*8+l_linenumber AS encounter_id, 'quantity' AS concept,
                 l_quantity AS value_numeric, CAST(NULL AS VARCHAR) AS value_text FROM lineitem
          UNION ALL SELECT l_orderkey*8+l_linenumber, 'extendedprice', l_extendedprice, NULL FROM lineitem
          UNION ALL SELECT l_orderkey*8+l_linenumber, 'discount', l_discount, NULL FROM lineitem
          UNION ALL SELECT l_orderkey*8+l_linenumber, 'returnflag', CAST(NULL AS DOUBLE), l_returnflag FROM lineitem
          UNION ALL SELECT l_orderkey*8+l_linenumber, 'linestatus', CAST(NULL AS DOUBLE), l_linestatus FROM lineitem)
        SELECT encounter_id,
               max(CASE WHEN concept = 'quantity' THEN value_numeric END) AS quantity,
               max(CASE WHEN concept = 'extendedprice' THEN value_numeric END) AS extendedprice,
               max(CASE WHEN concept = 'discount' THEN value_numeric END) AS discount,
               max(CASE WHEN concept = 'returnflag' THEN value_text END) AS returnflag,
               max(CASE WHEN concept = 'linestatus' THEN value_text END) AS linestatus
        FROM eav GROUP BY encounter_id""") { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val ent = (col("l_orderkey") * 8 + col("l_linenumber")).as("encounter_id")
      def num(attr: String, c: Column) = li.select(ent,
        lit(attr).as("concept"), c.as("value_numeric"),
        lit(null).cast("string").as("value_text"))
      def txt(attr: String, c: Column) = li.select(ent,
        lit(attr).as("concept"), lit(null).cast("double").as("value_numeric"),
        c.as("value_text"))
      val eav = num("quantity", col("l_quantity"))
        .unionByName(num("extendedprice", col("l_extendedprice")))
        .unionByName(num("discount", col("l_discount")))
        .unionByName(txt("returnflag", col("l_returnflag")))
        .unionByName(txt("linestatus", col("l_linestatus")))
      Flatten.pivotLatest(eav, "encounter_id", "concept",
        labels = Seq(
          ("quantity", "quantity", col("value_numeric")),
          ("extendedprice", "extendedprice", col("value_numeric")),
          ("discount", "discount", col("value_numeric")),
          ("returnflag", "returnflag", col("value_text")),
          ("linestatus", "linestatus", col("value_text"))),
        tieBreak = Nil)
    },

    // ── §2.7 T2: width-capped continuation tables (README.md:130-131) ──
    "q47_flatten_continuation" -> QueryDef(
      doc = "width cap mambaetl.analysis.columns: a 5-concept EAV (orders melted; o_orderkey is unique so the collision rule is moot) splits at cap=2 into mamba-style continuation tables (t, t_1, t_2) sharing encounter_id; the query rejoins them on the key, and hash-equality with the UNSPLIT pivot's SQL is the losslessness proof (SURVEY T2, reference README.md:130-131,154)",
      oracle = """
        WITH eav AS (
          SELECT o_orderkey AS encounter_id, 1 AS concept_id,
                 round(o_totalprice, 2) AS value_numeric,
                 CAST(NULL AS VARCHAR) AS value_text,
                 CAST(NULL AS TIMESTAMP) AS value_datetime FROM orders
          UNION ALL SELECT o_orderkey, 2, CAST(o_custkey AS DOUBLE), NULL, NULL FROM orders
          UNION ALL SELECT o_orderkey, 3, CAST(NULL AS DOUBLE), o_orderstatus, NULL FROM orders
          UNION ALL SELECT o_orderkey, 4, CAST(NULL AS DOUBLE), o_orderpriority, NULL FROM orders
          UNION ALL SELECT o_orderkey, 5, CAST(NULL AS DOUBLE), NULL, o_orderdate FROM orders)
        SELECT encounter_id,
               max(CASE WHEN concept_id = 1 THEN value_numeric END) AS totalprice,
               max(CASE WHEN concept_id = 2 THEN value_numeric END) AS custkey,
               max(CASE WHEN concept_id = 3 THEN value_text END) AS orderstatus,
               max(CASE WHEN concept_id = 4 THEN value_text END) AS orderpriority,
               max(CASE WHEN concept_id = 5 THEN value_datetime END) AS orderdate
        FROM eav GROUP BY encounter_id""") { (s, dir) =>
      val o = t(s, dir, "orders")
      // obs-shaped rows (voided flag + tiebreak audit columns) so the
      // split runs through the REAL flattenObs path, not pivotLatest
      def obsRows(cid: Int, numC: Option[Column], txtC: Option[Column],
          dtC: Option[Column] = None) =
        o.select(col("o_orderkey").as("encounter_id"),
          lit(cid).as("concept_id"),
          numC.getOrElse(lit(null).cast("double")).as("value_numeric"),
          txtC.getOrElse(lit(null).cast("string")).as("value_text"),
          dtC.getOrElse(lit(null).cast("timestamp")).as("value_datetime"),
          lit(0).as("voided"),
          lit("2000-01-01").cast("timestamp").as("obs_datetime"),
          col("o_orderkey").as("obs_id"))
      val obs = obsRows(1, Some(round(col("o_totalprice"), 2)), None)
        .unionByName(obsRows(2, Some(col("o_custkey").cast("double")), None))
        .unionByName(obsRows(3, None, Some(col("o_orderstatus"))))
        .unionByName(obsRows(4, None, Some(col("o_orderpriority"))))
        .unionByName(obsRows(5, None, None, Some(col("o_orderdate"))))
      val cfg = graft.model.FlatTableConfig("mamba_flat_encounter_9", 9, Seq(
        graft.model.FlatColumn("totalprice", 1L, "Numeric"),
        graft.model.FlatColumn("custkey", 2L, "Numeric"),
        graft.model.FlatColumn("orderstatus", 3L, "Text"),
        graft.model.FlatColumn("orderpriority", 4L, "Text"),
        graft.model.FlatColumn("orderdate", 5L, "Datetime")))
      val tables = Flatten.flattenObsSplit(obs, cfg, maxColumns = 2)
      assert(tables.map(_._1) == Seq("mamba_flat_encounter_9",
        "mamba_flat_encounter_9_1", "mamba_flat_encounter_9_2"),
        "continuation naming contract")
      tables.map(_._2).reduce(_.join(_, Seq("encounter_id")))
    },

    // ── melt (inverse of A3; SURVEY §5b round-trip partner) ──
    "q6_melt_unpivot" -> QueryDef(
      doc = "unpivot wide → EAV long via stack() (narrow, no shuffle)",
      oracle = """
        SELECT l_orderkey, l_linenumber, 'l_quantity' AS attr, l_quantity AS val FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""") { (s, dir) =>
      Melt.melt(t(s, dir, "lineitem"),
        idCols = Seq("l_orderkey", "l_linenumber"),
        valueCols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
    },

    // ── §2.1 S3: incremental MERGE as anti-join + union ──
    "q7_incremental_merge" -> QueryDef(
      doc = "incremental mode 1: delta rows replace same-key rows, rest survive (SURVEY S3, reference README.md:133-134)",
      oracle = """
        WITH delta AS (
          SELECT o_orderkey, round(o_totalprice + 1000, 2) AS o_totalprice,
                 'RESTATED' AS o_orderpriority
          FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01')
        SELECT o_orderkey, o_totalprice, o_orderpriority FROM delta
        UNION ALL
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice, o_orderpriority
        FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM delta d WHERE d.o_orderkey = o.o_orderkey)""") { (s, dir) =>
      val o = t(s, dir, "orders")
      val existing = o.select(col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"), col("o_orderpriority"))
      val delta = o.filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("o_orderkey"),
          round(col("o_totalprice") + 1000, 2).as("o_totalprice"),
          lit("RESTATED").as("o_orderpriority"))
      Incremental.merge(existing, delta, Seq("o_orderkey"))
    },

    // ── §2.3 J1-J3: three-way star join, small dims broadcast ──
    "q8_star_join" -> QueryDef(
      doc = "customer ⋈ nation ⋈ region with broadcast dims, grouped rollup metrics (SURVEY J1/J2)",
      oracle = """
        SELECT r.r_name, n.n_name,
               count(*) AS n_customers,
               round(round(sum(c.c_acctbal), 2) / count(*), 4) AS avg_bal,
               round(sum(c.c_acctbal), 2) AS sum_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name, n.n_name""") { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name"), n("n_name"))
        .agg(
          count(lit(1)).as("n_customers"),
          round(round(sum(col("c_acctbal")), 2) / count(lit(1)), 4).as("avg_bal"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
    },

    // ── §2.6 F1-F7 scalar date/string functions incl. the F6 dialect shape ──
    "q9_scalar_dates" -> QueryDef(
      doc = "scalar functions of the reference SQL: DATE, YEAR, DATE_FORMAT('%Y-01-01'), CONCAT (SURVEY F1/F2/F5/F6)",
      oracle = """
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS o_year,
               CAST(month(o_orderdate) AS INTEGER) AS o_month,
               strftime(o_orderdate, '%Y-%m-%d') AS o_day,
               strftime(o_orderdate, '%Y-01-01') AS year_floor,
               o_orderpriority || '/' || o_orderstatus AS tag
        FROM orders""") { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        // string-typed day: DATE columns round-trip differently through
        // the two engines' result readers; F1's to_date is exercised in
        // ScalaTest instead.
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_day"),
        date_format(col("o_orderdate"), "yyyy-01-01").as("year_floor"),
        concat(col("o_orderpriority"), lit("/"), col("o_orderstatus")).as("tag"))
    },

    // ── §2.5 window dedup (the A3 collision rule, standalone) ──
    "q10_window_dedup" -> QueryDef(
      doc = "latest-row-per-key via row_number window — the flatten collision rule (SURVEY §2.5, §7.5)",
      oracle = """
        SELECT l_orderkey, l_linenumber, l_shipdate FROM (
          SELECT l_orderkey, l_linenumber, l_shipdate,
                 row_number() OVER (PARTITION BY l_orderkey
                   ORDER BY l_shipdate DESC, l_linenumber DESC) AS rn
          FROM lineitem) WHERE rn = 1""") { (s, dir) =>
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_shipdate").desc, col("l_linenumber").desc)
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
    },

    // ── §2.5 order-by + limit (free via Spark; TakeOrderedAndProject) ──
    "q11_topn" -> QueryDef(
      doc = "global top-N: planned as TakeOrderedAndProject — per-partition heap + driver merge, no full sort (SURVEY §2.5)",
      oracle = """
        SELECT o_orderkey, round(o_totalprice, 2) AS o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""") { (s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("o_totalprice"))
    },

    // ── §2.5 set ops ──
    "q12_set_ops" -> QueryDef(
      doc = "INTERSECT / EXCEPT / UNION ALL over key sets (SURVEY §2.5)",
      oracle = """
        WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             active AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders
                        WHERE o_orderdate >= TIMESTAMP '2000-01-01')
        SELECT c_custkey, 'active' AS status FROM (SELECT * FROM building INTERSECT SELECT * FROM active)
        UNION ALL
        SELECT c_custkey, 'inactive' AS status FROM (SELECT * FROM building EXCEPT SELECT * FROM active)""") { (s, dir) =>
      val building = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val active = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.intersect(active).withColumn("status", lit("active"))
        .unionByName(
          building.except(active).withColumn("status", lit("inactive")))
    },

    // ── §2.7 streaming surface, batch twin: tumbling window agg ──
    "q13_events_tumbling" -> QueryDef(
      doc = "tumbling 1h windows over events via window() (SURVEY §2.7; streaming twin in graft.streaming)",
      oracle = """
        SELECT date_trunc('hour', ts) AS ws, event_type,
               count(*) AS n, round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1, 2""") { (s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_value"))
    },

    // ── ext: batch sessionization ──
    "q14_events_sessionize" -> QueryDef(
      doc = "gap-based sessionization: lag + cumulative-sum windows sharing one shuffle (ext tier)",
      oracle = """
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
                      THEN 1 ELSE 0 END AS new_session
          FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        numbered AS (
          SELECT user_id, ts,
                 CAST(sum(new_session) OVER (PARTITION BY user_id
                   ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM flagged)
        SELECT user_id, session_id, count(*) AS n_events,
               min(ts) AS session_start, max(ts) AS session_end
        FROM numbered GROUP BY user_id, session_id""") { (s, dir) =>
      Sessionize.sessions(t(s, dir, "events"), gapSeconds = 1800L)
    },

    // ── ext: JSON payload extraction (events.props) ──
    "q15_events_json" -> QueryDef(
      doc = "semi-structured payload: JSON path extraction + typed agg (ext tier)",
      oracle = """
        SELECT event_type,
               count(*) AS n,
               round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS max_k
        FROM events GROUP BY event_type""") { (s, dir) =>
      val k = get_json_object(col("props"), "$.k").cast("int")
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(avg(k), 4).as("avg_k"),
          max(k).as("max_k"))
    },

    // ── §2.3 anti/semi joins (internal requirement of S3) ──
    "q16_anti_join" -> QueryDef(
      doc = "NOT EXISTS as broadcast-able left_anti join (SURVEY §2.3, S3 internals)",
      oracle = """
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)""") { (s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders").select(col("o_custkey").as("c_custkey")),
          Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    },

    "q24_subqueries" -> QueryDef(
      doc = "scalar + correlated subqueries through spark.sql (Catalyst decorrelates the inner count into a join)",
      oracle = """
        SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
               (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_items
        FROM orders o
        WHERE o.o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o.o_orderkey, round(o.o_totalprice, 2) AS o_totalprice,
               (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_items
        FROM orders o
        WHERE o.o_totalprice > (SELECT avg(o_totalprice) * 1.8 FROM orders)""")
    },

    "q25_grouping_sets" -> QueryDef(
      doc = "explicit GROUPING SETS (not rollup/cube-shaped) + grouping_id disambiguation, one aggregation pass",
      oracle = """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2) AS sum_qty,
               count(*) AS n_rows,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())""") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"),
          grouping_id().cast("int").as("gid"))
    },

    "q26_window_analytics" -> QueryDef(
      doc = "window analytics family: lag/lead, rank, ntile, cume_dist per customer (deterministic unique ordering)",
      oracle = """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price,
               round(lag(o_totalprice) OVER w, 2) AS prev_price,
               round(lead(o_totalprice) OVER w, 2) AS next_price,
               CAST(rank() OVER wp AS INTEGER) AS price_rank,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               round(cume_dist() OVER w, 4) AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wp AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)""") { (s, dir) =>
      // both windows hash-partition by o_custkey → ONE exchange, two
      // sorts; ordering includes the unique o_orderkey so every
      // rank/ntile/cume_dist value is deterministic
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wp = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        round(col("o_totalprice"), 2).as("price"),
        round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
        round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"),
        rank().over(wp).as("price_rank"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 4).as("cd"))
    },

    "q27_bloom_join" -> QueryDef(
      doc = "bloom-pruned equi-join ≡ plain join: fact side filtered by a membership sketch of the dim keys before the exchange (the rung between broadcast-hash and full shuffle)",
      oracle = """
        SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS total_price
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_mktsegment = 'BUILDING'
        GROUP BY 1""") { (s, dir) =>
      val dim = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      BloomJoin.prunedJoin(t(s, dir, "orders"), dim,
          factKey = "o_custkey", dimKey = "c_custkey",
          expectedItems = 100000L, fpp = 0.01)
        .groupBy(year(col("o_orderdate")).as("order_year"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
    },

    "q28_outer_join" -> QueryDef(
      doc = "FULL OUTER join closing the join-type matrix (inner/semi/anti/left-asof elsewhere): segment customers × per-customer order counts, nulls surviving on both sides",
      oracle = """
        SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
               c.c_mktsegment, o.n_orders
        FROM (SELECT c_custkey, c_mktsegment FROM customer
              WHERE c_mktsegment = 'BUILDING') c
        FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                         FROM orders GROUP BY o_custkey) o
        ON c.c_custkey = o.o_custkey""") { (s, dir) =>
      val c = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey", "c_mktsegment")
      val o = t(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(c("c_custkey"), o("o_custkey")).as("custkey"),
          col("c_mktsegment"), col("n_orders"))
    },

    "q29_percentiles" -> QueryDef(
      doc = "exact percentiles (linear-interpolated, the SQL-standard quantile_cont semantics) per group — the exact twin of q21's sketches",
      oracle = """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        FROM lineitem GROUP BY l_returnflag""") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
    },

    "q30_moving_window" -> QueryDef(
      doc = "RANGE-frame moving aggregate: 30-day trailing revenue per customer (value-based frame, not row-count — the frame family q26 doesn't cover)",
      oracle = """
        SELECT o_orderkey, o_custkey,
               round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey
                 ORDER BY epoch(o_orderdate)
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2)
                 AS trailing_30d
        FROM orders""") { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(unix_timestamp(col("o_orderdate")))
        .rangeBetween(-2592000L, Window.currentRow)
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"),
        round(sum(col("o_totalprice")).over(w), 2).as("trailing_30d"))
    },

    "q31_string_funcs" -> QueryDef(
      doc = "scalar string-function family: concat_ws/substr/replace/lpad/regexp_extract/split over customer names (POSIX-safe regex subset only)",
      oracle = """
        SELECT c_custkey,
               concat_ws('|', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nat,
               upper(substr(c_name, 1, 8)) AS name_prefix,
               replace(c_name, '#', '-') AS name_dashed,
               lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
               regexp_extract(c_name, '[0-9]+', 0) AS name_digits,
               CAST(len(string_split(c_name, '#')) AS INTEGER) AS n_parts
        FROM customer""") { (s, dir) =>
      t(s, dir, "customer").select(col("c_custkey"),
        concat_ws("|", col("c_mktsegment"), col("c_nationkey").cast("string"))
          .as("seg_nat"),
        upper(substring(col("c_name"), 1, 8)).as("name_prefix"),
        regexp_replace(col("c_name"), lit("#"), lit("-")).as("name_dashed"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("key_padded"),
        regexp_extract(col("c_name"), "[0-9]+", 0).as("name_digits"),
        size(split(col("c_name"), "#", -1)).as("n_parts"))
    },

    "q32_recursive_cte" -> QueryDef(
      doc = "recursive CTE: iterative self-referencing walk joining the orders table each step (linear recursion, Spark 4 WITH RECURSIVE)",
      oracle = """
        WITH RECURSIVE chain(orderkey, custkey, depth) AS (
          SELECT o_orderkey, o_custkey, 0 FROM orders WHERE o_orderkey = 1
          UNION ALL
          SELECT o.o_orderkey, o.o_custkey, c.depth + 1
          FROM chain c JOIN orders o ON o.o_orderkey = c.orderkey * 2
          WHERE c.depth < 30)
        SELECT orderkey, custkey, CAST(depth AS INTEGER) AS depth FROM chain""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        WITH RECURSIVE chain(orderkey, custkey, depth) AS (
          SELECT o_orderkey, o_custkey, 0 FROM orders WHERE o_orderkey = 1
          UNION ALL
          SELECT o.o_orderkey, o.o_custkey, c.depth + 1
          FROM chain c JOIN orders o ON o.o_orderkey = c.orderkey * 2
          WHERE c.depth < 30)
        SELECT orderkey, custkey, CAST(depth AS INTEGER) AS depth FROM chain""")
    },

    "q33_lateral_join" -> QueryDef(
      doc = "LATERAL correlated subquery join: per-order top line item by price (decorrelates to a ranked join, not a per-row loop)",
      oracle = """
        SELECT o.o_orderkey, l.top_price, l.top_qty
        FROM orders o, LATERAL (
          SELECT round(l_extendedprice, 2) AS top_price, l_quantity AS top_qty
          FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) l
        WHERE o.o_orderkey <= 1000""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT o.o_orderkey, l.top_price, l.top_qty
        FROM orders o, LATERAL (
          SELECT round(l_extendedprice, 2) AS top_price, l_quantity AS top_qty
          FROM lineitem l WHERE l.l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber LIMIT 1) l
        WHERE o.o_orderkey <= 1000""")
    },

    "q34_sql_pivot" -> QueryDef(
      doc = "SQL PIVOT clause: order counts by priority × status (Spark PIVOT syntax; oracle spells the same table as CASE aggregation)",
      oracle = """
        SELECT o_orderpriority,
               CAST(count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS open_n,
               CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS filled_n,
               CAST(count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS partial_n
        FROM orders GROUP BY o_orderpriority""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT * FROM (SELECT o_orderpriority, o_orderstatus FROM orders)
        PIVOT (count(1) FOR o_orderstatus IN ('O' AS open_n, 'F' AS filled_n, 'P' AS partial_n))""")
    },

    "q35_array_agg" -> QueryDef(
      doc = "collection aggregates: per-customer sorted order-key list and distinct-status set (collect_list/collect_set made deterministic by sorting, joined for stable hashing)",
      oracle = """
        SELECT o_custkey,
               array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
               array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses
        FROM orders WHERE o_custkey <= 200 GROUP BY o_custkey""") { (s, dir) =>
      t(s, dir, "orders").filter(col("o_custkey") <= 200)
        .groupBy("o_custkey")
        .agg(
          array_join(sort_array(collect_list(col("o_orderkey"))), ",")
            .as("order_keys"),
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
            .as("statuses"))
    },

    "q36_exists_subquery" -> QueryDef(
      doc = "explicit EXISTS / NOT EXISTS subqueries (Catalyst plans semi/anti joins; SQL twin of the DataFrame q16/q17)",
      oracle = """
        SELECT c_custkey, c_mktsegment,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 400000) AS has_big_order
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT c_custkey, c_mktsegment,
               EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                       AND o.o_totalprice > 400000) AS has_big_order
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')""")
    },

    "q37_multiset_ops" -> QueryDef(
      doc = "INTERSECT ALL / EXCEPT ALL — multiset semantics with duplicate counts preserved (q12 covers the DISTINCT variants)",
      oracle = """
        SELECT l_orderkey, 'both' AS src FROM (
          SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
        UNION ALL
        SELECT l_orderkey, 'a_only' AS src FROM (
          SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
          EXCEPT ALL
          SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        SELECT l_orderkey, 'both' AS src FROM (
          SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')
        UNION ALL
        SELECT l_orderkey, 'a_only' AS src FROM (
          SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'A'
          EXCEPT ALL
          SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F')""")
    },

    "q38_nullsafe_join" -> QueryDef(
      doc = "null-safe equality join (IS NOT DISTINCT FROM): NULL keys match each other — the semantic corner plain equi-joins drop",
      oracle = """
        WITH l AS (SELECT o_orderkey,
                          CASE WHEN o_orderstatus = 'P' THEN NULL
                               ELSE o_orderstatus END AS k
                   FROM orders WHERE o_orderkey <= 2000),
        r AS (SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                                   ELSE o_orderstatus END AS k
              FROM orders)
        SELECT l.o_orderkey, coalesce(l.k, '__null__') AS k
        FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k""") { (s, dir) =>
      Tables.registerAll(s, dir)
      s.sql("""
        WITH l AS (SELECT o_orderkey,
                          CASE WHEN o_orderstatus = 'P' THEN NULL
                               ELSE o_orderstatus END AS k
                   FROM orders WHERE o_orderkey <= 2000),
        r AS (SELECT DISTINCT CASE WHEN o_orderstatus = 'P' THEN NULL
                                   ELSE o_orderstatus END AS k
              FROM orders)
        SELECT l.o_orderkey, coalesce(l.k, '__null__') AS k
        FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k""")
    },

    "q39_supply_chain" -> QueryDef(
      doc = "five-table supply-chain star: lineitem × part × supplier × nation × region — revenue by region and part brand (covers the part/supplier dims)",
      oracle = """
        SELECT r.r_name AS region, p.p_brand AS brand,
               count(*) AS n_items,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE p.p_size <= 10
        GROUP BY r.r_name, p.p_brand""") { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part").filter(col("p_size") <= 10)
      val su = t(s, dir, "supplier")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      l.join(p, l("l_partkey") === p("p_partkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(r("r_name").as("region"), p("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_items"),
          round(sum(l("l_extendedprice") * (lit(1) - l("l_discount"))), 2)
            .as("revenue"))
    },

    "q40_higher_order" -> QueryDef(
      doc = "array higher-order functions: per-order sorted quantity array → lambda transform/filter/aggregate/exists (quantities cast to int — integral in TPC-H — so folds are exact cross-engine)",
      oracle = """
        WITH a AS (SELECT o_orderkey,
                          list_sort(list(CAST(l_quantity AS INTEGER))) AS qtys
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                   WHERE o_custkey <= 100
                   GROUP BY o_orderkey)
        SELECT o_orderkey,
               array_to_string(list_transform(qtys, x -> x * 2), ',') AS doubled,
               CAST(len(list_filter(qtys, x -> x > 25)) AS INTEGER) AS n_large,
               CAST(list_sum(qtys) AS BIGINT) AS total_qty,
               len(list_filter(qtys, x -> x >= 50)) > 0 AS has_max
        FROM a""") { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val o = t(s, dir, "orders").filter(col("o_custkey") <= 100)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(sort_array(collect_list(col("l_quantity").cast("int"))).as("qtys"))
        .select(col("o_orderkey"),
          array_join(transform(col("qtys"), x => x * 2), ",").as("doubled"),
          size(filter(col("qtys"), x => x > 25)).as("n_large"),
          aggregate(col("qtys"), lit(0L), (acc, x) => acc + x).as("total_qty"),
          exists(col("qtys"), x => x >= 50).as("has_max"))
    },

    "q41_funnel" -> QueryDef(
      doc = "ordered conversion funnel over events: view → click within 24h → purchase within 24h per user, counted by deepest stage reached (three per-user aggs, small sides broadcast)",
      oracle = """
        WITH u AS (SELECT DISTINCT user_id FROM events),
        v AS (SELECT user_id, min(ts) AS vt FROM events WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, min(ts) AS ct FROM events e JOIN v ON e.user_id = v.user_id
              WHERE event_type = 'click' AND ts > vt AND ts <= vt + INTERVAL 24 HOUR
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, min(ts) AS pt FROM events e JOIN c ON e.user_id = c.user_id
              WHERE event_type = 'purchase' AND ts > ct AND ts <= ct + INTERVAL 24 HOUR
              GROUP BY e.user_id),
        s AS (SELECT u.user_id,
                     CASE WHEN pt IS NOT NULL THEN 3 WHEN ct IS NOT NULL THEN 2
                          WHEN vt IS NOT NULL THEN 1 ELSE 0 END AS stage
              FROM u LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id)
                     LEFT JOIN p USING (user_id))
        SELECT stage, count(*) AS n_users FROM s GROUP BY stage""") { (s, dir) =>
      val e = t(s, dir, "events")
      val u = e.select(col("user_id")).distinct()
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("vt"))
      val day = expr("INTERVAL 24 HOURS")
      val c = e.filter(col("event_type") === "click")
        .join(broadcast(v), Seq("user_id"))
        .filter(col("ts") > col("vt") && col("ts") <= col("vt") + day)
        .groupBy("user_id").agg(min(col("ts")).as("ct"))
      val p = e.filter(col("event_type") === "purchase")
        .join(broadcast(c), Seq("user_id"))
        .filter(col("ts") > col("ct") && col("ts") <= col("ct") + day)
        .groupBy("user_id").agg(min(col("ts")).as("pt"))
      u.join(broadcast(v), Seq("user_id"), "left")
        .join(broadcast(c), Seq("user_id"), "left")
        .join(broadcast(p), Seq("user_id"), "left")
        .select(when(col("pt").isNotNull, 3)
          .when(col("ct").isNotNull, 2)
          .when(col("vt").isNotNull, 1)
          .otherwise(0).as("stage"))
        .groupBy("stage").agg(count(lit(1)).as("n_users"))
    },

    "q42_retention" -> QueryDef(
      doc = "weekly retention cohorts: users grouped by signup week × active-week offset (week-truncated on both engines; cohort emitted as a string, never a DATE)",
      oracle = """
        WITH su AS (SELECT user_id, min(date_trunc('week', ts)) AS cohort
                    FROM events WHERE event_type = 'signup' GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
        SELECT strftime(cohort, '%Y-%m-%d') AS cohort_week,
               CAST(date_diff('day', cohort, w) // 7 AS INTEGER) AS week_offset,
               count(DISTINCT user_id) AS n_users
        FROM act JOIN su USING (user_id)
        WHERE w >= cohort
        GROUP BY 1, 2""") { (s, dir) =>
      val e = t(s, dir, "events")
      val su = e.filter(col("event_type") === "signup")
        .groupBy("user_id")
        .agg(min(date_trunc("week", col("ts"))).as("cohort"))
      val act = e.select(col("user_id"),
        date_trunc("week", col("ts")).as("w")).distinct()
      act.join(broadcast(su), Seq("user_id"))
        .filter(col("w") >= col("cohort"))
        .groupBy(
          date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
          (datediff(col("w"), col("cohort")) / 7).cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },

    "q23_cube" -> QueryDef(
      doc = "CUBE over order status × priority: all four grouping combinations in one pass (SURVEY §2.4 grouping sets family)",
      oracle = """
        SELECT coalesce(o_orderstatus, '__all__') AS status,
               coalesce(o_orderpriority, '__all__') AS priority,
               count(*) AS n, round(sum(o_totalprice), 2) AS total
        FROM orders
        GROUP BY CUBE(o_orderstatus, o_orderpriority)""") { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("__all__")).as("status"),
          coalesce(col("o_orderpriority"), lit("__all__")).as("priority"),
          col("n"), col("total"))
    },

    "q22_range_join" -> QueryDef(
      doc = "bucketized range join: clicks inside 10-min incident windows after each error (equi-join on time bucket + exact filter, no nested loop)",
      oracle = """
        WITH err AS (SELECT event_id AS incident_id, ts AS ws,
                            ts + INTERVAL 10 MINUTE AS we
                     FROM events WHERE event_type = 'error'),
        clk AS (SELECT ts FROM events WHERE event_type = 'click')
        SELECT incident_id, count(*) AS n_clicks
        FROM err JOIN clk ON clk.ts >= err.ws AND clk.ts <= err.we
        GROUP BY incident_id""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val incidents = ev.filter(col("event_type") === "error")
        .select(col("event_id").as("incident_id"), col("ts").as("ws"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("we"))
      val clicks = ev.filter(col("event_type") === "click").select("ts")
      RangeJoin.pointInInterval(clicks, incidents,
        tsCol = "ts", startCol = "ws", endCol = "we", bucketSeconds = 600L)
        .groupBy("incident_id")
        .agg(count(lit(1)).as("n_clicks"))
    },

    "q21_approx_sketches" -> QueryDef.noOracle(
      doc = "approximate aggregates (HLL++ distinct, quantile sketch) — engine-specific sketch values, so rows-only here; error bounds gated driver-visibly in approx_error_gate (and pinned in ApproxSpec)") { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("approx_orders"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_price"),
          percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("p99_price"))
    },

    "approx_error_gate" -> QueryDef.gateFrame(
      doc = "hash-verified error gate for q21's sketches: per group, HLL++ distinct within 10% of exact (5× the 2% rsd), approx percentiles between the exact quantiles at q∓0.01 (10× the sketch's 0.001 rank-error bound) — booleans the literal oracle pins to 1, so a sketch regression flips the hash",
      "hll_ok", "p50_ok", "p99_ok") { (s, dir) =>
      // sketches + exact quantiles in one grouped pass (array-form
      // percentiles: ONE sort buffer each, not one per quantile), and
      // the exact distinct count as its OWN two-key aggregation — a
      // countDistinct mixed into the same agg would Expand-multiply
      // every lineitem row across the aggregate set (measured 18s vs
      // ~3s restructured at sf0.1)
      val li = t(s, dir, "lineitem")
      val g = li.groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_orderkey"), rsd = 0.02).as("a_nd"),
          percentile_approx(col("l_extendedprice"),
            array(lit(0.5), lit(0.99)), lit(1000)).as("aq"),
          expr("percentile(l_extendedprice, array(0.49D, 0.51D, 0.98D))")
            .as("eq"),
          max(col("l_extendedprice")).as("hi99"))
      val d = li.select(col("l_returnflag"), col("l_orderkey")).distinct()
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("e_nd"))
      g.join(d, Seq("l_returnflag"))
        .agg(
          min((abs(col("a_nd") - col("e_nd")).cast("double") / col("e_nd")
            <= 0.10).cast("int")).as("hll_ok"),
          min((element_at(col("aq"), 1) >= element_at(col("eq"), 1) &&
            element_at(col("aq"), 1) <= element_at(col("eq"), 2))
            .cast("int")).as("p50_ok"),
          min((element_at(col("aq"), 2) >= element_at(col("eq"), 3) &&
            element_at(col("aq"), 2) <= col("hi99"))
            .cast("int")).as("p99_ok"))
    },

    "sketch_rollup" -> QueryDef.noOracle(
      doc = "persisted mergeable HLL sketch state (Datasketches, lgK=12): distinct users per event_type answered from (event_type, day)-grain sketch rows by union+estimate — at 100 TB the monthly-uniques question never rescans raw events; engine-specific estimates → rows-only, accuracy and merge≡rebuild hash-gated in sketch_error_gate") { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      SketchState.estimateRollup(
          SketchState.distinctSketches(ev, Seq("event_type", "day"), "user_id"),
          Seq("event_type"))
        .select(col("event_type"),
          col("approx_distinct").cast("long").as("approx_distinct"),
          col("n_rows"))
    },

    "sketch_error_gate" -> QueryDef.gateFrame(
      doc = "hash-verified gate for the sketch state: per event_type, the rolled-up HLL estimate within 10% of exact distinct users (6× the lgK=12 rsd of 1.6%); an even/odd event_id split rebuilt as two partial states and merged yields the IDENTICAL rollup (register-max associativity — merge ≡ rebuild exactly, not within-error); merged n_rows bookkeeping exact — booleans the literal oracle pins to 1",
      "est_ok", "merge_eq_ok", "rows_ok") { (s, dir) =>
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          to_date(col("ts")).as("day"), col("user_id"))
        .localCheckpoint(true) // feeds 4 state builds + the exact sides
      val grain = Seq("event_type", "day")
      def state(d: org.apache.spark.sql.DataFrame) =
        SketchState.distinctSketches(d, grain, "user_id")
      val rebuilt = SketchState.estimateRollup(state(ev), Seq("event_type"))
      val merged = SketchState.estimateRollup(
        SketchState.mergeSketches(
          state(ev.filter(pmod(col("event_id"), lit(2)) === 0)),
          state(ev.filter(pmod(col("event_id"), lit(2)) =!= 0)), grain),
        Seq("event_type"))
      val exact = ev.select("event_type", "user_id").distinct()
        .groupBy("event_type").agg(count(lit(1)).as("e_nd"))
      val exactRows = ev.groupBy("event_type").agg(count(lit(1)).as("e_n"))
      rebuilt.select(col("event_type"), col("approx_distinct").as("r_est"))
        .join(merged.select(col("event_type"), col("approx_distinct").as("m_est"),
          col("n_rows").as("m_rows")), Seq("event_type"))
        .join(exact, Seq("event_type"))
        .join(exactRows, Seq("event_type"))
        .agg(
          min((abs(col("r_est") - col("e_nd")) / col("e_nd") <= 0.10)
            .cast("int")).as("est_ok"),
          min((col("m_est") === col("r_est")).cast("int")).as("merge_eq_ok"),
          min((col("m_rows") === col("e_n")).cast("int")).as("rows_ok"))
    },

    "q43_scd2_history" -> QueryDef(
      doc = "SCD Type-2 dimension history: the per-user event_type change stream collapsed into versioned rows with half-open [valid_from, valid_to) intervals, is_current on the open version — the point-in-time dimension the reference's current-state dims lack; two key-partitioned windows + one groupBy, uniform grain",
      oracle = scd2OracleSql) { (s, dir) =>
      Incremental.scd2History(t(s, dir, "events"),
        keyCol = "user_id", tsCol = "ts", ordCol = "event_id",
        attrCol = "event_type")
    },

    "q44_scd2_merge" -> QueryDef(
      doc = "incremental SCD2: history built from the first half-month of events, then the second half folded in as a delta (untouched keys pass through, affected keys re-collapse only their open version + delta) — the oracle is the FULL-rerun SQL, so the hash match IS the merge ≡ rebuild proof; cost tracks |delta|, never |history|",
      oracle = scd2OracleSql) { (s, dir) =>
      val ev = t(s, dir, "events")
      val split = lit("2024-01-16 00:00:00").cast("timestamp")
      val history = Incremental.scd2History(ev.filter(col("ts") < split),
        "user_id", "ts", "event_id", "event_type")
      Incremental.scd2Merge(history, ev.filter(col("ts") >= split),
        "user_id", "ts", "event_id", "event_type")
    },

    "q45_scd2_pointintime" -> QueryDef(
      doc = "point-in-time dimension lookup — the query SCD2 exists FOR: each purchase event enriched with the user's activity-state version valid AT purchase time (history built from the non-purchase stream, zero-length same-instant versions excluded per half-open [from, to) semantics); composes scd2History with the as-of log-merge join — one key exchange each, no per-row range probe",
      oracle = {
        val hist = scd2OracleSqlOver(
          "(SELECT * FROM events WHERE event_type <> 'purchase')")
        s"""
        WITH hist AS ($hist),
        p AS (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'purchase')
        SELECT p.event_id, p.user_id, p.ts, h.state
        FROM p ASOF LEFT JOIN (
          SELECT user_id, valid_from, event_type AS state FROM hist
          WHERE valid_to IS NULL OR valid_from < valid_to) h
          ON p.user_id = h.user_id AND p.ts >= h.valid_from"""
      }) { (s, dir) =>
      val ev = t(s, dir, "events")
      val hist = Incremental.scd2History(
          ev.filter(col("event_type") =!= "purchase"),
          "user_id", "ts", "event_id", "event_type")
        // zero-length versions (same-instant change) are never
        // "current at" any instant — dropping them also makes the
        // as-of probe's per-key valid_from strictly increasing
        .filter(col("valid_to").isNull || col("valid_from") < col("valid_to"))
        .select(col("user_id"), col("valid_from"),
          col("event_type").as("state"))
      AsOfJoin.asOf(
        ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts"),
        hist, keys = Seq("user_id"), leftTs = "ts", rightTs = "valid_from")
    },

    "q46_scd2_snapshot" -> QueryDef(
      doc = "dimension snapshot AT an instant — scd2At's half-open interval filter over the full SCD2 history (version with valid_from ≤ at < valid_to; open versions match any at ≥ valid_from): the warehouse 'state of the world as of' query; one narrow filter over the history build, partition-prunable on a valid_from coarsening at scale",
      oracle = s"""
        WITH hist AS ($scd2OracleSql)
        SELECT * FROM hist
        WHERE valid_from <= TIMESTAMP '2024-01-20 00:00:00'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-20 00:00:00')""") { (s, dir) =>
      Incremental.scd2At(
        Incremental.scd2History(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type"),
        java.sql.Timestamp.valueOf("2024-01-20 00:00:00"))
    },

    "report_verbatim" -> QueryDef(
      doc = "the reference's three PUBLISHED reports.json entries (README.md:289-330, MySQL dialect and bare stored-procedure params untouched) run against a PERSISTED analysis store: OpenMRS-shaped dims/flat/fact derived from events, written through AnalysisStore.writeFull, read back from parquet, registered, then served by ReportRegistry — the full E3 deploy-then-serve path as one driver row. Date-anchored rows are derived relative to current_date on BOTH engines (stable within a run day), so CURDATE()/NOW() anchoring stays deterministic",
      oracle = """
        WITH enc AS (
          SELECT event_id AS encounter_id,
                 CASE WHEN event_type = 'click' THEN 7 ELSE 8 END AS encounter_type,
                 CAST(current_date - CAST(date_diff('day', CAST(ts AS DATE),
                   DATE '2024-02-01') AS INTEGER) AS TIMESTAMP) AS encounter_datetime,
                 event_type, user_id
          FROM events),
        persons AS (
          SELECT DISTINCT user_id AS person_id,
                 'p-' || CAST(user_id AS VARCHAR) AS uuid,
                 CASE WHEN user_id % 3 = 0 THEN current_date - 1
                      ELSE DATE '1990-01-15' END AS birthdate
          FROM events),
        anc AS (
          SELECT DISTINCT user_id AS client_id,
                 'PT-' || CAST(user_id AS VARCHAR) AS ptracker_id,
                 CASE WHEN user_id % 2 = 0 THEN 'POSITIVE'
                      ELSE 'NEGATIVE' END AS hiv_test_result
          FROM events),
        infants AS (
          SELECT user_id AS infant_client_id, encounter_datetime
          FROM enc WHERE event_type = 'purchase'),
        r1 AS (
          SELECT pm.hiv_test_result
          FROM anc pm JOIN persons p ON pm.client_id = p.person_id
          WHERE p.uuid = 'p-7' AND pm.ptracker_id = 'PT-7'),
        r2 AS (
          SELECT CAST(count(*) AS BIGINT) AS total_deliveries
          FROM enc e JOIN (VALUES (7, '6dc5308d-27c9-4d49-b16f-2c5e3c759757'),
                                  (8, 'other-uuid')) et(encounter_type_id, uuid)
            ON e.encounter_type = et.encounter_type_id
          WHERE et.uuid = '6dc5308d-27c9-4d49-b16f-2c5e3c759757'
            AND e.encounter_datetime > CAST(make_date(CAST(year(current_date) AS INTEGER), 1, 1) AS TIMESTAMP)),
        r3 AS (
          SELECT CAST(count(DISTINCT ei.infant_client_id) AS BIGINT) AS total_hiv_exposed_infants
          FROM infants ei JOIN persons p ON ei.infant_client_id = p.person_id
          WHERE ei.encounter_datetime BETWEEN
              CAST(make_date(CAST(year(current_date) AS INTEGER), 1, 1) AS TIMESTAMP) AND now()
            AND p.birthdate BETWEEN
              make_date(CAST(year(current_date) AS INTEGER), 1, 1) AND now())
        SELECT * FROM r1, r2, r3""") { (s, dir) =>
      import graft.sources.AnalysisStore
      val ev = t(s, dir, "events")
      // shift the fixture's fixed January-2024 window to "the ~31
      // days ending the day before the run": CURDATE()/NOW()-anchored
      // report predicates then bite identically in Spark and the
      // same-day DuckDB replay
      val shiftN = datediff(
        lit(java.sql.Date.valueOf("2024-02-01")), to_date(col("ts")))
      val enc = ev.select(
        col("event_id").as("encounter_id"),
        when(col("event_type") === "click", lit(7)).otherwise(lit(8))
          .as("encounter_type"),
        date_sub(current_date(), shiftN).cast("timestamp")
          .as("encounter_datetime"),
        col("event_type"), col("user_id"))
      val persons = ev.select("user_id").distinct().select(
        col("user_id").as("person_id"),
        concat(lit("p-"), col("user_id")).as("uuid"),
        when(col("user_id") % 3 === 0, date_sub(current_date(), 1))
          .otherwise(lit(java.sql.Date.valueOf("1990-01-15"))).as("birthdate"))
      val anc = ev.select("user_id").distinct().select(
        col("user_id").as("client_id"),
        concat(lit("PT-"), col("user_id")).as("ptracker_id"),
        when(col("user_id") % 2 === 0, lit("POSITIVE"))
          .otherwise(lit("NEGATIVE")).as("hiv_test_result"))
      val encTypes = s.sql(
        "SELECT 7 AS encounter_type_id, '6dc5308d-27c9-4d49-b16f-2c5e3c759757' AS uuid " +
        "UNION ALL SELECT 8, 'other-uuid'")
      val infants = enc.filter(col("event_type") === "purchase")
        .select(col("user_id").as("infant_client_id"),
          col("encounter_datetime"))
      // deploy: persist every table through the store, then serve the
      // reports from the READ-BACK parquet (never the in-memory frames)
      val store = java.nio.file.Files
        .createTempDirectory("graft-verbatim-store").toString
      Seq(
        "mamba_dim_encounter" -> enc.drop("event_type", "user_id"),
        "mamba_dim_person" -> persons,
        "mamba_flat_encounter_pmtct_anc" -> anc,
        "mamba_dim_encounter_type" -> encTypes,
        "mamba_fact_pmtct_exposedinfants" -> infants
      ).foreach { case (name, df) =>
        AnalysisStore.writeFull(df, s"$store/$name")
        AnalysisStore.read(s, s"$store/$name").createOrReplaceTempView(name)
      }
      val registry = ReportRegistry.fromJson(verbatimReportsJson)
      registry.run(s, "mother_hiv_status",
          Map("ptracker_id" -> "PT-7", "person_uuid" -> "p-7"))
        .crossJoin(registry.run(s, "total_deliveries"))
        .crossJoin(registry.run(s, "total_hiv_exposed_infants"))
    },

    "dq_checks" -> QueryDef(
      doc = "declarative data-quality contract over lineitem (Deequ-style 'unit tests for data'): four row-level rules in ONE narrow agg pass + key uniqueness (the semantics' one exact groupBy) + referential integrity to orders (FK join, parent reduced to distinct keys) — uniform (rule, n_rows, n_violations, pass_rate, passed) report; the discount range rule is deliberately tighter than the data so a failing rule is exercised",
      oracle = dqRowRulesSql + """
        UNION ALL
        SELECT 'unique(l_orderkey,l_linenumber)' AS rule,
               CAST(sum(k) AS BIGINT) AS n_rows,
               CAST(coalesce(sum(CASE WHEN k > 1 THEN k END), 0) AS BIGINT) AS n_violations,
               round((sum(k) - coalesce(sum(CASE WHEN k > 1 THEN k END), 0)) * 1.0
                 / sum(k), 4) AS pass_rate,
               round((sum(k) - coalesce(sum(CASE WHEN k > 1 THEN k END), 0)) * 1.0
                 / sum(k), 4) >= 0.9 AS passed
        FROM (SELECT count(*) AS k FROM lineitem
              GROUP BY l_orderkey, l_linenumber)
        UNION ALL
        SELECT 'referential(l_orderkey->o_orderkey)' AS rule,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL
                 AND o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_violations,
               round((count(*) - sum(CASE WHEN l.l_orderkey IS NOT NULL
                 AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)) * 1.0
                 / count(*), 4) AS pass_rate,
               round((count(*) - sum(CASE WHEN l.l_orderkey IS NOT NULL
                 AND o.o_orderkey IS NULL THEN 1 ELSE 0 END)) * 1.0
                 / count(*), 4) >= 0.9 AS passed
        FROM lineitem l LEFT JOIN
          (SELECT DISTINCT o_orderkey FROM orders) o
          ON l.l_orderkey = o.o_orderkey""") { (s, dir) =>
      val li = t(s, dir, "lineitem")
      DataQuality.check(li, dqRowRules, minPassRate = 0.9)
        .unionByName(DataQuality.unique(li,
          Seq("l_orderkey", "l_linenumber"), minPassRate = 0.9))
        .unionByName(DataQuality.referential(li, t(s, dir, "orders"),
          "l_orderkey", "o_orderkey", minPassRate = 0.9))
    },

    "dq_checks_merge" -> QueryDef(
      doc = "incremental data quality: lineitem split into two deltas by line-number parity, each checked independently, reports folded with mergeReports (violation counts are additive) — the oracle is the FULL-scan row-rule SQL, so the hash match IS the merge ≡ rebuild proof; at 100 TB each ingestion delta is checked as it lands and history is never re-scanned",
      oracle = dqRowRulesSql) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      DataQuality.mergeReports(
        DataQuality.check(li.filter(col("l_linenumber") % 2 === 0),
          dqRowRules, minPassRate = 0.9),
        DataQuality.check(li.filter(col("l_linenumber") % 2 =!= 0),
          dqRowRules, minPassRate = 0.9),
        minPassRate = 0.9)
    },

    "dq_checks_by_day" -> QueryDef(
      doc = "per-ingestion-day quality monitoring: the rule battery at (day) grain — violations localized to the partition that shipped them instead of diluted corpus-wide; one uniform groupBy exchange, partial sums map-side; the value range and the event_type set are deliberately tighter than the data so per-day pass rates genuinely vary",
      oracle = Seq(
        "'in_range(value)'" -> "coalesce(value BETWEEN 0.0 AND 200.0, FALSE)",
        "'in_set(event_type)'" ->
          "coalesce(event_type IN ('click','view','purchase','signup'), FALSE)")
        .map { case (name, pred) =>
          s"""
          SELECT strftime(ts, '%Y-%m-%d') AS day, $name AS rule,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(sum(CASE WHEN $pred THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_violations,
                 round((count(*) - sum(CASE WHEN $pred THEN 0 ELSE 1 END))
                   * 1.0 / count(*), 4) AS pass_rate,
                 round((count(*) - sum(CASE WHEN $pred THEN 0 ELSE 1 END))
                   * 1.0 / count(*), 4) >= 0.7 AS passed
          FROM events GROUP BY 1"""
        }.mkString(" UNION ALL ")) { (s, dir) =>
      DataQuality.checkByGroup(
        t(s, dir, "events")
          .withColumn("day", date_format(col("ts"), "yyyy-MM-dd")),
        Seq("day"),
        Seq(DataQuality.inRange("value", 0.0, 200.0),
          DataQuality.inSet("event_type",
            Seq("click", "view", "purchase", "signup"))),
        minPassRate = 0.7)
    },

    "dq_unique_gate" -> QueryDef.gateFrame(
      doc = "agreement gate for the 100 TB uniqueness screen: exact unique() and the shuffle-free HLL uniqueApprox() must agree on a genuinely-unique key (orders.o_orderkey — both pass) AND on a duplicated one (lineitem's (l_orderkey, l_linenumber), ~24% dup rows in this fixture — both trip); booleans the literal oracle pins to 1",
      "clean_exact_ok", "clean_approx_ok", "dirty_exact_trips",
      "dirty_approx_trips") { (s, dir) =>
      val ord = t(s, dir, "orders").select("o_orderkey")
      val li = t(s, dir, "lineitem").select("l_orderkey", "l_linenumber")
      DataQuality.unique(ord, Seq("o_orderkey"))
        .select(col("passed").as("p1"))
        .crossJoin(DataQuality.uniqueApprox(ord, Seq("o_orderkey"),
          minPassRate = 0.95).select(col("passed").as("p2")))
        .crossJoin(DataQuality.unique(li,
          Seq("l_orderkey", "l_linenumber"), minPassRate = 0.9)
          .select(col("passed").as("p3")))
        .crossJoin(DataQuality.uniqueApprox(li,
          Seq("l_orderkey", "l_linenumber"), minPassRate = 0.9)
          .select(col("passed").as("p4")))
        .select(col("p1").as("clean_exact_ok"),
          col("p2").as("clean_approx_ok"),
          (!col("p3")).as("dirty_exact_trips"),
          (!col("p4")).as("dirty_approx_trips"))
    },

    "q20_rollup" -> QueryDef(
      doc = "ROLLUP hierarchy totals: (region, nation), (region), () in one pass (SURVEY §2.4 'grouping sets come free')",
      oracle = """
        SELECT coalesce(r.r_name, '__all__') AS region,
               coalesce(n.n_name, '__all__') AS nation,
               count(*) AS n_customers,
               round(sum(c.c_acctbal), 2) AS sum_bal
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY ROLLUP(r.r_name, n.n_name)""") { (s, dir) =>
      val c = t(s, dir, "customer")
      val n = broadcast(t(s, dir, "nation"))
      val r = broadcast(t(s, dir, "region"))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .select(r("r_name"), n("n_name"), col("c_acctbal"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
        .select(
          coalesce(col("r_name"), lit("__all__")).as("region"),
          coalesce(col("n_name"), lit("__all__")).as("nation"),
          col("n_customers"), col("sum_bal"))
    },

    "q19_asof_join" -> QueryDef(
      doc = "as-of join: each click gets the latest view at-or-before it per user (log-merge window plan, one shuffle; oracle = DuckDB ASOF JOIN)",
      oracle = """
        WITH clicks AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        views AS (SELECT user_id, ts, max_by(value, event_id) AS last_view_value
                  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        SELECT c.event_id, c.user_id, c.ts, v.last_view_value
        FROM clicks c ASOF LEFT JOIN views v
          ON c.user_id = v.user_id AND c.ts >= v.ts""") { (s, dir) =>
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts")
        .agg(expr("max_by(value, event_id)").as("last_view_value"))
      AsOfJoin.asOf(clicks, views, Seq("user_id"),
        leftTs = "ts", rightTs = "ts")
    },

    "q18_salted_join" -> QueryDef(
      doc = "hot-key-resilient salted join ≡ plain join (SURVEY §4 skew mitigation; salt scatters each key over 8 sub-keys)",
      oracle = """
        SELECT l.l_orderkey, o.o_custkey,
               round(sum(l.l_extendedprice), 2) AS revenue,
               count(*) AS n_items
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY l.l_orderkey, o.o_custkey""") { (s, dir) =>
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"))
      val o = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      SkewJoin.saltedJoin(li, o, Seq("l_orderkey"), factor = 8)
        .groupBy("l_orderkey", "o_custkey")
        .agg(round(sum(col("l_extendedprice")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    },

    "q17_semi_join" -> QueryDef(
      doc = "EXISTS as left_semi join (SURVEY §2.3)",
      oracle = """
        SELECT c_custkey, c_name FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2001-01-01')""") { (s, dir) =>
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("2001-01-01").cast("timestamp"))
        .select(col("o_custkey").as("c_custkey"))
      t(s, dir, "customer")
        .join(o, Seq("c_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    }
  )
}
