package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.{FlatColumn, FlatTableConfig}
import graft.operators.{Flatten, Melt}

/** The core reference semantics (SURVEY §2.4 A3): EAV → wide flatten,
  * collision rule, datatype-driven value columns, config parsing,
  * auto-config, and the melt→pivot round-trip property (SURVEY §5b).
  */
class FlattenSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** obs fixture: (obs_id, encounter_id, concept_id, value_numeric,
    * value_text, value_datetime, value_coded, obs_datetime, voided)
    */
  private def obsFixture: DataFrame = Seq(
    // encounter 1: weight (numeric, two values — later obs_datetime wins)
    (1L, 1L, 100L, Some(61.0), None: Option[String], None: Option[Timestamp], None: Option[String], ts("2024-01-01 10:00:00"), 0),
    (2L, 1L, 100L, Some(62.5), None, None, None, ts("2024-01-01 11:00:00"), 0),
    // encounter 1: hiv_result (coded)
    (3L, 1L, 200L, None, None, None, Some("POSITIVE"), ts("2024-01-01 10:05:00"), 0),
    // encounter 1: note (text) — voided, must be dropped
    (4L, 1L, 300L, None, Some("void me"), None, None, ts("2024-01-01 10:06:00"), 1),
    // encounter 2: weight only; same obs_datetime twice — higher obs_id wins
    (5L, 2L, 100L, Some(70.0), None, None, None, ts("2024-01-02 09:00:00"), 0),
    (6L, 2L, 100L, Some(71.0), None, None, None, ts("2024-01-02 09:00:00"), 0),
    // encounter 2: visit_date (datetime)
    (7L, 2L, 400L, None, None, Some(ts("2024-01-02 00:00:00")), None, ts("2024-01-02 09:01:00"), 0)
  ).toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
    "value_text", "value_datetime", "value_coded", "obs_datetime", "voided")

  private val config = FlatTableConfig("mamba_flat_encounter_anc", 1, Seq(
    FlatColumn("weight", 100L, "Numeric"),
    FlatColumn("hiv_result", 200L, "Coded"),
    FlatColumn("note", 300L, "Text"),
    FlatColumn("visit_date", 400L, "Datetime")))

  test("flattenObs: one wide row per encounter, typed value columns") {
    val flat = Flatten.flattenObs(obsFixture, config)
      .orderBy("encounter_id").collect()
    assert(flat.length == 2)
    val e1 = flat(0)
    assert(e1.getAs[Double]("weight") == 62.5) // latest obs_datetime wins
    assert(e1.getAs[String]("hiv_result") == "POSITIVE")
    assert(e1.getAs[String]("note") == null) // voided row dropped
    val e2 = flat(1)
    assert(e2.getAs[Double]("weight") == 71.0) // obs_id tie-break
    assert(e2.getAs[Timestamp]("visit_date") == ts("2024-01-02 00:00:00"))
  }

  test("flattenObs tags each pivot column with its concept; a split table's config reads back from its parquet footer") {
    val flat = Flatten.flattenObs(obsFixture, config)
    assert(FlatTableConfig.fromSchema(config.tableName, 1, flat.schema) == config)
    // each continuation table carries its own chunk through a write
    val dir = java.nio.file.Files.createTempDirectory("flattags").toString
    val chunks = config.split(2)
    Flatten.flattenObsSplit(obsFixture, config, 2).foreach { case (t, df) =>
      df.write.parquet(s"$dir/$t")
    }
    assert(chunks.map(c => FlatTableConfig.fromSchema(c.tableName, 1,
      spark.read.parquet(s"$dir/${c.tableName}").schema)) == chunks)
    // an untagged table carries no config
    assert(FlatTableConfig.fromSchema("t", 1, obsFixture.schema).columns.isEmpty)
  }

  test("continuation split: naming, cap, key-sharing, lossless rejoin") {
    // cap 2 over 4 columns → t (weight, hiv_result), t_1 (note,
    // visit_date) — reference README.md:130-131 layout
    val split = config.split(2)
    assert(split.map(_.tableName) ==
      Seq("mamba_flat_encounter_anc", "mamba_flat_encounter_anc_1"))
    assert(split.map(_.columns.map(_.label)) ==
      Seq(Seq("weight", "hiv_result"), Seq("note", "visit_date")))
    assert(split.forall(_.encounterTypeId == config.encounterTypeId))
    // within-cap config passes through untouched
    assert(config.split(10) == Seq(config))

    val tables = Flatten.flattenObsSplit(obsFixture, config, maxColumns = 2)
    tables.foreach { case (_, df) =>
      assert(df.columns.length <= 3, // encounter_id + ≤cap columns
        s"table exceeds cap: ${df.columns.mkString(",")}")
      assert(df.columns.head == "encounter_id", "shared key present")
    }
    // rejoining on the shared key reconstructs the unsplit flatten
    val rejoined = tables.map(_._2).reduce(_.join(_, Seq("encounter_id")))
      .select("encounter_id", "weight", "hiv_result", "note", "visit_date")
    val unsplit = Flatten.flattenObs(obsFixture, config)
      .select("encounter_id", "weight", "hiv_result", "note", "visit_date")
    assert(rejoined.exceptAll(unsplit).isEmpty &&
      unsplit.exceptAll(rejoined).isEmpty,
      "continuation split must be lossless")
  }

  test("pipeline emits continuation stages when autoconfig width exceeds EtlConfig.columns") {
    import graft.examples.MambaEtlJob
    // 3 used concepts (100, 200, 400 — 300 is voided in every obs) at
    // cap 2 → stages mamba_flat_encounter_7 and …_7_1
    val concept = Seq((100L, "Weight", "Numeric"), (200L, "HIV Result", "Coded"),
        (400L, "Visit Date", "Datetime"))
      .toDF("concept_id", "name", "datatype")
    val encounter = Seq((1L, 7, 10L, ts("2024-01-01 10:00:00"), 0, "u1"),
        (2L, 7, 11L, ts("2024-01-02 09:00:00"), 0, "u2"))
      .toDF("encounter_id", "encounter_type", "patient_id",
        "encounter_datetime", "voided", "uuid")
    val person = Seq((10L, "pa", "F", ts("1990-01-01 00:00:00"), 0),
        (11L, "pb", "M", ts("1991-01-01 00:00:00"), 0))
      .toDF("person_id", "uuid", "gender", "birthdate", "voided")
    val encounterType = Seq((7, "et7", "ANC")).toDF(
      "encounter_type_id", "uuid", "name")
    val src = MambaEtlJob.Sources(obs = obsFixture, encounter = encounter,
      concept = concept, person = person, encounterType = encounterType)
    val cfg = graft.model.EtlConfig("unused", "unused", columns = 2)
    val results = MambaEtlJob.run(spark, cfg, src, Seq(7))
    assert(results.contains("mamba_flat_encounter_7") &&
      results.contains("mamba_flat_encounter_7_1"),
      s"expected continuation stages, got ${results.keys.toSeq.sorted}")
    // each flat stage: encounter_id + ≤cap concept cols + the 2 encIds cols
    assert(results("mamba_flat_encounter_7").columns.count(
      c => !Seq("encounter_id", "patient_id", "encounter_datetime").contains(c)) <= 2)
    // both continuation tables key the same encounters
    val a = results("mamba_flat_encounter_7").select("encounter_id")
    val b = results("mamba_flat_encounter_7_1").select("encounter_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("pivotLatest with tieBreak=Nil skips the window pass") {
    val eav = Seq((1L, "a", 10.0), (1L, "b", 20.0), (2L, "a", 30.0))
      .toDF("id", "attr", "v")
    val wide = Flatten.pivotLatest(eav, "id", "attr",
      labels = Seq(("a", "a", col("v")), ("b", "b", col("v"))),
      tieBreak = Nil)
    assert(wide.queryExecution.executedPlan.toString.indexOf("Window") < 0)
    val rows = wide.orderBy("id").collect()
    assert(rows(0).getAs[Double]("a") == 10.0 && rows(0).getAs[Double]("b") == 20.0)
    assert(rows(1).getAs[Double]("a") == 30.0 && rows(1).isNullAt(rows(1).fieldIndex("b")))
  }

  test("pivotLatest with a tieBreak runs window and aggregate behind one shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val eav = spark.range(0, 200, 1, 3).select(
      (col("id") % 20).as("id"), (col("id") % 3).as("attr"),
      col("id").cast("double").as("v"))
    val wide = Flatten.pivotLatest(eav, "id", "attr",
      labels = Seq(("a", 0L, col("v")), ("b", 1L, col("v")), ("c", 2L, col("v"))),
      tieBreak = Seq(col("v").desc))
    val rows = wide.collect()
    // the executed adaptive plan holds each exchange inside a query stage
    def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }
      .flatMap {
        case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
        case q: QueryStageExec => q +: nodes(q.plan)
        case n => Seq(n)
      }
    val shuffles = nodes(wide.queryExecution.executedPlan)
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 1, wide.queryExecution.executedPlan.treeString)
    // the latest (largest v) row per (id, attr) wins
    assert(rows.length == 20)
    val r0 = rows.find(_.getLong(0) == 0L).get
    assert(r0.getAs[Double]("a") == 180.0 && r0.getAs[Double]("b") == 160.0 &&
      r0.getAs[Double]("c") == 140.0)
  }

  test("melt → pivotLatest round-trips lineitem (SURVEY §5b identity)") {
    // (l_orderkey, l_linenumber) is NOT unique in the generated data —
    // synthesize a unique rowid (test-only; 6k rows, 1-partition window)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("rowid", row_number().over(w))
    val valueCols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val melted = Melt.melt(li, Seq("rowid"), valueCols)
    val back = Flatten.pivotLatest(melted, "rowid", "attr",
      labels = valueCols.map(c => (c, c: Any, col("val"))), tieBreak = Nil)
    assertSameRows(
      back.select("rowid", valueCols: _*),
      li.select("rowid", valueCols: _*))
  }

  test("autoConfig derives labels from metadata; flatten honors them") {
    val encounters = Seq((1L, 7, 0), (2L, 7, 0), (3L, 8, 0))
      .toDF("encounter_id", "encounter_type", "voided")
    val concepts = Seq(
      (100L, "Weight (kg)", "Numeric"), (200L, "HIV Result!", "Coded"),
      (999L, "Unused", "Text"))
      .toDF("concept_id", "name", "datatype")
    val cfg = Flatten.autoConfig(
      obsFixture, encounters, concepts, encounterTypeId = 7)
    assert(cfg.tableName == "mamba_flat_encounter_7")
    assert(cfg.columns.map(_.label) == Seq("hiv_result_", "weight_kg_"))
    val flat = Flatten.flattenObs(obsFixture, cfg)
    assert(flat.columns.toSet == Set("encounter_id", "hiv_result_", "weight_kg_"))
  }

  test("autoConfig localizes labels per the configured locale") {
    val encounters = Seq((1L, 7, 0), (2L, 7, 0))
      .toDF("encounter_id", "encounter_type", "voided")
    // localized concept dim: one name row per (concept, locale)
    val concepts = Seq(
      (100L, "Weight", "Numeric", "en"), (100L, "Peso", "Numeric", "es"),
      (200L, "HIV Result", "Coded", "en"), (200L, "Resultado VIH", "Coded", "es"))
      .toDF("concept_id", "name", "datatype", "locale")
    val en = Flatten.autoConfig(obsFixture, encounters, concepts, 7,
      locale = Some("en"))
    val es = Flatten.autoConfig(obsFixture, encounters, concepts, 7,
      locale = Some("es"))
    assert(en.columns.map(_.label) == Seq("hiv_result", "weight"))
    assert(es.columns.map(_.label) == Seq("peso", "resultado_vih"))
  }

  test("FlatTableConfig.fromJson parses the FIXTURES.md §B shape") {
    val cfg = FlatTableConfig.fromJson(
      """{"table_name": "mamba_flat_encounter_anc", "encounter_type_id": 3,
         "concepts": [{"label": "weight", "concept_id": 100, "datatype": "Numeric"},
                      {"label": "note", "concept_id": 300}]}""")
    assert(cfg.tableName == "mamba_flat_encounter_anc")
    assert(cfg.encounterTypeId == 3)
    assert(cfg.columns == Seq(
      FlatColumn("weight", 100L, "Numeric"), FlatColumn("note", 300L, "Text")))
  }
}
