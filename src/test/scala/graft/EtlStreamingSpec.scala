package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.examples.MambaEtlJob
import graft.model.{EtlConfig, FlatColumn, FlatTableConfig}
import graft.operators.Flatten
import graft.streaming.EtlStreaming

/** The reference's scheduled ETL tick as a stream: changed-obs
  * micro-batches drive incremental flattening of the analysis store,
  * and after N batches the store equals one full batch flatten of the
  * final obs state (the same N-ticks ≡ full-refresh contract the
  * batch tick proves in MambaLifecycleSpec).
  */
class EtlStreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private type ObsRow = (Long, Long, Long, Option[Double], Option[String],
    Option[Timestamp], Option[String], Timestamp, Int)

  private def toObs(rows: Seq[ObsRow]): DataFrame =
    rows.toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
      "value_text", "value_datetime", "value_coded", "obs_datetime", "voided")

  /** Sources of record for a flat-table stream of encounter type 1:
    * `obs` plus one live encounter per (id, visit time). Person,
    * encounter type and concept are never read: every stream passes
    * its flat config.
    */
  private def sourcesOf(obs: Seq[ObsRow],
      encounters: Seq[(Long, String)]): MambaEtlJob.Sources =
    MambaEtlJob.Sources(spark.emptyDataFrame, spark.emptyDataFrame,
      encounters.map { case (id, at) => (id, 1, 1L, ts(at), 0) }
        .toDF("encounter_id", "encounter_type", "patient_id",
          "encounter_datetime", "voided"),
      spark.emptyDataFrame, toObs(obs))

  /** `cfg`'s flat columns of encounter type 1's table under `root`. */
  private def streamedFlat(root: String, cfg: FlatTableConfig): DataFrame =
    spark.read.parquet(s"$root/mamba_flat_encounter_1")
      .select(Flatten.flattenObs(toObs(Nil), cfg).columns.map(col): _*)

  test("fromCdcJson: envelopes decode; deletes void; junk is dropped") {
    val schema = toObs(Nil).schema
    val after = """{"obs_id":1,"encounter_id":7,"concept_id":100,
      |"value_numeric":61.0,"obs_datetime":"2024-01-01 10:00:00","voided":0}"""
      .stripMargin.replace("\n", "")
    val raw = Seq(
      s"""{"op":"c","after":$after,"ts_ms":1}""",
      s"""{"op":"u","after":${after.replace("61.0", "64.5")},"ts_ms":2}""",
      s"""{"op":"d","before":$after,"ts_ms":3}""",   // delete → voided
      // snapshot read: a connector started with snapshotting emits
      // 'r' for every pre-existing row — must load like an insert
      s"""{"op":"r","after":${after.replace("\"obs_id\":1", "\"obs_id\":9")},"ts_ms":4}""",
      s"""{"op":"x","after":$after,"ts_ms":5}""",    // unknown op → drop
      s"""{"op":"c","ts_ms":6}""",                   // no image → drop
      "not json at all")                             // malformed → drop
      .toDF("value")
    val out = EtlStreaming.fromCdcJson(raw, schema)
      .select("obs_id", "encounter_id", "value_numeric", "voided")
      .as[(Long, Long, Option[Double], Int)].collect().toSeq
    assert(out == Seq(
      (1L, 7L, Some(61.0), 0),
      (1L, 7L, Some(64.5), 0),
      (1L, 7L, Some(61.0), 1),
      (9L, 7L, Some(61.0), 0)))
    // fields/types match the obs schema (from_json output is nullable
    // by construction) → composes with incrementalFlatten
    assert(EtlStreaming.fromCdcJson(raw, schema).schema
      .map(f => (f.name, f.dataType)) ==
      schema.map(f => (f.name, f.dataType)))
  }

  test("streamed ticks converge to the full batch flatten") {
    val cfg = FlatTableConfig("flat", 1, Seq(
      FlatColumn("weight", 100L, "Numeric"),
      FlatColumn("result", 200L, "Coded")))
    val batch1: Seq[ObsRow] = Seq(
      (1L, 1L, 100L, Some(61.0), None, None, None, ts("2024-01-01 10:00:00"), 0),
      (2L, 2L, 200L, None, None, None, Some("POS"), ts("2024-01-01 11:00:00"), 0))
    val batch2: Seq[ObsRow] = Seq(
      // encounter 1 gains a later weight; encounter 3 appears
      (3L, 1L, 100L, Some(64.0), None, None, None, ts("2024-01-02 09:00:00"), 0),
      (4L, 3L, 200L, None, None, None, Some("NEG"), ts("2024-01-02 10:00:00"), 0))
    var obsStore: Seq[ObsRow] = Seq.empty
    val encounters = Seq(1L -> "2024-01-01 10:00:00",
      2L -> "2024-01-01 11:00:00", 3L -> "2024-01-02 10:00:00")

    val storeRoot = Files.createTempDirectory("etlstream").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ObsRow]
    val delta = mem.toDF().toDF("obs_id", "encounter_id", "concept_id",
      "value_numeric", "value_text", "value_datetime", "value_coded",
      "obs_datetime", "voided")
    val q = EtlStreaming.incrementalFlatten(delta, EtlConfig("/src", "/out"),
      sourcesOf(obsStore, encounters), 1, storeRoot,
      interval = "0 seconds", flatConfigs = Map(1 -> cfg)).start()
    try {
      obsStore = batch1
      mem.addData(batch1: _*)
      q.processAllAvailable()
      assert(streamedFlat(storeRoot, cfg).count() == 2)

      obsStore = batch1 ++ batch2
      mem.addData(batch2: _*)
      q.processAllAvailable()

      val streamed = streamedFlat(storeRoot, cfg)
      assertSameRows(streamed, Flatten.flattenObs(toObs(obsStore), cfg))
      val e1 = streamed.filter(col("encounter_id") === 1).collect().head
      assert(e1.getAs[Double]("weight") == 64.0) // tick replaced the row
      // the merge leaves no staging/backup dirs behind
      val siblings = new java.io.File(storeRoot).list().toSeq
      assert(siblings == Seq("mamba_flat_encounter_1"), s"leftovers: $siblings")
    } finally q.stop()
  }

  test("upsertTickBatch: MERGE INTO the catalog; replay guard " +
      "no-ops; constraints gate the ticks") {
    import graft.sources.CatalogStore
    val root = Files.createTempDirectory("upticks").toString
    // two ticks, batch ids 0 and 1 as a stream numbers them
    assert(EtlStreaming.upsertTickBatch(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), 0L, "state", Seq("k")))
    assert(EtlStreaming.upsertTickBatch(spark, root,
      Seq((2L, "B"), (3L, "c")).toDF("k", "v"), 1L, "state", Seq("k")))
    // matched key replaced, new key appended, untouched carried
    assertSameRows(CatalogStore.readCurrent(spark, root, "state"),
      Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("k", "v"))
    // time travel: the first tick alone
    assertSameRows(CatalogStore.read(spark, root, "state",
      CatalogStore.snapshot(spark, root, Some(1))),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // replay of an already-committed id is a NO-OP — guard and merge
    // flipped in the same transaction, so they cannot diverge
    val snap = CatalogStore.snapshot(spark, root)
    val replay = Seq((2L, "XXX")).toDF("k", "v")
    assert(!EtlStreaming.upsertTickBatch(spark, root, replay, 1L,
      "state", Seq("k")))
    assert(CatalogStore.snapshot(spark, root) == snap)
    // a newer id merges
    assert(EtlStreaming.upsertTickBatch(spark, root, replay, 9L,
      "state", Seq("k")))
    assertSameRows(CatalogStore.readCurrent(spark, root, "state"),
      Seq((1L, "a"), (2L, "XXX"), (3L, "c")).toDF("k", "v"))
    // tick_meta stays reserved; persisted constraints gate the ticks
    intercept[IllegalArgumentException] {
      EtlStreaming.upsertTickBatch(spark, root, replay, 10L,
        "tick_meta", Seq("k"))
    }
    CatalogStore.addConstraints(spark, root, Seq(
      CatalogStore.Constraint.check("state", "v_nonempty",
        "length(v) > 0")))
    intercept[CatalogStore.ConstraintViolationException] {
      EtlStreaming.upsertTickBatch(spark, root,
        Seq((5L, "")).toDF("k", "v"), 11L, "state", Seq("k"))
    }
    // the refused tick moved nothing: state and guard intact
    assertSameRows(CatalogStore.readCurrent(spark, root, "state"),
      Seq((1L, "a"), (2L, "XXX"), (3L, "c")).toDF("k", "v"))
  }

  test("partitioned store: a tick rewrites only the months its encounters touch") {
    // 100 TB shape: flat store partitioned by visit month; tick 2
    // changes only January encounters, so February's directory must
    // stay byte-identical (no full-table swap), while a fully-voided
    // January encounter still disappears (removeKeys semantics). Each
    // encounter's visit time is its visit_time obs.
    val cfg = FlatTableConfig("flat", 1, Seq(
      FlatColumn("weight", 100L, "Numeric"),
      FlatColumn("visit_time", 300L, "Datetime")))
    def obsRow(id: Long, enc: Long, concept: Long, num: Option[Double],
        dt: Option[Timestamp], at: String, voided: Int = 0): ObsRow =
      (id, enc, concept, num, None, dt, None, ts(at), voided)
    val jan1 = "2024-01-05 10:00:00"
    val jan2 = "2024-01-20 09:00:00"
    val feb = "2024-02-10 12:00:00"
    val batch1: Seq[ObsRow] = Seq(
      obsRow(1L, 1L, 100L, Some(61.0), None, jan1),
      obsRow(2L, 1L, 300L, None, Some(ts(jan1)), jan1),
      obsRow(3L, 2L, 100L, Some(70.0), None, jan2),
      obsRow(4L, 2L, 300L, None, Some(ts(jan2)), jan2),
      obsRow(5L, 3L, 100L, Some(80.0), None, feb),
      obsRow(6L, 3L, 300L, None, Some(ts(feb)), feb))
    // tick 2: encounter 1 gains a later weight; encounter 2 is voided
    // away entirely (its wide row must vanish without a full rewrite)
    val batch2: Seq[ObsRow] = Seq(
      obsRow(7L, 1L, 100L, Some(64.0), None, "2024-01-06 08:00:00"),
      obsRow(3L, 2L, 100L, Some(70.0), None, jan2, voided = 1),
      obsRow(4L, 2L, 300L, None, Some(ts(jan2)), jan2, voided = 1))
    var obsStore: Seq[ObsRow] = Seq.empty
    val encounters = Seq(1L -> jan1, 2L -> jan2, 3L -> feb)
    def withMonth(df: DataFrame): DataFrame =
      df.withColumn("visit_month", date_format(col("visit_time"), "yyyy-MM"))

    val storeRoot = Files.createTempDirectory("etlpart").toString
    val storePath = s"$storeRoot/mamba_flat_encounter_1"
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[ObsRow]
    val delta = mem.toDF().toDF("obs_id", "encounter_id", "concept_id",
      "value_numeric", "value_text", "value_datetime", "value_coded",
      "obs_datetime", "voided")
    val q = EtlStreaming.incrementalFlatten(delta, EtlConfig("/src", "/out"),
      sourcesOf(obsStore, encounters), 1, storeRoot,
      interval = "0 seconds", flatConfigs = Map(1 -> cfg)).start()
    try {
      obsStore = batch1
      mem.addData(batch1: _*)
      q.processAllAvailable()
      def snapFeb() = new java.io.File(s"$storePath/visit_month=2024-02").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
      val febBefore = snapFeb()
      assert(febBefore.nonEmpty)
      Thread.sleep(10)

      obsStore = batch1.filterNot(o => Seq(3L, 4L).contains(o._1)) ++ batch2
      mem.addData(batch2: _*)
      q.processAllAvailable()

      assert(snapFeb() == febBefore,
        "February's partition must not be rewritten by a January tick")
      val streamed = spark.read.parquet(storePath)
        .select("encounter_id", "weight", "visit_time", "visit_month")
      assertSameRows(streamed,
        withMonth(Flatten.flattenObs(toObs(obsStore), cfg))
          .select("encounter_id", "weight", "visit_time", "visit_month"))
      assert(streamed.filter(col("encounter_id") === 2).isEmpty,
        "fully-voided encounter's wide row must be dropped")
      assert(streamed.filter(col("encounter_id") === 1)
        .collect().head.getAs[Double]("weight") == 64.0)
    } finally q.stop()
  }

  test("file-drop source: parquet drops drive ticks; checkpoint resumes after restart") {
    // the deployment shape: a CDC/export job lands parquet files in a
    // drop directory; the tick stream tails it. MemoryStream proves
    // the merge semantics — this proves the real source wiring AND
    // that engine checkpointing (the bookmark's replacement) survives
    // a crash/restart without reprocessing committed drops.
    val cfg = FlatTableConfig("flat", 1, Seq(
      FlatColumn("weight", 100L, "Numeric"),
      FlatColumn("result", 200L, "Coded")))
    val batch1: Seq[ObsRow] = Seq(
      (1L, 1L, 100L, Some(61.0), None, None, None, ts("2024-01-01 10:00:00"), 0),
      (2L, 2L, 200L, None, None, None, Some("POS"), ts("2024-01-01 11:00:00"), 0))
    val batch2: Seq[ObsRow] = Seq(
      (3L, 1L, 100L, Some(64.0), None, None, None, ts("2024-01-02 09:00:00"), 0),
      (4L, 3L, 200L, None, None, None, Some("NEG"), ts("2024-01-02 10:00:00"), 0))

    val encounters = Seq(1L -> "2024-01-01 10:00:00",
      2L -> "2024-01-01 11:00:00", 3L -> "2024-01-02 10:00:00")

    val root = Files.createTempDirectory("etlfiles")
    val dropDir = root.resolve("drops").toString
    Files.createDirectories(root.resolve("drops"))
    val storeRoot = root.resolve("store").toString
    val ckpt = root.resolve("ckpt").toString
    var obsStore: Seq[ObsRow] = Seq.empty
    val schema = toObs(Nil).schema

    def startQuery() =
      EtlStreaming.incrementalFlatten(
          spark.readStream.schema(schema).parquet(dropDir),
          EtlConfig("/src", "/out"), sourcesOf(obsStore, encounters), 1,
          storeRoot, interval = "0 seconds", flatConfigs = Map(1 -> cfg))
        .option("checkpointLocation", ckpt)
        .start()

    // tick 1: first drop lands, query processes it
    obsStore = batch1
    toObs(batch1).write.mode("append").parquet(dropDir)
    val q1 = startQuery()
    val committed = try {
      q1.processAllAvailable()
      assertSameRows(streamedFlat(storeRoot, cfg),
        Flatten.flattenObs(toObs(batch1), cfg))
      q1.lastProgress.sources.head.endOffset
    } finally q1.stop() // simulated crash/redeploy boundary

    // second drop lands while the query is down
    obsStore = batch1 ++ batch2
    toObs(batch2).write.mode("append").parquet(dropDir)

    // restart from the SAME checkpoint: only the new drop is processed,
    // in one batch that starts where the first run committed; the tick
    // reads that batch once, so its input is the drop's 2 rows
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      val replayed = q2.recentProgress.filter(_.numInputRows > 0)
        .map(_.sources.head)
      assert(replayed.map(_.startOffset).toSeq == Seq(committed),
        "restart must resume from the checkpoint, not reprocess: " +
          replayed.map(_.json).mkString("; "))
      assert(replayed.map(_.numInputRows).toSeq == Seq(2L),
        "each micro-batch must be read once: " +
          replayed.map(_.json).mkString("; "))
      assertSameRows(streamedFlat(storeRoot, cfg),
        Flatten.flattenObs(toObs(obsStore), cfg))
    } finally q2.stop()
  }
}
