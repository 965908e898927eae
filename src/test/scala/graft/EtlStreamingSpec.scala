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

  private type Ev = (Long, Timestamp, Long, String)

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

  test("scd2Ticks: streamed history ≡ full batch build; redelivery no-ops") {
    val batch1: Seq[Ev] = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L, "A"),
      (1L, ts("2024-01-02 10:00:00"), 2L, "A"),
      (2L, ts("2024-01-03 10:00:00"), 3L, "X"))
    val batch2: Seq[Ev] = Seq(
      (1L, ts("2024-02-01 10:00:00"), 4L, "B"), // change for user 1
      (2L, ts("2024-02-02 10:00:00"), 5L, "X"), // extends user 2's open run
      (3L, ts("2024-02-03 10:00:00"), 6L, "N")) // new key
    val storePath = Files.createTempDirectory("scd2stream")
      .resolve("scd2").toString
    implicit val sqlCtx = spark.sqlContext
    def toEv(rows: Seq[Ev]): DataFrame =
      rows.toDF("user_id", "ts", "event_id", "event_type")

    val mem = MemoryStream[Ev]
    val q = EtlStreaming.scd2Ticks(
      mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      storePath, "user_id", "ts", "event_id", "event_type",
      interval = "0 seconds").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val full = graft.operators.Incremental.scd2History(
      toEv(batch1 ++ batch2), "user_id", "ts", "event_id", "event_type")
    assertSameRows(spark.read.parquet(storePath).drop("__max_ord"), full)

    // redelivery: a NEW stream (fresh checkpoint) replays batch2 —
    // every ord ≤ the stored mark, so the tick must not re-fold
    // (n_events would double) and the store must stay byte-stable
    val before = spark.read.parquet(storePath).collect().toSet
    val mem2 = MemoryStream[Ev]
    val q2 = EtlStreaming.scd2Ticks(
      mem2.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      storePath, "user_id", "ts", "event_id", "event_type",
      interval = "0 seconds").start()
    try { mem2.addData(batch2: _*); q2.processAllAvailable() }
    finally q2.stop()
    assert(spark.read.parquet(storePath).collect().toSet == before)
    // crash-safe swap leaves no staging/backup dirs behind
    val siblings = new java.io.File(storePath).getParentFile.list().toSeq
    assert(siblings == Seq("scd2"), s"leftovers: $siblings")
  }

  test("cdcApplyTicks: streamed folds ≡ one-shot applyChanges; redelivery no-ops without a mark") {
    // change rows: (k, v, op, seq)
    val batch1: Seq[(Long, String, String, Long)] = Seq(
      (1L, "a", "c", 10L), (2L, "b", "c", 11L), (3L, "c", "c", 12L))
    val batch2: Seq[(Long, String, String, Long)] = Seq(
      (2L, "B2", "u", 21L), (2L, "B1", "u", 20L), // out of order in-tick
      (3L, "dead", "d", 22L),                     // hard delete
      (4L, "d4", "c", 23L))
    val storePath = Files.createTempDirectory("cdcstream")
      .resolve("cdc").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String, Long)]
    val q = EtlStreaming.cdcApplyTicks(
      mem.toDF().toDF("k", "v", "op", "seq"), storePath, Seq("k"),
      interval = "0 seconds").start()
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val changes = (batch1 ++ batch2).toDF("k", "v", "op", "seq")
    val oneShot = graft.operators.Incremental.applyChanges(
      changes.drop("op").limit(0), changes, Seq("k"))
    assertSameRows(spark.read.parquet(storePath), oneShot)

    // at-least-once: a fresh stream replays batch2 — every change
    // loses (or ties with identical image) against the stored seq, so
    // the store is value-stable with NO high-water column at all
    val before = spark.read.parquet(storePath).collect().toSet
    val mem2 = MemoryStream[(Long, String, String, Long)]
    val q2 = EtlStreaming.cdcApplyTicks(
      mem2.toDF().toDF("k", "v", "op", "seq"), storePath, Seq("k"),
      interval = "0 seconds").start()
    try { mem2.addData(batch2: _*); q2.processAllAvailable() }
    finally q2.stop()
    assert(spark.read.parquet(storePath).collect().toSet == before)
    val siblings = new java.io.File(storePath).getParentFile.list().toSeq
    assert(siblings == Seq("cdc"), s"leftovers: $siblings")
  }

  test("catalogTicks: per-tick atomic multi-table commits; replay guard no-ops") {
    import graft.sources.CatalogStore
    val root = Files.createTempDirectory("catticks").toString
    // derive folds CUMULATIVE per-key counts: read prior state from
    // the store, add the tick's rows — the usual transactional shape
    def derive(batch: DataFrame): Map[String, DataFrame] = {
      val tick = batch.groupBy("k").agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      val prior =
        try CatalogStore.readCurrent(spark, root, "counts")
        catch { case _: Exception => tick.limit(0) }
      val counts = prior.unionByName(tick).groupBy("k")
        .agg(org.apache.spark.sql.functions.sum("n").as("n"))
      Map("counts" -> counts,
        "latest" -> batch.groupBy("k").agg(
          org.apache.spark.sql.functions.max("v").as("v")))
    }
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)]
    val q = EtlStreaming.catalogTicks(
      mem.toDF().toDF("k", "v"), root, derive,
      interval = "0 seconds").start()
    try {
      mem.addData((1L, 10L), (1L, 11L), (2L, 20L)); q.processAllAvailable()
      mem.addData((1L, 12L), (3L, 30L)); q.processAllAvailable()
    } finally q.stop()
    val snap = CatalogStore.snapshot(spark, root)
    // both tables committed atomically per tick + the guard table
    assert(snap.tables.keySet == Set("counts", "latest", "tick_meta"))
    assertSameRows(CatalogStore.read(spark, root, "counts", snap),
      Seq((1L, 3L), (2L, 1L), (3L, 1L)).toDF("k", "n"))
    assertSameRows(CatalogStore.read(spark, root, "latest", snap),
      Seq((1L, 12L), (3L, 30L)).toDF("k", "v"))
    // time travel: tick 1 alone
    val v1 = CatalogStore.snapshot(spark, root, Some(1))
    assertSameRows(CatalogStore.read(spark, root, "counts", v1),
      Seq((1L, 2L), (2L, 1L)).toDF("k", "n"))
    // replay guard: re-folding the SAME batch id is a no-op — the
    // cumulative fold would otherwise double-count
    val replay = Seq((1L, 12L), (3L, 30L)).toDF("k", "v")
    assert(!EtlStreaming.catalogTickBatch(spark, root, replay, 1L, derive))
    assert(CatalogStore.snapshot(spark, root) == snap)
    // a NEWER id commits, and tick_meta is reserved
    assert(EtlStreaming.catalogTickBatch(spark, root, replay, 7L, derive))
    assert(CatalogStore.read(spark, root, "counts",
      CatalogStore.snapshot(spark, root))
      .filter(org.apache.spark.sql.functions.col("k") === 1L)
      .head.getLong(1) == 4L)
    intercept[IllegalArgumentException] {
      EtlStreaming.catalogTickBatch(spark, root, replay, 99L,
        b => Map("tick_meta" -> b))
    }
    // maintenance rides the tick: the curated table comes out with a
    // file index (skippable) and stats (metaAgg-servable) in the SAME
    // commit — no separate job; indexCols for tables the tick did not
    // derive are ignored per-tick, not an error
    assert(EtlStreaming.catalogTickBatch(spark, root, replay, 100L,
      derive, indexCols = Map("latest" -> Seq("k"),
        "not_derived_this_tick" -> Seq("x")),
      analyzeStats = true))
    val snapM = CatalogStore.snapshot(spark, root)
    assert(CatalogStore.fileIndexOf(spark, root, snapM, "latest")
      .isDefined)
    assert(CatalogStore.metaAgg(spark, root, snapM, "latest",
      Seq("k")).head.getAs[Long]("row_count") == 2L)
    val rw = CatalogStore.readWhere(spark, root, "latest", snapM,
      org.apache.spark.sql.functions.col("k") >= 3L)
    assertSameRows(rw, Seq((3L, 30L)).toDF("k", "v"))
  }

  test("upsertTicks: streaming MERGE INTO the catalog; replay guard " +
      "no-ops; constraints gate the ticks") {
    import graft.sources.CatalogStore
    val root = Files.createTempDirectory("upticks").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = EtlStreaming.upsertTicks(mem.toDF().toDF("k", "v"), root,
      "state", Seq("k"), interval = "0 seconds").start()
    try {
      mem.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      mem.addData((2L, "B"), (3L, "c")); q.processAllAvailable()
    } finally q.stop()
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

  test("dvTicks: streamed delete keys maintain the vector; data files untouched; redelivery no-ops") {
    val root = Files.createTempDirectory("dvticks")
    val tablePath = root.resolve("t").toString
    val dvPath = root.resolve("dv").toString
    val table = (1L to 100L).map(i => (i, s"v$i")).toDF("k", "v")
    table.repartition(3).write.parquet(tablePath)
    val fsPath = new org.apache.hadoop.fs.Path(tablePath)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles() = fs.listStatus(fsPath).toSeq
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).toSet
    val before = dataFiles()

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val q = EtlStreaming.dvTicks(mem.toDF().toDF("k"), tablePath, dvPath,
      Seq("k"), interval = "0 seconds").start()
    try {
      mem.addData(7L, 13L); q.processAllAvailable()
      assert(spark.read.parquet(dvPath).count() == 2)
      mem.addData(13L, 42L); q.processAllAvailable() // 13 redelivered
    } finally q.stop()
    assert(spark.read.parquet(dvPath).count() == 3)
    val read = graft.operators.Layout.readWithDv(
      spark, tablePath, spark.read.parquet(dvPath))
    assertSameRows(read, table.filter(!col("k").isin(7L, 13L, 42L)))
    // the erasure path never rewrites a data file
    assert(dataFiles() == before)
  }

  test("joinViewTicks: multiplexed insert feed; view ≡ full rebuild; trio swaps atomically; redelivery no-ops") {
    // tagged rows: (side, k, av, bv, ord) — av null for b-rows, bv for a-rows
    val b1: Seq[(String, Long, String, String, Long)] = Seq(
      ("a", 1L, "a1", null, 1L), ("a", 2L, "a2", null, 2L),
      ("b", 1L, null, "b1", 3L), ("b", 3L, null, "b3e", 4L))
    val b2: Seq[(String, Long, String, String, Long)] = Seq(
      ("a", 3L, "a3", null, 5L),                      // late order meets early line
      ("b", 2L, null, "b2", 6L), ("b", 3L, null, "b3l", 7L),
      ("b", 9L, null, "b9", 8L))                      // unmatched key
    val storePath = Files.createTempDirectory("jvticks")
      .resolve("jv").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, String, String, Long)]
    val q = EtlStreaming.joinViewTicks(
      mem.toDF().toDF("side", "k", "av", "bv", "ord"), storePath,
      Seq("k"), aCols = Seq("k", "av"), bCols = Seq("k", "bv"),
      interval = "0 seconds").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def allRows(rows: Seq[(String, Long, String, String, Long)], side: String, c: String) = rows
      .filter(_._1 == side)
      .map(r => (r._2, if (side == "a") r._3 else r._4))
      .toDF("k", c)
    val aFull = allRows(b1 ++ b2, "a", "av")
    val bFull = allRows(b1 ++ b2, "b", "bv")
    assertSameRows(spark.read.parquet(s"$storePath/view"),
      aFull.join(bFull, Seq("k")))
    assertSameRows(spark.read.parquet(s"$storePath/a"), aFull)
    assertSameRows(spark.read.parquet(s"$storePath/b"), bFull)
    // redelivery on a fresh stream: all ords ≤ mark → byte-stable
    val before = spark.read.parquet(s"$storePath/view").collect().toSet
    val mem2 = MemoryStream[(String, Long, String, String, Long)]
    val q2 = EtlStreaming.joinViewTicks(
      mem2.toDF().toDF("side", "k", "av", "bv", "ord"), storePath,
      Seq("k"), aCols = Seq("k", "av"), bCols = Seq("k", "bv"),
      interval = "0 seconds").start()
    try { mem2.addData(b2: _*); q2.processAllAvailable() }
    finally q2.stop()
    assert(spark.read.parquet(s"$storePath/view").collect().toSet == before)
    // one-rename swap leaves no staging/backup siblings
    val siblings = new java.io.File(storePath).getParentFile.list().toSeq
    assert(siblings == Seq("jv"), s"leftovers: $siblings")
  }

  test("scd2Ticks: IntegerType order column survives the mark round-trip") {
    // regression: the mark reads used getLong directly, which threw
    // ClassCastException on an int event id at the FIRST STORE READ
    // (tick 2) — both mark aggregates now cast to long first
    val storePath = Files.createTempDirectory("scd2int")
      .resolve("scd2").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Int, String)]
    val q = EtlStreaming.scd2Ticks(
      mem.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      storePath, "user_id", "ts", "event_id", "event_type",
      interval = "0 seconds").start()
    try {
      mem.addData((1L, ts("2024-01-01 10:00:00"), 1, "A"))
      q.processAllAvailable()
      mem.addData((1L, ts("2024-02-01 10:00:00"), 2, "B"))
      q.processAllAvailable()
    } finally q.stop()
    val hist = spark.read.parquet(storePath)
    assert(hist.count() == 2 &&
      hist.filter(col("is_current")).count() == 1)
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
