package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame

import graft.examples.MambaEtlJob
import graft.model.EtlConfig
import graft.operators.{BookmarkStore, Incremental}
import graft.pipeline.EtlScheduler
import graft.reports.ReportRegistry
import graft.streaming.EtlStreaming

/** The reference's full lifecycle end-to-end on an OpenMRS-shaped
  * fixture (SURVEY §3 E1-E3): sources → dims → per-type flat tables
  * (auto-config) → derived fact → parameterized report SQL over the
  * registered views. This is the "a MambaETL user switches engines"
  * test.
  */
class MambaLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private def d(s: String) = java.sql.Date.valueOf(s)

  private def sources: MambaEtlJob.Sources = MambaEtlJob.Sources(
    person = Seq(
      (1L, "p-uuid-1", "F", d("1990-03-04"), 0),
      (2L, "p-uuid-2", "M", d("1985-07-21"), 0),
      (3L, "p-uuid-3", "F", d("2001-11-30"), 1) // voided
    ).toDF("person_id", "uuid", "gender", "birthdate", "voided"),
    encounterType = Seq(
      (7, "et-uuid-anc", "ANC"), (8, "et-uuid-hts", "HTS")
    ).toDF("encounter_type_id", "uuid", "name"),
    encounter = Seq(
      (10L, "e-10", 7, 1L, ts("2024-02-01 09:00:00"), 0),
      (11L, "e-11", 7, 2L, ts("2024-02-02 10:00:00"), 0),
      (12L, "e-12", 8, 1L, ts("2024-02-03 11:00:00"), 0),
      (13L, "e-13", 7, 1L, ts("2024-02-04 12:00:00"), 1) // voided
    ).toDF("encounter_id", "uuid", "encounter_type", "patient_id",
      "encounter_datetime", "voided"),
    concept = Seq(
      (100L, "Weight (kg)", "Numeric"),
      (200L, "HIV Result", "Coded"),
      (300L, "Counselor Notes", "Text")
    ).toDF("concept_id", "name", "datatype"),
    obs = Seq(
      (1L, 10L, 100L, Some(61.5), None: Option[String], None: Option[String], ts("2024-02-01 09:05:00"), 0),
      (2L, 10L, 200L, None, None, Some("NEGATIVE"), ts("2024-02-01 09:06:00"), 0),
      (3L, 11L, 100L, Some(82.0), None, None, ts("2024-02-02 10:05:00"), 0),
      (4L, 12L, 200L, None, None, Some("POSITIVE"), ts("2024-02-03 11:05:00"), 0),
      (5L, 12L, 300L, None, Some("follow up"), None, ts("2024-02-03 11:06:00"), 0),
      (6L, 13L, 100L, Some(90.0), None, None, ts("2024-02-04 12:05:00"), 0)
    ).toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
      "value_text", "value_coded", "obs_datetime", "voided"))

  private lazy val outputs: Map[String, DataFrame] =
    MambaEtlJob.run(spark, EtlConfig("/src", "/out"), sources, Seq(7, 8))

  test("dims are cleaned projections (voided rows dropped)") {
    assert(outputs("mamba_dim_person").count() == 2)
    val enc = outputs("mamba_dim_encounter")
    assert(enc.count() == 3) // encounter 13 voided
    assert(enc.filter($"encounter_type_name" === "ANC").count() == 2)
  }

  test("per-type flat tables auto-configure from metadata") {
    val anc = outputs("mamba_flat_encounter_7")
    // ANC obs only reference Weight → one auto column + enc metadata
    assert(anc.columns.contains("weight_kg_"))
    val byEnc = anc.orderBy("encounter_id").collect()
    assert(byEnc.length == 2)
    assert(byEnc(0).getAs[Double]("weight_kg_") == 61.5)
    val hts = outputs("mamba_flat_encounter_8")
    assert(hts.columns.contains("hiv_result") && hts.columns.contains("counselor_notes"))
    val h = hts.collect().head
    assert(h.getAs[String]("hiv_result") == "POSITIVE")
    assert(h.getAs[String]("counselor_notes") == "follow up")
  }

  test("automated_flattening=1 with zero configs flattens every type " +
      "with live encounters, identically to the explicit-id run") {
    // the reference's one-flag mode (README.md:136-137): no id list,
    // no per-type config — types {7, 8} come from the encounter
    // table's live rows (13 is voided and type-7 anyway)
    val auto = MambaEtlJob.run(spark,
      EtlConfig("/src", "/out", automatedFlattening = 1), sources, Seq())
    assert(auto.keySet == outputs.keySet)
    Seq("mamba_flat_encounter_7", "mamba_flat_encounter_8",
      "mamba_fact_encounter_counts").foreach { t =>
      assertSameRows(auto(t), outputs(t))
    }
    // flag OFF + empty ids = just the dims and the fact, no flats —
    // the explicit contract the flag exists to change
    val off = MambaEtlJob.run(spark,
      EtlConfig("/src", "/out"), sources, Seq())
    assert(!off.keySet.exists(_.startsWith("mamba_flat_encounter_")))
    // explicit ids win over discovery when both are given
    val explicit = MambaEtlJob.run(spark,
      EtlConfig("/src", "/out", automatedFlattening = 1), sources, Seq(8))
    assert(explicit.keySet.filter(_.startsWith("mamba_flat_encounter_"))
      == Set("mamba_flat_encounter_8"))
  }

  test("derived fact aggregates over dims in base→derived order") {
    val fact = outputs("mamba_fact_encounter_counts")
      .orderBy("encounter_type_name", "gender")
      .as[(String, String, Long, Long)].collect()
    assert(fact.toSeq == Seq(
      ("ANC", "F", 1L, 1L), ("ANC", "M", 1L, 1L), ("HTS", "F", 1L, 1L)))
  }

  test("persisted lifecycle: install partitions by month; a tick rewrites only touched months") {
    import org.apache.spark.sql.functions.col
    // widen the fixture across two months so partition pruning is visible
    val extraEnc = Seq((14L, "e-14", 7, 2L, ts("2024-03-05 09:00:00"), 0))
      .toDF("encounter_id", "uuid", "encounter_type", "patient_id",
        "encounter_datetime", "voided")
    val extraObs = Seq((7L, 14L, 100L, Some(70.0), None: Option[String],
      None: Option[String], ts("2024-03-05 09:10:00"), 0))
      .toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
        "value_text", "value_coded", "obs_datetime", "voided")
    val src = sources.copy(
      encounter = sources.encounter.unionByName(extraEnc),
      obs = sources.obs.unionByName(extraObs))
    val cfgE = EtlConfig("/src", "/out")
    val root = java.nio.file.Files.createTempDirectory("mambastore").toString
    MambaEtlJob.runPersisted(spark, cfgE, src, Seq(7, 8), root)
    val flat7 = s"$root/mamba_flat_encounter_7"
    def snapMarch(): Seq[(String, Long, Long)] =
      new java.io.File(s"$flat7/visit_month=2024-03").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).toSeq.sortBy(_._1)
    val marchBefore = snapMarch()
    assert(marchBefore.nonEmpty, "install must lay out month partitions")
    Thread.sleep(10)

    // tick: a late-arriving obs updates encounter 10 (February); the
    // bookmark admits only the new row
    val tickObs = Seq((8L, 10L, 100L, Some(63.0), None: Option[String],
      None: Option[String], ts("2024-03-10 08:00:00"), 0))
      .toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
        "value_text", "value_coded", "obs_datetime", "voided")
    val src2 = src.copy(obs = src.obs.unionByName(tickObs))
    MambaEtlJob.tickPersisted(spark, cfgE, src2, 7, root,
      changedSince = Some(ts("2024-03-06 00:00:00")))

    assert(snapMarch() == marchBefore,
      "a February-only tick must not rewrite the March partition")
    val stored = spark.read.parquet(flat7)
    assert(stored.filter(col("encounter_id") === 10)
      .collect().head.getAs[Double]("weight_kg_") == 63.0)

    // N-ticks ≡ full: the ticked store equals a fresh install from the
    // final obs state
    val root2 = java.nio.file.Files.createTempDirectory("mambastore2").toString
    MambaEtlJob.runPersisted(spark, cfgE, src2, Seq(7), root2)
    val cols = stored.columns.sorted.map(col).toSeq
    assertSameRows(stored.select(cols: _*),
      spark.read.parquet(s"$root2/mamba_flat_encounter_7").select(cols: _*))
  }

  /** Lands tick steps (the next sources and a bookmark) on a store
    * that was installed from the sources it was built with.
    */
  private trait TickDriver {
    def tick(next: MambaEtlJob.Sources, bookmark: String): Unit
    def close(): Unit = ()
  }

  /** A driver over (config, installed sources, type, store root). */
  private type Driver = (EtlConfig, MambaEtlJob.Sources, Int, String) => TickDriver

  /** Each step is one tickPersisted from the step's bookmark. */
  private val bookmarkDriver: Driver = (cfg, _, et, root) =>
    (next, bookmark) => MambaEtlJob.tickPersisted(spark, cfg, next, et,
      root, changedSince = Some(ts(bookmark)))

  /** Each step's obs changed since its bookmark land as a parquet file
    * drop, tailed by the streaming driver with the step's sources.
    */
  private val streamDriver: Driver = (cfg, installed, et, root) =>
    new TickDriver {
      private val dir = Files.createTempDirectory("mambadrops")
      private val drops = Files.createDirectories(dir.resolve("drops")).toString
      private var current = installed
      private val q = EtlStreaming.incrementalFlatten(
          spark.readStream.schema(installed.obs.schema).parquet(drops),
          cfg, current, et, root, interval = "0 seconds")
        .option("checkpointLocation", dir.resolve("ckpt").toString).start()
      def tick(next: MambaEtlJob.Sources, bookmark: String): Unit = {
        current = next
        Incremental.changedSince(next.obs, Some(ts(bookmark)),
          Seq("obs_datetime")).write.mode("append").parquet(drops)
        q.processAllAvailable()
      }
      override def close(): Unit = q.stop()
    }

  /** Each step is one scheduler firing of an incremental scheduledTick,
    * on a bookmark seeded with the install's mark; the scheduler keeps
    * its own marks, so the step's bookmark is not read.
    */
  private val scheduledDriver: Driver = (cfg, installed, et, root) =>
    new TickDriver {
      private val bookmarks = new BookmarkStore(
        Files.createTempDirectory("mambabm").resolve("bookmark").toString)
      Incremental.nextBookmark(installed.obs, Seq("obs_datetime"))
        .foreach(bookmarks.write)
      private var current = installed
      private val loop = new EtlScheduler(() =>
        MambaEtlJob.scheduledTick(spark, cfg.copy(incrementalMode = 1),
          current, Seq(et), root, bookmarks), cfg, _ => ())
      def tick(next: MambaEtlJob.Sources, bookmark: String): Unit = {
        current = next
        loop.runLoop(maxTicks = 1, maxConsecutiveFailures = 1)
      }
    }

  private val allDrivers = Seq("tickPersisted" -> bookmarkDriver,
    "stream" -> streamDriver, "scheduler" -> scheduledDriver)

  /** Install `src` for type `et`, land each tick (the next sources
    * and its bookmark) with `driver`, then compare every flat table of
    * the type with a fresh runPersisted install of the final sources.
    * Returns the ticked store's root.
    */
  private def assertTicksMatchInstall(src: MambaEtlJob.Sources, et: Int,
      ticks: Seq[(MambaEtlJob.Sources => MambaEtlJob.Sources, String)],
      columns: Int = 40, driver: Driver = bookmarkDriver): String = {
    val cfgE = EtlConfig("/src", "/out", columns = columns)
    val root = Files.createTempDirectory("mambatick").toString
    MambaEtlJob.runPersisted(spark, cfgE, src, Seq(et), root)
    val landing = driver(cfgE, src, et, root)
    val last =
      try ticks.foldLeft(src) { case (s, (nextSources, bookmark)) =>
        val next = nextSources(s)
        landing.tick(next, bookmark)
        next
      } finally landing.close()
    assertStoreMatchesInstall(root, cfgE, last, et)
    root
  }

  /** Every flat table of type `et` under `root` equals the one a fresh
    * runPersisted install of `src` writes.
    */
  private def assertStoreMatchesInstall(root: String, cfgE: EtlConfig,
      src: MambaEtlJob.Sources, et: Int): Unit = {
    import org.apache.spark.sql.functions.col
    val fresh = Files.createTempDirectory("mambafresh").toString
    MambaEtlJob.runPersisted(spark, cfgE, src, Seq(et), fresh)
    val base = s"mamba_flat_encounter_$et"
    def flatTables(dir: String) = new java.io.File(dir).list().toSeq
      .filter(n => n == base || n.matches(s"${base}_[0-9]+")).sorted
    assert(flatTables(root) == flatTables(fresh))
    flatTables(fresh).foreach { t =>
      val ticked = spark.read.parquet(s"$root/$t")
      val want = spark.read.parquet(s"$fresh/$t")
      assert(ticked.columns.sorted.toSeq == want.columns.sorted.toSeq, t)
      val cols = want.columns.sorted.map(col).toSeq
      assertSameRows(ticked.select(cols: _*), want.select(cols: _*))
    }
  }

  /** A tick step that changes only the obs table. */
  private def onObs(f: DataFrame => DataFrame)
      : MambaEtlJob.Sources => MambaEtlJob.Sources =
    s => s.copy(obs = f(s.obs))

  /** Appends one live encounter. */
  private def addEncounter(id: Long, et: Int, patient: Long,
      at: String): MambaEtlJob.Sources => MambaEtlJob.Sources =
    s => s.copy(encounter = s.encounter.unionByName(
      Seq((id, s"e-$id", et, patient, ts(at), 0))
        .toDF("encounter_id", "uuid", "encounter_type", "patient_id",
          "encounter_datetime", "voided")))

  /** Moves encounter `id` to `at`, and bumps its obs `obsId` to
    * `bumped` (past the bookmark) so the tick sees the encounter as
    * changed.
    */
  private def moveEncounter(id: Long, at: String, obsId: Long,
      bumped: String): MambaEtlJob.Sources => MambaEtlJob.Sources = s => {
    import org.apache.spark.sql.functions.{lit, when}
    s.copy(
      encounter = s.encounter.withColumn("encounter_datetime",
        when($"encounter_id" === id, lit(ts(at)))
          .otherwise($"encounter_datetime")),
      obs = bumpObs(obsId, bumped)(s.obs))
  }

  /** Appends one live numeric or coded obs. */
  private def addObs(id: Long, enc: Long, concept: Long,
      num: Option[Double], coded: Option[String],
      at: String): DataFrame => DataFrame =
    _.unionByName(Seq((id, enc, concept, num, None: Option[String],
        coded, ts(at), 0))
      .toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
        "value_text", "value_coded", "obs_datetime", "voided"))

  /** Bumps obs `id`'s audit time to `at` (past the bookmark). */
  private def bumpObs(id: Long, at: String): DataFrame => DataFrame = {
    import org.apache.spark.sql.functions.{lit, when}
    _.withColumn("obs_datetime",
      when($"obs_id" === id, lit(ts(at))).otherwise($"obs_datetime"))
  }

  /** Voids obs `id`, bumping its audit time to `at` (past the bookmark). */
  private def voidObs(id: Long, at: String): DataFrame => DataFrame = obs => {
    import org.apache.spark.sql.functions.{lit, when}
    bumpObs(id, at)(obs.withColumn("voided",
      when($"obs_id" === id, lit(1)).otherwise($"voided")))
  }

  /** The fixture plus a Height concept that no install-time obs uses. */
  private def withHeight: MambaEtlJob.Sources = sources.copy(
    concept = sources.concept.unionByName(
      Seq((101L, "Height (cm)", "Numeric"))
        .toDF("concept_id", "name", "datatype")))

  test("ticks after a concept is first used in a type equal a fresh install") {
    // encounter type 7 holds only Weight until a tick records a Height
    // obs: the auto-config grows a column the stored table lacks
    assertTicksMatchInstall(withHeight, 7, Seq(
      onObs(addObs(9L, 11L, 101L, Some(170.0), None,
        "2024-03-10 08:00:00")) -> "2024-03-06 00:00:00",
      onObs(addObs(10L, 10L, 100L, Some(64.0), None,
        "2024-03-12 08:00:00")) -> "2024-03-11 00:00:00"))
  }

  test("ticks after a concept is voided away from a type equal a fresh install") {
    // encounter type 8's only Counselor Notes obs is voided, its audit
    // time bumped past the bookmark: the column leaves the auto-config
    assertTicksMatchInstall(sources, 8, Seq(
      onObs(voidObs(5L, "2024-03-10 08:00:00")) -> "2024-03-06 00:00:00",
      onObs(addObs(11L, 12L, 200L, None, Some("NEGATIVE"),
        "2024-03-12 08:00:00")) -> "2024-03-11 00:00:00"))
  }

  test("ticks on a type split into continuation tables equal a fresh install") {
    // a 1-column cap splits type 8 into one table per concept; the
    // second tick's Height obs re-deals the columns across 3 tables
    allDrivers.foreach { case (name, driver) =>
      withClue(s"$name: ") {
        assertTicksMatchInstall(withHeight, 8, Seq(
          onObs(addObs(9L, 12L, 200L, None, Some("NEGATIVE"),
            "2024-03-10 08:00:00")) -> "2024-03-06 00:00:00",
          onObs(addObs(10L, 12L, 101L, Some(150.0), None,
            "2024-03-12 08:00:00")) -> "2024-03-11 00:00:00"),
          columns = 1, driver = driver)
      }
    }
  }

  test("a tick landing a new encounter in a month with no partition yet equals a fresh install") {
    // encounter 15 (type 7) opens April; its obs is the tick's only change
    assertTicksMatchInstall(sources, 7, Seq(
      addEncounter(15L, 7, 2L, "2024-04-02 09:00:00").andThen(
        onObs(addObs(9L, 15L, 100L, Some(58.0), None,
          "2024-04-02 09:05:00"))) -> "2024-03-06 00:00:00"))
  }

  test("a tick that moves a changed encounter to another month equals a fresh install") {
    // encounter 11 moves from February to April; bumping its Weight
    // obs past the bookmark marks it changed. A second tick adds an
    // obs to the moved encounter in its new month.
    assertTicksMatchInstall(sources, 7, Seq(
      moveEncounter(11L, "2024-04-03 10:00:00", 3L,
        "2024-03-10 08:00:00") -> "2024-03-06 00:00:00",
      onObs(addObs(9L, 11L, 100L, Some(83.0), None,
        "2024-03-12 08:00:00")) -> "2024-03-11 00:00:00"))
  }

  test("a tick that moves a changed encounter on a split type equals a fresh install") {
    // a 1-column cap splits type 8 into one table per concept; encounter
    // 12 moves to April through a bumped obs of one chunk only, and a
    // new type-8 encounter lands in May
    allDrivers.foreach { case (name, driver) =>
      withClue(s"$name: ") {
        assertTicksMatchInstall(withHeight, 8, Seq(
          moveEncounter(12L, "2024-04-03 11:00:00", 5L,
            "2024-03-10 08:00:00") -> "2024-03-06 00:00:00",
          addEncounter(16L, 8, 2L, "2024-05-01 09:00:00").andThen(
            onObs(addObs(9L, 16L, 200L, None, Some("NEGATIVE"),
              "2024-05-01 09:05:00"))) -> "2024-03-11 00:00:00"),
          columns = 1, driver = driver)
      }
    }
  }

  test("a tick that voids every obs of an encounter equals a fresh install") {
    // encounter 11's only obs is voided, its audit time bumped past
    // the bookmark (an unbumped void is invisible to any bookmark).
    // Encounter 10 keeps type 7's Weight column, so the tick merges,
    // and a merge keyed only on fresh rows would leave 11 behind.
    val root = assertTicksMatchInstall(sources, 7, Seq(
      onObs(voidObs(3L, "2024-03-10 08:00:00")) -> "2024-03-06 00:00:00"))
    assert(spark.read.parquet(s"$root/mamba_flat_encounter_7")
      .filter($"encounter_id" === 11).isEmpty)
  }

  test("a stream re-pivots no encounter of another type and no voided encounter into a type's table") {
    // one drop carries a new Weight obs of encounter 12 (type 8) and
    // the bumped Weight obs of voided encounter 13 (type 7); type 7
    // uses Weight too, yet neither encounter belongs in its table
    val root = assertTicksMatchInstall(sources, 7, Seq(
      onObs(addObs(9L, 12L, 100L, Some(75.0), None, "2024-03-10 08:00:00")
        .andThen(bumpObs(6L, "2024-03-10 08:05:00"))) -> "2024-03-06 00:00:00"),
      driver = streamDriver)
    assert(spark.read.parquet(s"$root/mamba_flat_encounter_7")
      .select("encounter_id").as[Long].collect().toSet == Set(10L, 11L))
  }

  test("a scheduled tick whose sources fail leaves the bookmark; the next tick converges to a fresh install") {
    // firing 1 installs (mode 0), firing 2 cannot read its sources,
    // firing 3 ticks (mode 1) over the window firing 2 missed
    val cfgE = EtlConfig("/src", "/out")
    val root = Files.createTempDirectory("mambasched").toString
    val bookmarks = new BookmarkStore(
      Files.createTempDirectory("mambaschedbm").resolve("bookmark").toString)
    val moved = moveEncounter(11L, "2024-04-03 10:00:00", 3L,
      "2024-03-10 08:00:00")(sources)
    val firings = Iterator[() => MambaEtlJob.Sources](() => sources,
      () => throw new java.io.IOException("source unreachable"), () => moved)
    val marks = scala.collection.mutable.ArrayBuffer.empty[Option[Timestamp]]
    val errors = scala.collection.mutable.ArrayBuffer.empty[Int]
    var mode = 0
    val ok = new EtlScheduler(() => {
        val src = firings.next()
        try MambaEtlJob.scheduledTick(spark,
          cfgE.copy(incrementalMode = mode), src(), Seq(7), root, bookmarks)
        finally { mode = 1; marks += bookmarks.read() }
      }, cfgE, _ => ())
      .runLoop(maxTicks = 3, onError = (tick, _) => errors += tick)
    assert(ok == 2 && errors.toSeq == Seq(1))
    val installMark = Some(ts("2024-02-04 12:05:00"))
    assert(marks.toSeq ==
      Seq(installMark, installMark, Some(ts("2024-03-10 08:00:00"))))
    assertStoreMatchesInstall(root, cfgE, moved, 7)
  }

  test("a tick or reinstall that shrinks a type's split drops the stale continuation table") {
    // a 2-column cap splits type 8's three concepts into
    // `_8` (counselor_notes, height_cm_) and `_8_1` (hiv_result);
    // voiding the only HIV Result obs leaves `_8` as it was
    val src = withHeight.copy(obs = addObs(9L, 12L, 101L, Some(150.0), None,
      "2024-02-03 11:07:00")(withHeight.obs))
    val voidHiv = voidObs(4L, "2024-03-10 08:00:00")
    assertTicksMatchInstall(src, 8,
      Seq(onObs(voidHiv) -> "2024-03-06 00:00:00"), columns = 2)
    // the same shrink through a reinstall over the existing root
    val cfg2 = EtlConfig("/src", "/out", columns = 2)
    val root = java.nio.file.Files.createTempDirectory("mambare").toString
    MambaEtlJob.runPersisted(spark, cfg2, src, Seq(8), root)
    assert(new java.io.File(s"$root/mamba_flat_encounter_8_1").isDirectory)
    MambaEtlJob.runPersisted(spark, cfg2,
      src.copy(obs = voidHiv(src.obs)), Seq(8), root)
    assert(!new java.io.File(s"$root/mamba_flat_encounter_8_1").exists)
  }

  test("install and tick write one parquet file per visit month") {
    val extraEnc = Seq((14L, "e-14", 7, 2L, ts("2024-03-05 09:00:00"), 0))
      .toDF("encounter_id", "uuid", "encounter_type", "patient_id",
        "encounter_datetime", "voided")
    val src = sources.copy(
      encounter = sources.encounter.unionByName(extraEnc),
      obs = addObs(7L, 14L, 100L, Some(70.0), None,
        "2024-03-05 09:10:00")(sources.obs))
    val cfgE = EtlConfig("/src", "/out")
    val root = java.nio.file.Files.createTempDirectory("mambafiles").toString
    val flat7 = new java.io.File(s"$root/mamba_flat_encounter_7")
    def filesPerMonth(): Map[String, Int] =
      flat7.listFiles().filter(_.getName.startsWith("visit_month="))
        .map(m => m.getName ->
          m.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    MambaEtlJob.runPersisted(spark, cfgE, src, Seq(7), root)
    assert(filesPerMonth() ==
      Map("visit_month=2024-02" -> 1, "visit_month=2024-03" -> 1))
    // both months touched: an update in February, a new obs in March
    MambaEtlJob.tickPersisted(spark, cfgE,
      src.copy(obs = addObs(9L, 14L, 100L, Some(71.0), None,
        "2024-03-10 08:00:00")(addObs(8L, 10L, 100L, Some(63.0), None,
        "2024-03-10 08:00:00")(src.obs))),
      7, root, changedSince = Some(ts("2024-03-06 00:00:00")))
    assert(filesPerMonth() ==
      Map("visit_month=2024-02" -> 1, "visit_month=2024-03" -> 1))
  }

  test("report SQL runs over the registered views with typed params") {
    outputs // force pipeline run (registers temp views)
    val registry = ReportRegistry.fromJson(
      """{"report_definitions": [{
           "report_name": "ANC clients in window",
           "report_id": "anc_clients",
           "report_sql": {
             "sql_query": "SELECT COUNT(DISTINCT e.patient_id) AS total_clients FROM mamba_dim_encounter e WHERE e.encounter_type_name = :etype AND e.encounter_datetime >= CAST(:date_from AS TIMESTAMP)",
             "query_params": [
               {"name": "etype", "type": "VARCHAR(255)"},
               {"name": "date_from", "type": "VARCHAR(255)"}]}}]}""")
    val r = registry.run(spark, "anc_clients",
      Map("etype" -> "ANC", "date_from" -> "2024-01-01"))
    assert(r.as[Long].head() == 2L)
  }

  test("the three VERBATIM reference reports.json entries run end-to-end") {
    // the reports.json block exactly as the reference README publishes
    // it (reference README.md:289-330) — MySQL dialect, bare
    // stored-procedure-style param identifiers and all. This is the
    // "a MambaETL user pastes their reports.json unchanged" test.
    val verbatim = """
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
    val registry = ReportRegistry.fromJson(verbatim)

    // reference-shaped fixture views with exactly the columns the
    // verbatim SQL touches. The SQL anchors on CURDATE()/NOW(), so
    // date-sensitive rows must hold on ANY run date: report 2 is
    // unbounded above and strictly > Jan 1, so Jan 2 of the current
    // year qualifies year-round; report 3 is [Jan 1, NOW()], so
    // "today at midnight" qualifies year-round (a fixed Feb date
    // would fail every January run)
    val year = java.time.Year.now.getValue
    val today = java.time.LocalDate.now.toString
    Seq((1L, "p-uuid-1", d(s"${year - 30}-03-04")),
        (2L, "p-uuid-2", d(s"${year - 25}-07-21")),
        (10L, "i-uuid-10", d(today)),              // infant born this year
        (11L, "i-uuid-11", d(s"${year - 2}-05-05")))
      .toDF("person_id", "uuid", "birthdate")
      .createOrReplaceTempView("mamba_dim_person")
    Seq((1L, "PT-001", "NEGATIVE"), (2L, "PT-002", "POSITIVE"))
      .toDF("client_id", "ptracker_id", "hiv_test_result")
      .createOrReplaceTempView("mamba_flat_encounter_pmtct_anc")
    Seq((7, "6dc5308d-27c9-4d49-b16f-2c5e3c759757"), (8, "other-uuid"))
      .toDF("encounter_type_id", "uuid")
      .createOrReplaceTempView("mamba_dim_encounter_type")
    Seq((100L, 7, ts(s"$year-01-02 09:00:00")),    // delivery, this year
        (101L, 7, ts(s"${year - 1}-12-31 09:00:00")), // last year → excluded
        (102L, 8, ts(s"$year-01-02 09:00:00")))    // other type → excluded
      .toDF("encounter_id", "encounter_type", "encounter_datetime")
      .createOrReplaceTempView("mamba_dim_encounter")
    Seq((10L, ts(s"$today 00:00:00")),             // infant seen this year
        (11L, ts(s"$today 00:00:00")),             // born earlier → excluded
        (10L, ts(s"$today 00:30:00")))             // same infant → DISTINCT
      .toDF("infant_client_id", "encounter_datetime")
      .createOrReplaceTempView("mamba_fact_pmtct_exposedinfants")

    // report 1: bare-identifier params bind through the dialect shim
    val hiv = registry.run(spark, "mother_hiv_status",
      Map("ptracker_id" -> "PT-002", "person_uuid" -> "p-uuid-2"))
    assert(hiv.columns.toSeq == Seq("hiv_test_result"))
    assert(hiv.as[String].collect().toSeq == Seq("POSITIVE"))

    // report 2: CURDATE()/YEAR()/DATE()/CONCAT through the shim
    assert(registry.run(spark, "total_deliveries").as[Long].head() == 1L)

    // report 3: DATE_FORMAT(NOW(), '%Y-01-01') %-token rewrite + the
    // doubly-BETWEEN join, COUNT(DISTINCT) collapsing the repeat visit
    assert(registry.run(spark, "total_hiv_exposed_infants")
      .as[Long].head() == 1L)
  }

  test("pre-flight gate: clean sources deploy; a corrupt drop stops loudly") {
    // the fixture satisfies the source contract
    val checked = MambaEtlJob.runChecked(
      spark, EtlConfig("/src", "/out"), sources, Seq(7))
    assert(checked("mamba_flat_encounter_7").count() == 2)

    // corrupt drop: an orphan obs (encounter 99 doesn't exist) and a
    // duplicated encounter id — both must be named in the failure
    val bad = sources.copy(
      encounter = sources.encounter.unionByName(
        Seq((10L, "e-10b", 7, 2L, ts("2024-02-05 09:00:00"), 0))
          .toDF("encounter_id", "uuid", "encounter_type", "patient_id",
            "encounter_datetime", "voided")),
      obs = sources.obs.unionByName(
        Seq((7L, 99L, 100L, Some(50.0), None: Option[String],
          None: Option[String], ts("2024-02-05 09:05:00"), 0))
          .toDF("obs_id", "encounter_id", "concept_id", "value_numeric",
            "value_text", "value_coded", "obs_datetime", "voided")))
    val e = intercept[IllegalStateException] {
      MambaEtlJob.runChecked(spark, EtlConfig("/src", "/out"), bad, Seq(7))
    }
    assert(e.getMessage.contains("unique(encounter_id)"), e.getMessage)
    assert(e.getMessage.contains("referential(encounter_id->encounter_id)"),
      e.getMessage)
  }
}
