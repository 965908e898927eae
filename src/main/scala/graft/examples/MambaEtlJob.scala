package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EtlConfig, FlatTableConfig}
import graft.operators.{BookmarkStore, Flatten, Incremental, ModelCollect}
import graft.pipeline.{EtlPipeline, Stage}

/** The reference's complete ETL wired end-to-end on this engine — what
  * a MambaETL user's deployment becomes (reference README.md:7-12,
  * 244-255; SURVEY §3 E1-E3). Given OpenMRS-shaped source frames
  * (person, encounter_type, encounter, concept, obs), builds:
  *
  *  - `mamba_dim_person`, `mamba_dim_encounter` — cleaned conformed
  *    dims (reference README.md:296,313);
  *  - one `mamba_flat_encounter_<type>` per requested encounter type,
  *    via config or metadata auto-config (README.md:244-253);
  *  - `mamba_fact_encounter_counts` — a derived fact off the dims
  *    (the `derived/` folder mechanism, sp_makefile:6-9);
  *
  * in base→derived order via the stage DAG, every output registered
  * as a temp view so `ReportRegistry` SQL (E3) runs against them.
  */
object MambaEtlJob {

  final case class Sources(
      person: DataFrame, encounterType: DataFrame, encounter: DataFrame,
      concept: DataFrame, obs: DataFrame)

  /** Build the pipeline; flat-table configs may be supplied
    * (README.md:246 "not mandatory") — any encounter type without one
    * gets auto-config from metadata (README.md:247). With
    * `config.automatedFlattening = 1` and an EMPTY id list, every
    * encounter type with non-voided encounters is discovered and
    * flattened (README.md:136-137's one-flag mode) — the discovery is
    * one model-sized distinct over the encounter table.
    */
  def pipeline(
      config: EtlConfig,
      src: Sources,
      encounterTypeIds: Seq[Int],
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): EtlPipeline = {
    val p = new EtlPipeline()
    val effectiveIds =
      if (config.automatedFlattening == 1 && encounterTypeIds.isEmpty)
        graft.operators.ModelCollect.bounded(
          src.encounter.filter(col("voided") === 0 &&
              col("encounter_type").isNotNull)
            .select(col("encounter_type").cast("int")).distinct()
            .orderBy("encounter_type"),
          graft.operators.ModelCollect.MaxModelRows,
          "automated_flattening encounter types")
          .map(_.getInt(0)).toSeq
      else encounterTypeIds

    p.register(Stage("mamba_dim_person", Nil) { (_, _) =>
      src.person.filter(col("voided") === 0)
        .select("person_id", "uuid", "gender", "birthdate")
    })

    p.register(Stage("mamba_dim_encounter", Nil) { (_, _) =>
      src.encounter.filter(col("voided") === 0)
        .join(broadcast(src.encounterType
          .select(col("encounter_type_id").as("encounter_type"),
            col("uuid").as("encounter_type_uuid"),
            col("name").as("encounter_type_name"))),
          Seq("encounter_type"))
        .select("encounter_id", "uuid", "encounter_type",
          "encounter_type_uuid", "encounter_type_name",
          "patient_id", "encounter_datetime")
    })

    effectiveIds.foreach { et =>
      // config resolved at pipeline-construction (one metadata scan,
      // not one per run) because the WIDTH decides the stage list:
      // a >cap encounter type emits continuation-table stages
      // `…_<et>`, `…_<et>_1`, … (EtlConfig.columns, reference
      // README.md:130-131), each an independent chunked pivot
      // (Flatten.flattenObsSplit's shuffle argument)
      val cfg = flatConfigs.getOrElse(et,
        Flatten.autoConfig(src.obs, src.encounter, src.concept, et,
          locale = Some(config.locale)))
      Flatten.flattenObsSplit(src.obs,
          cfg.copy(tableName = s"mamba_flat_encounter_$et"), config.columns)
        .foreach { case (tableName, flat) =>
          p.register(Stage(tableName, Seq("mamba_dim_encounter")) {
            (_, deps) =>
              val encIds = deps("mamba_dim_encounter")
                .filter(col("encounter_type") === et)
                .select("encounter_id", "patient_id", "encounter_datetime")
              flat.join(encIds, Seq("encounter_id"), "inner")
          })
        }
    }

    p.register(Stage("mamba_fact_encounter_counts",
      Seq("mamba_dim_encounter", "mamba_dim_person")) { (_, deps) =>
      deps("mamba_dim_encounter")
        .join(deps("mamba_dim_person")
          .select(col("person_id").as("patient_id"), col("gender")),
          Seq("patient_id"))
        .groupBy("encounter_type_name", "gender")
        .agg(count(lit(1)).as("n_encounters"),
          countDistinct(col("patient_id")).as("n_patients"))
    })

    p
  }

  def run(spark: SparkSession, config: EtlConfig, src: Sources,
      encounterTypeIds: Seq[Int],
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Map[String, DataFrame] =
    pipeline(config, src, encounterTypeIds, flatConfigs).run(spark)

  /** Source-contract pre-flight — the [[graft.operators.DataQuality]]
    * battery over exactly the assumptions the ETL silently leans on:
    * obs rows must carry their keys (a null encounter_id obs would
    * vanish from every flat table without a trace), voided must be a
    * 0/1 flag (the soft-delete filters test `=== 0`), encounter ids
    * must be unique (a dup would double its wide row after the pivot
    * join), and every obs must point at a real encounter (orphans
    * never surface in any output — silent data loss). One narrow agg
    * pass + the two dataset checks; report rows share the uniform
    * quality schema so they persist next to any other dq report.
    */
  def preflight(src: Sources): DataFrame = {
    import graft.operators.DataQuality
    DataQuality.check(src.obs, Seq(
        DataQuality.notNull("obs_id"),
        DataQuality.notNull("encounter_id"),
        DataQuality.notNull("concept_id"),
        DataQuality.inRange("voided", 0, 1)))
      .unionByName(DataQuality.unique(src.encounter, Seq("encounter_id")))
      .unionByName(DataQuality.referential(src.obs, src.encounter,
        "encounter_id", "encounter_id"))
  }

  /** [[run]] behind the pre-flight gate: a failed contract rule stops
    * the deployment loudly (listing the failing rules and their
    * violation counts) BEFORE any store table is touched — the
    * failure mode this buys out of is a bad drop flowing silently
    * into reports.
    */
  def runChecked(spark: SparkSession, config: EtlConfig, src: Sources,
      encounterTypeIds: Seq[Int],
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Map[String, DataFrame] = {
    val failed = preflight(src).filter(!col("passed"))
      .select("rule", "n_violations")
      .collect() // collect-bound: one row per configured audit rule
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "source contract violated: " + failed.map(r =>
          s"${r.getString(0)} (${r.getLong(1)} violations)").mkString("; "))
    run(spark, config, src, encounterTypeIds, flatConfigs)
  }

  /** Month partition column for a flat store table — coarse enough
    * that partition counts stay bounded, fine enough that a tick's
    * rewrite is a sliver of the table (SURVEY §9.1).
    */
  private def withVisitMonth(df: DataFrame): DataFrame =
    df.withColumn("visit_month",
      date_format(col("encounter_datetime"), "yyyy-MM"))

  /** The install path persisted (reference mode 0, README.md:133-134
    * "delete and recreate"): dims and facts full-refresh (domain-
    * bounded), flat encounter tables written partitioned by visit
    * month so later ticks and report date filters prune directories.
    */
  def runPersisted(spark: SparkSession, config: EtlConfig, src: Sources,
      encounterTypeIds: Seq[Int], storeRoot: String,
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Map[String, DataFrame] = {
    val results = run(spark, config, src, encounterTypeIds, flatConfigs)
    results.foreach { case (name, df) =>
      if (name.startsWith("mamba_flat_encounter_"))
        graft.sources.AnalysisStore.writeFull(
          withVisitMonth(df), s"$storeRoot/$name", Seq("visit_month"))
      else
        graft.sources.AnalysisStore.writeFull(df, s"$storeRoot/$name")
    }
    // a type's split may have shrunk since an earlier install here
    results.keys.filter(_.matches("mamba_flat_encounter_[0-9]+"))
      .flatMap(storedTables(spark, storeRoot, _))
      .filterNot(results.contains)
      .foreach(t => graft.sources.AnalysisStore.drop(spark, s"$storeRoot/$t"))
    results
  }

  /** The flat tables of the type whose main table is `base` as they
    * stand under `storeRoot`: `base` and its continuation tables
    * `base_<k>`, including one left as an `__old` backup by an
    * interrupted swap.
    */
  private def storedTables(spark: SparkSession, storeRoot: String,
      base: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(storeRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName.stripSuffix("__old"))
      .filter(n => n == base || n.matches(s"${base}_[0-9]+")).distinct
  }

  /** One firing of the recurring ETL (reference README.md:133-140),
    * the body of a [[graft.pipeline.EtlScheduler]] loop. `src` is
    * evaluated once, and the next bookmark is taken from its obs
    * before any write. With `config.incrementalMode == 0` the store is
    * reinstalled ([[runPersisted]], "delete and recreate"); with `1`
    * the encounters changed since the stored bookmark are collected
    * once, and every type in `encounterTypeIds` ticks them
    * ([[tickChanged]]); dims and facts stay as installed. The bookmark
    * is written only after every write, so a failed tick leaves it in
    * place and the next tick replays the same window; the re-merge is
    * idempotent.
    */
  def scheduledTick(spark: SparkSession, config: EtlConfig, src: => Sources,
      encounterTypeIds: Seq[Int], storeRoot: String, bookmarks: BookmarkStore,
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Unit = {
    val sources = src
    val mark = Incremental.nextBookmark(sources.obs, Seq("obs_datetime"))
    if (config.incrementalMode == 0)
      runPersisted(spark, config, sources, encounterTypeIds, storeRoot, flatConfigs)
    else {
      // collected by the first type's store leg, then shared
      lazy val changed = encountersChangedSince(sources, bookmarks.read())
      encounterTypeIds.foreach(tickChanged(spark, config, sources, _,
        storeRoot, changed, flatConfigs))
    }
    mark.foreach(bookmarks.write)
  }

  /** A scheduled tick persisted (reference mode 1, "only add/modify
    * what has changed"): the obs changed since the bookmark (by
    * `obs_datetime`) name the stale encounters, and [[tickChanged]]
    * re-pivots and merges only those.
    */
  def tickPersisted(spark: SparkSession, config: EtlConfig, src: Sources,
      encounterTypeId: Int, storeRoot: String,
      changedSince: Option[java.sql.Timestamp],
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Unit =
    tickChanged(spark, config, src, encounterTypeId, storeRoot,
      encountersChangedSince(src, changedSince), flatConfigs)

  /** The encounters whose obs changed since `bookmark` (by
    * `obs_datetime`), collected once on the driver.
    */
  private def encountersChangedSince(src: Sources,
      bookmark: Option[java.sql.Timestamp]): Set[Long] =
    changedEncounters(Incremental.changedSince(src.obs, bookmark,
      Seq("obs_datetime")))

  /** The distinct non-null `encounter_id`s of `changed` (one row per
    * changed obs), collected on the driver in one bounded collect. Each
    * input partition ships its distinct ids, so the bound
    * ([[ModelCollect.MaxModelRows]]) counts encounters, not obs rows
    * (an encounter whose changed obs span k partitions counts k times).
    * A global `distinct` would count each once, but it costs a shuffle
    * and a second job on every tick. A null id names no encounter: no
    * join on it matches.
    */
  def changedEncounters(changed: DataFrame): Set[Long] = {
    val spark = changed.sparkSession
    import spark.implicits._
    ModelCollect.bounded(
        changed.where(col("encounter_id").isNotNull)
          .select(col("encounter_id").cast("long")).as[Long]
          .mapPartitions(_.distinct).toDF(),
        ModelCollect.MaxModelRows, "changed encounter ids")
      .map(_.getLong(0)).toSet
  }

  /** Membership in a driver-held id set. A named class, not a lambda:
    * a UDF's generated code names its function's class, and a lambda's
    * class name carries a per-JVM address, so the tick's generated
    * sources, and with them their slots in Spark's codegen cache, would
    * differ from run to run.
    */
  private final case class IsIn(ids: Set[Long]) extends (Long => Boolean) {
    def apply(id: Long): Boolean = ids(id)
  }

  /** One incremental tick of type `encounterTypeId`'s flat tables —
    * the core every incremental driver calls ([[tickPersisted]]'s
    * bookmark, [[graft.streaming.EtlStreaming.incrementalFlatten]]'s
    * micro-batch, [[scheduledTick]]'s stored bookmark). ONLY the
    * changed encounters' wide rows are re-pivoted, from their obs in
    * full, and merged; the store write rewrites ONLY the month
    * partitions those encounters live in (dynamic partition overwrite
    * + explicit removeKeys, so a fully-voided encounter's row
    * disappears from its old month). Write amplification per tick
    * tracks the delta.
    *
    * `changed` names the changed encounter ids, collected on the driver
    * ([[changedEncounters]]); it is evaluated exactly once. It must be
    * delta-sized, because each driver collects it: a window that
    * changes more than [[ModelCollect.MaxModelRows]] encounters fails
    * that collect before any write, and as [[scheduledTick]] keeps its
    * bookmark on failure, every retry of the window fails the same
    * way; such a backlog is reinstalled (`incrementalMode` 0) instead.
    * The set enters the tick as one membership predicate on
    * `encounter_id`, a UDF that holds it: generated code reaches the
    * set through a reference, never through inlined ids (as a literal
    * `IN` list's code does for an INT key, or for 10 ids or fewer), so
    * the stages that filter on it compile once per JVM, whatever the
    * key type or the set's size. Being opaque, the predicate is not
    * pushed into the parquet scans. It picks the affected obs and the
    * type's changed encounters, and marks the merge's removed keys; no
    * frame of ids is broadcast or joined. An id of another type, or of
    * a voided encounter, re-pivots nothing into this type's tables:
    * the delta is joined with the type's live changed encounters, a
    * delta-sized join.
    *
    * The tick runs as two concurrent legs ([[graft.Par.two]]), and the
    * first of them forks twice more, so no leg waits for a value another
    * computes:
    *  - the store leg, on the caller thread (where a micro-batch's
    *    `changed` is collected), evaluates `changed`, the only time it
    *    is evaluated, while a pool thread lists the type's stored tables
    *    and reads each one's footer
    *    ([[graft.sources.AnalysisStore.readExisting]]), which gives the
    *    table and the config it was pivoted with
    *    ([[FlatTableConfig.fromSchema]]). When every stored table
    *    carries a config, it then prepares their merge as two legs: it
    *    collects the month partitions a merge into each table touches
    *    ([[graft.sources.AnalysisStore.touchedPartitions]]) while the
    *    delta leg pivots the changed encounters with the stored configs
    *    ([[Flatten.flattenChunks]]), joins them with the type's live
    *    changed encounters and materializes each table's delta
    *    (`localCheckpoint`), so the write only merges;
    *  - the config leg reads the sources only: the type's current
    *    [[FlatTableConfig]], the given one or a [[Flatten.autoConfig]]
    *    scan. Only the reshape check below waits for it.
    * A failure in any leg is rethrown once all have finished, before
    * any write.
    *
    * The months a delta touches are the visit months of the type's
    * live changed encounters, not of the pivoted delta: every delta row
    * is one of those encounters and takes its month from the same row,
    * so the months cover the delta exactly, and the touched collects
    * need no delta.
    *
    * Reshape rule: the tick is steady exactly when the stored tables'
    * configs equal the current config split at `config.columns`, table
    * by table. A steady tick merges each table's prepared delta. Any
    * other tick drops what the store leg prepared and rebuilds every
    * table of the type from the sources, laid out as [[runPersisted]]
    * writes them, each through a crash-safe swap, and drops the stored
    * tables the new split no longer has. That covers a concept first
    * used, voided away or renamed, a concept whose id or datatype
    * changes under its label, a changed column cap, and a table written
    * before flat tables carried their config. When no table of the type
    * holds data yet, each table is written from its delta alone.
    *
    * The delta checkpoints are the tick's own: once the write is done,
    * or the tick has failed, exactly their RDDs are unpersisted, so a
    * long-running scheduler keeps no block of an earlier tick. One
    * case escapes: a checkpoint whose own job fails has persisted its
    * RDD without returning it, so that RDD stays registered until it
    * is garbage-collected and Spark's context cleaner drops its blocks.
    */
  def tickChanged(spark: SparkSession, config: EtlConfig, src: Sources,
      encounterTypeId: Int, storeRoot: String, changed: => Set[Long],
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Unit = {
    val store = graft.sources.AnalysisStore
    val base = s"mamba_flat_encounter_$encounterTypeId"
    def path(table: String) = s"$storeRoot/$table"
    val encIds = src.encounter.filter(col("voided") === 0)
      .filter(col("encounter_type") === encounterTypeId)
      .select("encounter_id", "patient_id", "encounter_datetime")
    // (table, wide rows with their visit month) per continuation table
    def flat(obs: DataFrame, encs: DataFrame, chunks: Seq[FlatTableConfig]) =
      Flatten.flattenChunks(obs, chunks).map { case (t, df) =>
        t -> withVisitMonth(df.join(encs, Seq("encounter_id")))
      }
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.rdd.RDD[_]]
    try {
      // per stored table, its config (None: no data file), and the
      // prepared merge: per table, its data, touched months and delta
      val ((isChanged, storedCfgs, merges), cfg) = graft.Par.two({
          val (isChanged, stored) = graft.Par.two(
            udf(IsIn(changed)).apply(col("encounter_id")),
            storedTables(spark, storeRoot, base).map { t =>
              t -> store.readExisting(spark, path(t)).map(table => table ->
                FlatTableConfig.fromSchema(t, encounterTypeId, table.schema))
            }.toMap)
          val storedCfgs = stored.map { case (t, s) => t -> s.map(_._2) }
          val merges =
            if (stored.nonEmpty && storedCfgs.values.forall(_.exists(_.columns.nonEmpty))) {
              val parts = withVisitMonth(encIds.filter(isChanged))
              val (touched, deltas) = graft.Par.two(
                stored.map { case (t, s) => t -> store.touchedPartitions(s.get._1,
                  parts, keys = Seq("encounter_id"), partitionBy = Seq("visit_month"),
                  removeKeys = isChanged) },
                flat(src.obs.filter(isChanged), encIds.filter(isChanged),
                    storedCfgs.values.flatten.toSeq).map { case (t, df) =>
                  val delta = df.localCheckpoint(eager = true)
                  delta.queryExecution.logical.collectFirst {
                    case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
                  }.foreach(checkpoints.add)
                  t -> delta
                }.toMap)
              stored.map { case (t, s) => t -> ((s.get._1, touched(t), deltas(t))) }
            } else Map.empty[String, (DataFrame, Seq[org.apache.spark.sql.Row], DataFrame)]
          (isChanged, storedCfgs, merges)
        },
        flatConfigs.getOrElse(encounterTypeId,
          Flatten.autoConfig(src.obs, src.encounter, src.concept,
            encounterTypeId, locale = Some(config.locale)))
          .copy(tableName = base))
      val chunks = cfg.split(config.columns)
      val tables = chunks.map(_.tableName).toSet
      if (storedCfgs == chunks.map(c => c.tableName -> Some(c)).toMap)
        merges.foreach { case (t, (table, touched, delta)) =>
          store.writeIncrementalPartitioned(spark, delta, path(t), table,
            touched, partitionBy = Seq("visit_month"), removeKeys = isChanged)
        }
      else if (storedCfgs.forall { case (t, c) => c.isEmpty && tables(t) })
        flat(src.obs.filter(isChanged), encIds.filter(isChanged), chunks).foreach {
          case (t, delta) => store.writeFull(delta, path(t), Seq("visit_month"))
        }
      else {
        flat(src.obs, encIds, chunks).foreach { case (t, df) =>
          store.stageAndSwap(spark, path(t)) { staging =>
            store.writeFull(df, staging, Seq("visit_month"))
          }
        }
        (storedCfgs.keySet -- tables).foreach(t => store.drop(spark, path(t)))
      }
    } finally checkpoints.forEach(_.unpersist(blocking = false))
  }
}
