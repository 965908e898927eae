package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{EtlConfig, FlatTableConfig}
import graft.operators.{BookmarkStore, Flatten, Incremental}
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
    * every type in `encounterTypeIds` ticks from the stored bookmark
    * ([[tickPersisted]]), and dims and facts stay as installed. The bookmark is written only after every write, so a
    * failed tick leaves it in place and the next tick replays the same
    * window; the re-merge is idempotent.
    */
  def scheduledTick(spark: SparkSession, config: EtlConfig, src: => Sources,
      encounterTypeIds: Seq[Int], storeRoot: String, bookmarks: BookmarkStore,
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Unit = {
    val sources = src
    val mark = Incremental.nextBookmark(sources.obs, Seq("obs_datetime"))
    if (config.incrementalMode == 0)
      runPersisted(spark, config, sources, encounterTypeIds, storeRoot, flatConfigs)
    else {
      val since = bookmarks.read()
      encounterTypeIds.foreach(tickPersisted(spark, config, sources, _,
        storeRoot, since, flatConfigs))
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
      Incremental.changedSince(src.obs, changedSince, Seq("obs_datetime"))
        .select("encounter_id"),
      flatConfigs)

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
    * `changed` has an `encounter_id` column with one row per changed
    * obs. It is not deduplicated: it only feeds semi- and anti-joins,
    * where a duplicate key costs one broadcast entry and a `distinct`
    * would cost a shuffle. It must be delta-sized, because it is
    * broadcast. It picks the affected obs, gives the touched months
    * and is the merge's removeKeys. An id of another type, or of a
    * voided encounter, re-pivots nothing into this type's tables: the
    * delta is joined with the type's live encounters.
    *
    * The delta is pivoted once per table, by the write. The months it
    * touches come from the changed encounters' `encounter_datetime`
    * (the visit months of `encIds ⋉ changed`), not from the pivoted
    * delta: every delta row is one of those encounters and takes its
    * month from the same row, so the months cover the delta exactly,
    * and one frame serves every continuation table of the type.
    *
    * A type wider than `config.columns` ticks each of its
    * continuation tables the same way. When the type's concept set
    * has changed since its tables were written (a concept first used,
    * voided away or renamed), the delta's columns or its table list no
    * longer match the stored ones; that tick rebuilds every table of
    * the type from the sources, laid out as [[runPersisted]] writes
    * them, each through a crash-safe swap, and drops the stored
    * continuation tables the new split no longer has. A table not yet
    * stored is written from the delta alone.
    */
  def tickChanged(spark: SparkSession, config: EtlConfig, src: Sources,
      encounterTypeId: Int, storeRoot: String, changed: DataFrame,
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): Unit = {
    val cfg = flatConfigs.getOrElse(encounterTypeId,
      Flatten.autoConfig(src.obs, src.encounter, src.concept,
        encounterTypeId, locale = Some(config.locale)))
      .copy(tableName = s"mamba_flat_encounter_$encounterTypeId")
    val affected = src.obs.join(broadcast(changed), Seq("encounter_id"), "left_semi")
    val encIds = src.encounter.filter(col("voided") === 0)
      .filter(col("encounter_type") === encounterTypeId)
      .select("encounter_id", "patient_id", "encounter_datetime")
    val touchedMonths = withVisitMonth(
      encIds.join(broadcast(changed), Seq("encounter_id"), "left_semi"))
    // (store path, wide rows) per continuation table of the type
    def flat(obs: DataFrame) =
      Flatten.flattenObsSplit(obs, cfg, config.columns).map { case (t, df) =>
        s"$storeRoot/$t" ->
          withVisitMonth(df.join(encIds, Seq("encounter_id")))
      }
    val deltas = flat(affected)
    val store = graft.sources.AnalysisStore
    val stale = storedTables(spark, storeRoot, cfg.tableName)
      .map(t => s"$storeRoot/$t").filterNot(p => deltas.exists(_._1 == p))
    val stored = deltas.map { case (path, _) => store.readExisting(spark, path) }
    val reshaped = stale.nonEmpty || (stored.exists(_.isDefined) &&
      stored.zip(deltas).exists { case (table, (_, delta)) =>
        !table.exists(_.columns.toSet == delta.columns.toSet)
      })
    if (reshaped) {
      flat(src.obs).foreach { case (path, df) =>
        store.stageAndSwap(spark, path) { staging =>
          store.writeFull(df, staging, Seq("visit_month"))
        }
      }
      stale.foreach(store.drop(spark, _))
    } else
      deltas.zip(stored).foreach { case ((path, delta), table) =>
        store.writeIncrementalPartitioned(spark, delta, path,
          keys = Seq("encounter_id"), partitionBy = Seq("visit_month"),
          removeKeys = Some(changed), parts = Some(touchedMonths),
          existing = table)
      }
  }
}
