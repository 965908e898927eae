package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.examples.MambaEtlJob
import graft.model.{EtlConfig, FlatTableConfig}
import graft.sources.AnalysisStore

/** The reference's scheduled ETL tick (SURVEY §2.7 T1/T3) as a real
  * incremental dataflow: a stream of changed `obs` rows drives
  * re-flattening of exactly the affected encounters into the persisted
  * analysis store.
  *
  * Shape: `readStream` (CDC feed / file drops) → `foreachBatch`. Each
  * micro-batch IS the changed-rows delta, so the bookmark that batch
  * mode keeps (`Incremental.changedSince` + `BookmarkStore`) is
  * replaced by the engine's own offset tracking + checkpointing —
  * exactly-once per batch, resumable after crashes, no hand-rolled
  * high-water mark. Inside the batch the tick is the batch one
  * ([[graft.examples.MambaEtlJob.tickChanged]]): affected encounters
  * are re-pivoted IN FULL from the sources of record and replace
  * their wide rows.
  *
  * At 100 TB: per tick the pivot shuffle carries only changed
  * encounters' obs, and the store write rewrites only the month
  * partitions they touch. The sources are re-read per batch,
  * scanning only what the semi-join on changed encounter ids needs.
  */
object EtlStreaming {

  /** Decode a Debezium-shaped CDC JSON stream into changed obs rows —
    * the standard upgrade path from poll-based change detection to
    * log-based capture for a MySQL source of record: each message is
    * an envelope `{op: c|u|d, before: {...}, after: {...}, ts_ms}`.
    *
    * Inserts/updates — and `r` (snapshot-read) records, which a
    * connector started with initial snapshotting emits for every
    * pre-existing row — yield the after-image; DELETES yield the
    * before-image with `voided = 1`, which downstream incremental
    * flatten already treats as "prune this obs from its encounter" —
    * a hard delete and a soft delete converge to the same store
    * state. Malformed messages and unknown ops are dropped (from_json
    * nulls), never poison the tick. Narrow (one from_json projection)
    * — composes directly with [[incrementalFlatten]]'s `obsDelta`.
    */
  def fromCdcJson(raw: DataFrame,
      rowSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val envelope = StructType(Seq(
      StructField("op", StringType),
      StructField("before", rowSchema),
      StructField("after", rowSchema),
      StructField("ts_ms", LongType)))
    raw.select(from_json(col("value"), envelope).as("e"))
      .filter(col("e.op").isin("c", "u", "d", "r"))
      .filter((col("e.op") === "d" && col("e.before").isNotNull) ||
        (col("e.op") =!= "d" && col("e.after").isNotNull))
      .select(when(col("e.op") === "d",
          col("e.before").withField("voided", lit(1)))
        .otherwise(col("e.after")).as("r"))
      .select("r.*")
  }

  /** Wire an attribute-change event stream into a persisted SCD2
    * dimension history ([[graft.operators.Incremental.scd2History]]
    * semantics, maintained by [[graft.operators.Incremental
    * .scd2Merge]] per tick — cost tracks the tick, never the
    * history).
    *
    * Crash/redelivery safety: foreachBatch is at-least-once, and an
    * SCD2 fold is NOT naturally idempotent (re-folding a batch
    * double-counts n_events), so the store carries its fold
    * high-water mark — max `ordCol` folded — as a constant column
    * (`__max_ord`) on every history row: mark and history swap in ONE
    * [[AnalysisStore.stageAndSwap]] rename, so they cannot tear, and
    * a redelivered batch (all ords ≤ mark) filters to empty and
    * no-ops. Contract: `ordCol` is a monotonically increasing event
    * id across batches (the append-only event-log contract — the
    * same ordering [[graft.operators.Incremental.changedSince]]'s
    * bookmark assumes), which also discharges scd2Merge's
    * later-than-history requirement.
    */
  def scd2Ticks(
      eventsDelta: DataFrame,
      storePath: String,
      keyCol: String, tsCol: String, ordCol: String, attrCol: String,
      interval: String = "30 minutes"): DataStreamWriter[org.apache.spark.sql.Row] =
    eventsDelta.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = rawBatch.sparkSession
        // materialize once: the batch feeds the filter, the merge and
        // the new mark (un-materialized foreachBatch frames re-read
        // the source per action)
        val batch = rawBatch.localCheckpoint(true)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val exists = fs.exists(new org.apache.hadoop.fs.Path(storePath))
        val (history, mark) =
          if (exists) {
            val st = spark.read.parquet(storePath)
            // cast-to-long on BOTH mark reads: an IntegerType order
            // column (a plain int event id) would otherwise throw
            // ClassCastException in getLong and kill the stream at
            // the first tick
            (st.drop("__max_ord"),
              st.agg(max(col("__max_ord").cast("long"))).head().getLong(0))
          } else (batch.limit(0), Long.MinValue)
        val fresh = batch.filter(col(ordCol).cast("long") > mark)
          .localCheckpoint(true)
        if (!fresh.isEmpty) {
          val folded =
            if (exists)
              graft.operators.Incremental.scd2Merge(history, fresh,
                keyCol, tsCol, ordCol, attrCol)
            else
              graft.operators.Incremental.scd2History(fresh,
                keyCol, tsCol, ordCol, attrCol)
          val newMark =
            fresh.agg(max(col(ordCol).cast("long"))).head().getLong(0)
          val stamped = folded.withColumn("__max_ord", lit(newMark))
          if (exists)
            // the staging write reads the still-intact store, then a
            // rename swap — a tick that dies mid-write never
            // half-destroys the history (and mark + rows move in the
            // same rename, so they cannot tear)
            AnalysisStore.stageAndSwap(spark, storePath) { staging =>
              stamped.write
                .mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(staging)
            }
          else
            stamped.write.parquet(storePath)
        }
      }

  /** Wire a decoded CDC stream ([[fromCdcJson]]'s output shape plus
    * `opCol`/`seqCol`) into a continuously-maintained keyed table at
    * `storePath` — the streaming twin of [[graft.operators
    * .Incremental.applyChanges]] (same fold per tick, so the twins
    * cannot drift; tick-split ≡ one-shot is the batch gate's pinned
    * algebra, cdc_apply_gate).
    *
    * Unlike [[scd2Ticks]], NO high-water mark column is needed:
    * applyChanges is idempotent under redelivery by construction
    * (a redelivered change loses to the stored row's equal-or-higher
    * seq in the same max_by reduction), so at-least-once foreachBatch
    * delivery is safe with zero extra state — foreachBatch replays
    * are always the LATEST batch, which is exactly the in-order
    * redelivery applyChanges' no-tombstone contract requires. Store swaps are
    * rename-atomic ([[AnalysisStore.stageAndSwap]]): a tick that dies
    * mid-write never half-destroys the table.
    */
  def cdcApplyTicks(
      changes: DataFrame,
      storePath: String,
      keys: Seq[String],
      opCol: String = "op", seqCol: String = "seq",
      interval: String = "30 minutes"): DataStreamWriter[org.apache.spark.sql.Row] =
    changes.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        val spark = rawBatch.sparkSession
        val batch = rawBatch.localCheckpoint(true)
        if (!batch.isEmpty) {
          val fs = new org.apache.hadoop.fs.Path(storePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val exists = fs.exists(new org.apache.hadoop.fs.Path(storePath))
          if (exists) {
            val folded = graft.operators.Incremental.applyChanges(
              spark.read.parquet(storePath), batch, keys, opCol, seqCol)
            AnalysisStore.stageAndSwap(spark, storePath) { staging =>
              folded.write
                .mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(staging)
            }
          } else {
            // first tick: fold against an empty table of the change
            // shape (minus op) — inserts land, deletes of absent keys
            // no-op, exactly the batch semantics. Staged like every
            // later tick: existence must imply completeness
            val empty = batch.drop(opCol).limit(0)
            val first = graft.operators.Incremental
              .applyChanges(empty, batch, keys, opCol, seqCol)
            AnalysisStore.stageAndSwap(spark, storePath) { staging =>
              first.write
                .mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(staging)
            }
          }
        }
      }

  /** Wire a stream of DELETE-REQUEST KEYS (the GDPR-erasure feed)
    * into a continuously-maintained deletion-vector store for the
    * table at `tablePath` — the streaming twin of
    * [[graft.operators.Layout.deletionVector]]. Per tick: one
    * broadcast-semi-pruned scan of the table finds the requested
    * keys' physical addresses, and [[graft.operators.Layout.mergeDv]]
    * folds them into the persisted vector (re-requested keys are
    * no-ops — erasure feeds redeliver). The data files are NEVER
    * rewritten by a tick; [[graft.operators.Layout.materializeDv]]
    * is the scheduled maintenance that folds the vector in.
    *
    * Readers compose [[graft.operators.Layout.readWithDv]] with the
    * vector store; a tick costs one pruned scan + a vector-sized
    * write, so erasure latency is minutes without touching a single
    * data file — the point of the DV design.
    */
  def dvTicks(
      deleteKeys: DataFrame,
      tablePath: String,
      dvPath: String,
      keys: Seq[String],
      interval: String = "30 minutes"): DataStreamWriter[org.apache.spark.sql.Row] =
    deleteKeys.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = rawBatch.sparkSession
        val batch = rawBatch.localCheckpoint(true)
        if (!batch.isEmpty) {
          val keyCols = keys.map(col)
          val hit = spark.read.parquet(tablePath)
            .select(col("_metadata.file_path").as("__raw_file"),
              col("_metadata.row_index").as("pos"), col("*"))
            .join(broadcast(batch.select(keyCols: _*).distinct()),
              keys, "left_semi")
            .select(regexp_replace(col("__raw_file"), "^file:/+", "/")
              .as("file"), col("pos"))
          val fs = new org.apache.hadoop.fs.Path(dvPath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(new org.apache.hadoop.fs.Path(dvPath))) {
            val merged = graft.operators.Layout.mergeDv(
              spark.read.parquet(dvPath), hit)
            AnalysisStore.stageAndSwap(spark, dvPath) { staging =>
              merged.write
                .mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(staging)
            }
          } else {
            // first vector: staged too — a half-written DV store
            // must never exist for the next tick to merge against
            val first = hit.distinct()
            AnalysisStore.stageAndSwap(spark, dvPath) { staging =>
              first.write
                .mode(org.apache.spark.sql.SaveMode.Overwrite)
                .parquet(staging)
            }
          }
        }
      }

  /** Maintain an INNER-JOIN view V = A ⋈ B from a MULTIPLEXED insert
    * feed — the streaming twin of [[graft.operators.Incremental
    * .maintainJoinView]], completing stream/batch parity for the
    * second IVM shape (aggregate views have [[EventsStreaming
    * .aggViewWindows]]). The stream carries both sides on one topic
    * (how multi-table CDC actually lands): `sideCol` ∈ "a" | "b"
    * tags each row, `aCols`/`bCols` project each side's columns
    * (the other side's are null — ignored by the projection).
    *
    * Per tick the Griffin–Libkin insert deltas fold against the
    * PERSISTED bases, and all four state tables — a, b, view, and
    * the fold high-water mark — live under ONE store dir and swap in
    * ONE rename ([[AnalysisStore.stageAndSwap]]): a crash between
    * tick and checkpoint can never leave bases and view disagreeing,
    * and a redelivered batch (all `ordCol` ≤ mark, the scd2Ticks
    * discipline — join folds are NOT naturally idempotent) filters
    * to empty and no-ops. Insert feed only by contract: deletes go
    * through [[graft.operators.Incremental.recomputeJoinKeys]] in a
    * maintenance pass, exactly like the batch family.
    */
  def joinViewTicks(
      tagged: DataFrame,
      storePath: String,
      keys: Seq[String],
      aCols: Seq[String], bCols: Seq[String],
      sideCol: String = "side", ordCol: String = "ord",
      interval: String = "30 minutes"): DataStreamWriter[org.apache.spark.sql.Row] =
    tagged.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        import org.apache.spark.sql.functions._
        val spark = rawBatch.sparkSession
        val batch = rawBatch.localCheckpoint(true)
        val fs = new org.apache.hadoop.fs.Path(storePath)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val exists = fs.exists(new org.apache.hadoop.fs.Path(storePath))
        val mark =
          if (exists)
            spark.read.parquet(s"$storePath/mark")
              .agg(max(col("mark").cast("long"))).head().getLong(0)
          else Long.MinValue
        val fresh = batch.filter(col(ordCol).cast("long") > mark)
          .localCheckpoint(true)
        if (!fresh.isEmpty) {
          val dA = fresh.filter(col(sideCol) === "a")
            .select(aCols.map(col): _*)
          val dB = fresh.filter(col(sideCol) === "b")
            .select(bCols.map(col): _*)
          val (aOld, bOld) =
            if (exists) (spark.read.parquet(s"$storePath/a"),
              spark.read.parquet(s"$storePath/b"))
            else (dA.limit(0), dB.limit(0))
          val view =
            if (exists) spark.read.parquet(s"$storePath/view")
            else aOld.join(bOld, keys)
          // no checkpoint needed: the staging write reads the still-
          // intact old store (stageAndSwap renames only afterwards),
          // so state never has to fit in memory
          val newView = graft.operators.Incremental.maintainJoinView(
            view, aOld, dA, bOld, dB, keys)
          val aNew = aOld.unionByName(dA)
          val bNew = bOld.unionByName(dB)
          val newMark =
            fresh.agg(max(col(ordCol).cast("long"))).head().getLong(0)
          import spark.implicits._
          val write = (staging: String) => {
            aNew.write.parquet(s"$staging/a")
            bNew.write.parquet(s"$staging/b")
            newView.write.parquet(s"$staging/view")
            Seq(newMark).toDF("mark").write.parquet(s"$staging/mark")
          }
          // first tick included: stageAndSwap handles a missing
          // target (no backup leg), so store existence always
          // implies a COMPLETE tick — a crash mid-first-write must
          // not leave a partial root the next tick trusts
          AnalysisStore.stageAndSwap(spark, storePath)(write)
        }
      }

  /** Wire a changed-obs stream into type `encounterTypeId`'s flat
    * tables under `storeRoot`: each micro-batch's `encounter_id`s are
    * one [[graft.examples.MambaEtlJob.tickChanged]], so the store has
    * install's layout (month partitions, continuation tables at the
    * column cap, only the type's live encounters). Caller starts/stops
    * the returned writer (attach checkpoint options as deployment
    * needs).
    *
    * @param obsDelta streaming frame of changed obs rows (obs schema)
    * @param src      the sources of record, re-evaluated per batch
    */
  def incrementalFlatten(
      obsDelta: DataFrame,
      config: EtlConfig,
      src: => MambaEtlJob.Sources,
      encounterTypeId: Int,
      storeRoot: String,
      interval: String = "30 minutes",
      flatConfigs: Map[Int, FlatTableConfig] = Map.empty): DataStreamWriter[org.apache.spark.sql.Row] =
    obsDelta.writeStream
      .outputMode("update")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MambaEtlJob.tickChanged(batch.sparkSession, config, src,
          encounterTypeId, storeRoot, batch.select("encounter_id"), flatConfigs)
      }

  /** One transactional-publishing tick against a [[graft.sources
    * .CatalogStore]] — the body of [[catalogTicks]], visible so the
    * at-least-once guard is directly testable. `derive` builds the
    * tick's table set; it may read the CURRENT snapshot from `root`
    * to fold cumulative state (the usual shape). foreachBatch can
    * REPLAY a batch after a crash, and replaying a fold double-counts
    * — so the committed batch id rides in the transaction as the
    * one-row `tick_meta` table and a replay whose id is not newer is
    * a NO-OP (the standard foreachBatch idempotence pattern, here
    * with the guard and the data flipping in the SAME atomic commit
    * — a crash between them is impossible by construction).
    * Returns true when the tick committed.
    */
  def catalogTickBatch(
      spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, batchId: Long,
      derive: DataFrame => Map[String, DataFrame],
      indexCols: Map[String, Seq[String]] = Map.empty,
      analyzeStats: Boolean = false): Boolean = {
    import spark.implicits._
    import graft.sources.CatalogStore
    val last: Long =
      try {
        val snap = CatalogStore.snapshot(spark, root)
        if (snap.tables.contains("tick_meta"))
          CatalogStore.read(spark, root, "tick_meta", snap)
            .select("batch_id").head.getLong(0)
        else -1L
      } catch { case _: IllegalStateException => -1L } // empty store
    if (batchId <= last) false
    else {
      val tables = derive(batch)
      require(!tables.contains("tick_meta"),
        "tick_meta is reserved for the replay guard")
      // maintenance rides the tick like any commit: the curated
      // tables come out skippable (file index) / CBO-visible (stats)
      // with no separate job, and the per-tick cost is one narrow
      // indexed-column pass over tick-sized tables
      CatalogStore.commit(spark, root,
        tables + ("tick_meta" -> Seq(batchId).toDF("batch_id")),
        indexCols = indexCols.filter { case (n, _) =>
          tables.contains(n) },
        analyzeStats = analyzeStats)
      true
    }
  }

  /** Streaming twin of the transactional catalog: each non-empty
    * micro-batch derives N tables and commits them ATOMICALLY —
    * readers resolving the catalog see every tick's table set flip
    * all-or-nothing (the store_catalog_ticks semantics driven by a
    * real stream). Replay-safe via [[catalogTickBatch]]'s tick_meta
    * guard.
    */
  def catalogTicks(
      events: DataFrame, root: String,
      derive: DataFrame => Map[String, DataFrame],
      interval: String = "30 minutes"): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val batch = rawBatch.localCheckpoint(true)
        if (!batch.isEmpty) {
          catalogTickBatch(batch.sparkSession, root, batch, batchId,
            derive)
          ()
        }
      }

  /** One streaming-MERGE tick: the micro-batch's rows (through
    * `transform` — project, and DEDUPE to one row per key if the
    * batch can carry several; merge keeps incoming rows verbatim)
    * UPSERT into ONE catalog table, with [[catalogTickBatch]]'s
    * tick_meta guard riding in the SAME transaction — the streaming
    * CDC-apply flow (Kafka upserts → lakehouse table) made
    * exactly-once: a replayed batch whose id is not newer no-ops, and
    * since guard and merged data flip in one atomic commit, a crash
    * between them is impossible by construction. The target ref's
    * persisted constraints gate every tick through [[graft.sources
    * .CatalogStore.commit]]'s enforcement. Single-writer posture like
    * every tick fold here: the stream owns its table.
    */
  def upsertTickBatch(
      spark: org.apache.spark.sql.SparkSession, root: String,
      batch: DataFrame, batchId: Long, table: String,
      keys: Seq[String],
      transform: DataFrame => DataFrame = identity): Boolean = {
    import spark.implicits._
    import graft.sources.CatalogStore
    require(table != "tick_meta", "tick_meta is reserved")
    val last: Long =
      try {
        val snap = CatalogStore.snapshot(spark, root)
        if (snap.tables.contains("tick_meta"))
          CatalogStore.read(spark, root, "tick_meta", snap)
            .select("batch_id").head.getLong(0)
        else -1L
      } catch { case _: IllegalStateException => -1L } // empty store
    if (batchId <= last) false
    else {
      val updates = transform(batch)
      keys.foreach(k => require(updates.columns.contains(k),
        s"key column $k not in the transformed batch"))
      // the merge rides upsertTable's derived-CAS loop (tick_meta in
      // the SAME transaction), so a non-stream writer landing on the
      // table between this tick's snapshot read and its commit
      // triggers a RE-MERGE against that writer's rows instead of
      // silently overwriting them — the single-writer posture is now
      // enforced by the protocol, not just documented
      CatalogStore.upsertTableWith(spark, root, table, updates, keys,
        extraTables = Map("tick_meta" -> Seq(batchId).toDF("batch_id")))
      true
    }
  }

  /** Streaming MERGE INTO a catalog table — [[upsertTickBatch]]
    * driven by a real stream.
    */
  def upsertTicks(
      events: DataFrame, root: String, table: String,
      keys: Seq[String],
      transform: DataFrame => DataFrame = identity,
      interval: String = "30 minutes"): DataStreamWriter[org.apache.spark.sql.Row] =
    events.writeStream
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val batch = rawBatch.localCheckpoint(true)
        if (!batch.isEmpty) {
          upsertTickBatch(batch.sparkSession, root, batch, batchId,
            table, keys, transform)
          ()
        }
      }
}
