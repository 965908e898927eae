package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.examples.MambaEtlJob
import graft.model.{EtlConfig, FlatTableConfig}
import graft.sources.CatalogStore

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
  * partitions they touch. The sources are re-read per batch and
  * filtered by the batch's changed encounter ids.
  *
  * Beside the tick: [[fromCdcJson]] decodes a CDC feed into that
  * delta, and [[upsertTickBatch]] is one replay-guarded upsert tick
  * into a [[graft.sources.CatalogStore]] table.
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

  /** Wire a changed-obs stream into type `encounterTypeId`'s flat
    * tables under `storeRoot`: each micro-batch's `encounter_id`s,
    * collected once (so the source reads the batch once), are one
    * [[graft.examples.MambaEtlJob.tickChanged]], so the store has
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
          encounterTypeId, storeRoot, MambaEtlJob.changedEncounters(batch),
          flatConfigs)
      }

  /** The batch id of the last tick committed at `root` (the replay
    * guard's one-row `tick_meta` table), or -1 before the first.
    */
  private def lastTickId(spark: SparkSession, root: String): Long =
    try {
      val snap = CatalogStore.snapshot(spark, root)
      if (snap.tables.contains("tick_meta"))
        CatalogStore.read(spark, root, "tick_meta", snap)
          .select("batch_id").head.getLong(0)
      else -1L
    } catch { case _: IllegalStateException => -1L } // empty store

  /** One streaming-MERGE tick: the micro-batch's rows (through
    * `transform` — project, and DEDUPE to one row per key if the
    * batch can carry several; merge keeps incoming rows verbatim)
    * UPSERT into ONE catalog table — the streaming CDC-apply flow
    * (Kafka upserts → lakehouse table) made exactly-once.
    * foreachBatch can REPLAY a batch after a crash, so the committed
    * batch id rides in the SAME transaction as the one-row
    * `tick_meta` table, and a replayed batch whose id is not newer
    * no-ops; since guard and merged data flip in one atomic commit, a
    * crash between them is impossible by construction. The target
    * ref's persisted constraints gate every tick through
    * [[graft.sources.CatalogStore.commit]]'s enforcement.
    * Single-writer posture: the stream owns its table.
    */
  def upsertTickBatch(
      spark: SparkSession, root: String,
      batch: DataFrame, batchId: Long, table: String,
      keys: Seq[String],
      transform: DataFrame => DataFrame = identity): Boolean = {
    import spark.implicits._
    require(table != "tick_meta", "tick_meta is reserved")
    if (batchId <= lastTickId(spark, root)) false
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
}
