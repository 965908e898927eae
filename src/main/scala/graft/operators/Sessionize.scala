package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization of an event stream: group a user's events into
  * sessions split wherever the gap to the previous event exceeds
  * `gapSeconds`.
  *
  * Not in the reference surface (SURVEY §2.5/§2.7 — its "streaming" is
  * a polling batch); this is part of the training-pipeline `ext` tier
  * over the `events` table. The per-tick twin over persisted session
  * state is graft.streaming.EventsStreaming.sessionTickBatch.
  *
  * Scale shape: one shuffle by user, then two window passes over the
  * same partitioning (lag → cumulative sum) that Spark plans inside a
  * single exchange, then a partial-aggregated groupBy on
  * (user, session) which is a prefix of the same key — AQE coalesces
  * it without a second full shuffle of raw events.
  */
object Sessionize {
  def sessions(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      idCol: String = "event_id",
      gapSeconds: Long = 1800L): DataFrame = {
    val byUser = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(idCol))
    val prevTs = lag(col(tsCol), 1).over(byUser)
    val isNew: Column = when(
      prevTs.isNull.or(
        unix_timestamp(col(tsCol)) - unix_timestamp(prevTs) > gapSeconds),
      1L).otherwise(0L)
    events
      .withColumn("__new_session", isNew)
      .withColumn("session_id",
        sum(col("__new_session"))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"))
  }
}
