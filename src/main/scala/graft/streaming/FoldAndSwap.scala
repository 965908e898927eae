package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.sources.AnalysisStore

/** The tick every state-folding stream shares: fold one micro-batch
  * into the state stored at `storePath`, then publish the new state
  * with one [[AnalysisStore.stageAndSwap]]. Per batch, in this order:
  *  1. materialize the batch once (an un-materialized foreachBatch
  *     frame re-reads its source per action) and skip an empty one;
  *  2. heal an interrupted swap ([[AnalysisStore.recover]]), and only
  *     then ask whether state exists. A crash between the swap's two
  *     renames leaves the state under `<storePath>__old`; a tick that
  *     asked first would fold the batch against nothing and publish it
  *     over all prior state;
  *  3. ask the stream's fold for a staging writer, given the batch and
  *     whether state exists. `None` is a no-op (what a redelivered
  *     batch gives);
  *  4. publish the writer through stageAndSwap, the first tick
  *     included, so a store that exists always holds a complete tick.
  *
  * The writer runs before anything is renamed, so a fold may read the
  * prior state at `storePath` lazily: state never has to fit in memory.
  */
private[streaming] object FoldAndSwap {

  /** `input` ticking `fold` into `storePath` on a processing-time
    * trigger. `fold` takes the materialized batch and whether state
    * exists, and gives the writer of the new state into a staging dir,
    * or None for a no-op.
    */
  def ticks(
      input: DataFrame, storePath: String, outputMode: OutputMode,
      interval: String)(
      fold: (DataFrame, Boolean) => Option[String => Unit])
      : DataStreamWriter[Row] =
    input.writeStream
      .outputMode(outputMode)
      .trigger(Trigger.ProcessingTime(interval))
      .foreachBatch { (rawBatch: DataFrame, _: Long) =>
        materialize(rawBatch).foreach { batch =>
          val spark = batch.sparkSession
          AnalysisStore.recover(spark, storePath)
          val path = new org.apache.hadoop.fs.Path(storePath)
          val exists = path.getFileSystem(
            spark.sparkContext.hadoopConfiguration).exists(path)
          fold(batch, exists)
            .foreach(AnalysisStore.stageAndSwap(spark, storePath))
        }
      }

  /** Step 1: the batch materialized once, or None when it is empty. */
  def materialize(rawBatch: DataFrame): Option[DataFrame] = {
    val batch = rawBatch.localCheckpoint(true)
    if (batch.isEmpty) None else Some(batch)
  }

  /** The writer of `df` as the whole new state. */
  def overwrite(df: DataFrame): String => Unit =
    df.write.mode(SaveMode.Overwrite).parquet(_)
}
