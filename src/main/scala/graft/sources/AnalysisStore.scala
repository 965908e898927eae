package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** The persisted analysis store (SURVEY §2.1 S2/S3): the reference
  * drops/recreates or upserts MySQL tables per run (reference
  * README.md:133-134,146); here each table family is a Parquet
  * directory.
  *
  *  - Full refresh (mode 0) = idempotent overwrite.
  *  - Incremental (mode 1) = read-merge-rewrite. Parquet files are
  *    immutable, so "upsert" at 100 TB is really "rewrite the affected
  *    partitions": the partitioned tick
  *    ([[writeIncrementalPartitioned]]) reads back only the partitions
  *    the delta touches, drops the stored rows its removal predicate
  *    names, unions the delta and rewrites those partition dirs by
  *    dynamic partition overwrite, leaving every other partition's
  *    files untouched. A rewrite that replaces a whole table goes
  *    through a staging dir and a swap ([[stageAndSwap]]).
  */
object AnalysisStore {

  /** Columnar formats the store supports. Parquet is the default
    * (vectorized reader, best pushdown); ORC is the drop-in
    * alternative when the surrounding platform standardizes on it —
    * both keep types, stats and predicate pushdown. `csv`/`json` are
    * EXPORT formats (text, schema-lossy — read them back only with an
    * explicit schema); they exist for interop, not for the store's own
    * round-trips.
    */
  val ColumnarFormats: Set[String] = Set("parquet", "orc")

  /** The path's OWN filesystem — store roots need not live on the
    * cluster's fs.defaultFS, and resolving against the default fs
    * would silently target the wrong filesystem (or fail) for any
    * other scheme.
    */
  private def fsOf(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Roll back a crashed [[stageAndSwap]]: its only non-atomic window
    * leaves the target renamed away to `__old` with the staging not
    * yet renamed in. If that state is found, restore the backup so
    * readers (and the retrying writer) see the true prior table
    * instead of "missing" — without this, a retrying incremental
    * writer would fall back to writeFull(delta) and silently replace
    * all prior state. Called by every read-modify-write entry point;
    * callers that only READ state at tick start should call it for
    * each state path before their exists() checks.
    *
    * @return true if a backup was restored
    */
  def recover(spark: SparkSession, path: String): Boolean = {
    val fs = fsOf(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    val backup = new org.apache.hadoop.fs.Path(path + "__old")
    if (!fs.exists(target) && fs.exists(backup)) {
      if (fs.rename(backup, target)) true
      // benign race: a concurrent recover/swap installed the target
      // between our exists() and rename() — recovered by the other
      else if (fs.exists(target)) false
      // a false return with the target STILL missing (HDFS reports
      // failures as false, not exceptions) MUST abort: swallowing it
      // would let a retrying incremental writer see "missing table"
      // and writeFull(delta) over the data still sitting in the
      // backup — the exact loss recover prevents
      else throw new IllegalStateException(
        s"failed to restore crash backup $backup -> $target")
    } else false
  }

  /** Idempotent overwrite of the table at `path`. A partitioned write
    * is clustered by its partition columns first ([[partitioned]]), so
    * each partition value lands in one file unless adaptive execution
    * splits an oversized one at `advisoryPartitionSizeInBytes`.
    */
  def writeFull(
      df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
      format: String = "parquet"): Unit =
    (if (partitionBy.nonEmpty) partitioned(df, partitionBy)
     else df.write).mode(SaveMode.Overwrite).format(format).save(path)

  /** The writer of every partitioned store write: a rebalance by the
    * partition columns, so one task writes a whole partition value
    * instead of every input task writing a sliver of every partition
    * directory it sees.
    */
  private def partitioned(df: DataFrame, partitionBy: Seq[String]) =
    df.hint("rebalance", partitionBy.map(org.apache.spark.sql.functions.col): _*)
      .write.partitionBy(partitionBy: _*)

  /** The parquet table at `path` after healing an interrupted swap;
    * None when there is no table yet, or none with a data file to merge
    * with. The schema comes from the footer of one data file, read on
    * the driver: Spark writes a file's schema into its footer
    * (`org.apache.spark.sql.parquet.row.metadata`), and reading the
    * path with it spares the schema-inference job every plain parquet
    * read runs. Every store table is written by Spark, so a footer
    * without that key is an error. Partition discovery adds the
    * partition columns as it does for an inferred read, so the result
    * has the schema `spark.read.parquet(path)` gives, field metadata
    * included: a flat table's schema carries the config it was pivoted
    * with ([[graft.operators.Flatten.flattenObs]]), so the caller gets
    * the stored config with the table, still with no Spark job.
    *
    * The footer is read with the session's Hadoop configuration. A
    * bare `ParquetFileReader.open(file)` builds its read options over a
    * fresh `Configuration`, which parses Hadoop's default XML resources
    * again on every call.
    */
  def readExisting(spark: SparkSession, path: String): Option[DataFrame] = {
    recover(spark, path)
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) None
    else anyDataFile(fs, root).map { file =>
      import org.apache.parquet.HadoopReadOptions
      import org.apache.parquet.hadoop.ParquetFileReader
      import org.apache.parquet.hadoop.util.HadoopInputFile
      import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
      val conf = spark.sparkContext.hadoopConfiguration
      val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
        HadoopReadOptions.builder(conf).build())
      val meta = try reader.getFooter.getFileMetaData finally reader.close()
      val json = meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY)
      require(json != null, s"$file: no Spark schema in its footer")
      spark.read.schema(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType]).parquet(path)
    }
  }

  /** Some data file under `dir`, skipping the names Spark's file index
    * skips (`_`-prefixed unless a `k=v` partition, `.`-prefixed). It
    * lists with `listStatus`: on the local filesystem a
    * `LocatedFileStatus` listing forks a process per file to load its
    * permissions.
    */
  private def anyDataFile(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.FileStatus] = {
    val (files, dirs) = fs.listStatus(dir).filterNot { s =>
      val n = s.getPath.getName
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".")
    }.partition(_.isFile)
    files.headOption.orElse(
      dirs.iterator.flatMap(d => anyDataFile(fs, d.getPath)).nextOption())
  }

  /** Read a store table back, honoring the format it was written in. */
  def read(spark: SparkSession, path: String,
      format: String = "parquet"): DataFrame =
    spark.read.format(format).load(path)

  /** Bucketed + sorted table write: pre-shuffles once at WRITE time by
    * `bucketBy` so every later equi-join/aggregation on the bucket key
    * between co-bucketed tables plans with NO exchange — the join
    * reads matching buckets directly (SortMergeJoin over pre-sorted
    * buckets, no shuffle, no sort). This is the 100 TB answer to
    * "this join runs every tick": pay the shuffle once in the store,
    * not per query. Requires a table-catalog write (`saveAsTable`) —
    * bucket metadata lives in the catalog, plain parquet paths can't
    * carry it.
    */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = {
    require(bucketCols.nonEmpty, "bucketBy needs at least one column")
    val spark = df.sparkSession
    // A fresh catalog (new metastore per JVM) may not know `table`
    // while its prior warehouse dir survives on disk; saveAsTable
    // refuses to CREATE over a non-empty location, so Overwrite mode
    // must clear the orphan itself.
    if (!spark.catalog.tableExists(table)) {
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table)))
      fsOf(spark, loc.toString).delete(loc, true)
    }
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    assertResolvable(spark, table)
  }

  /** Post-write resolution contract: the table the session catalog
    * hands back must LIST the data files the write just committed.
    * Exists because of the store_bucketed_gate seam (commit ca8e932):
    * twice in long-JVM 276-query sweeps, a freshly (re)created
    * managed bucketed table's zero-exchange scan transiently
    * evaluated EMPTY — correct plan, successful write, zero rows.
    * The gate now guards itself, but a USER read through this API had
    * no guard at all; this check makes every write-then-read path
    * loud instead. Mechanics: compare the raw filesystem listing of
    * the table location against a fresh catalog resolution — if disk
    * holds data files the resolution doesn't see, try `REFRESH TABLE`
    * (drops any stale relation/FileStatusCache entry) and re-resolve;
    * a repair is reported on stderr (greppable marker for the seam
    * probe), an unrepaired inconsistency throws.
    */
  private def assertResolvable(spark: SparkSession, table: String): Unit = {
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = fsOf(spark, loc.toString)
    val dataOnDisk = fs.exists(loc) && fs.listStatus(loc).exists(s =>
      s.isFile && s.getLen > 0 && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    if (dataOnDisk && spark.table(table).inputFiles.isEmpty) {
      System.err.println(s"[graft-store] SEAM: $table resolved an empty " +
        "file listing over a non-empty location — refreshing")
      spark.sql(s"REFRESH TABLE $table")
      if (spark.table(table).inputFiles.isEmpty)
        throw new IllegalStateException(
          s"bucketed table $table still resolves an EMPTY file listing " +
            s"while ${meta.location} holds data files — stale catalog/" +
            "FileIndex state REFRESH TABLE could not repair")
    }
  }

  /** Append into an EXISTING bucketed table, preserving the bucket
    * contract: new rows land in per-bucket files (cost = |delta|, one
    * delta-sized shuffle), and every later bucket-key join stays
    * exchange-free — the append never re-touches existing data. The
    * spec guard is load-bearing: Spark would happily append with a
    * DIFFERENT bucket count/columns and every subsequent "no-shuffle"
    * join would silently return wrong results (rows outside their
    * claimed bucket) — mismatches fail loudly here instead.
    *
    * 100 TB shape: a daily delta append costs the delta, not the
    * table; the trade is file-count growth per bucket (scan-side
    * union, bounded by append cadence — the compaction story), never
    * a correctness or shuffle regression.
    */
  def appendBucketed(
      df: DataFrame, table: String,
      bucketCols: Seq[String], nBuckets: Int): Unit = {
    val spark = df.sparkSession
    require(spark.catalog.tableExists(table),
      s"appendBucketed: $table does not exist — writeBucketed first")
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(table)).bucketSpec
    require(spec.exists(s => s.numBuckets == nBuckets &&
        s.bucketColumnNames == bucketCols),
      s"appendBucketed: $table has bucket spec $spec, caller claims " +
        s"($bucketCols, $nBuckets) — a mismatched append would scatter " +
        "rows outside their claimed bucket and corrupt every " +
        "no-shuffle join")
    df.write.mode(SaveMode.Append)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    assertResolvable(spark, table)
  }

  /** Crash-safe table rewrite: materialize the new contents into a
    * staging dir (the source stays intact and readable throughout),
    * then swap via renames. Shared by every path that rewrites a
    * table in place (a tick's reshape rebuild, compaction, audited
    * publishes) so the rename choreography lives in exactly one place.
    */
  def stageAndSwap(
      spark: SparkSession, path: String)(
      write: String => Unit): Unit = {
    stage(spark, path)(write)
    swap(spark, path)
  }

  /** Heal any interrupted swap, then `write` fresh contents into the
    * staging dir next to `path`; returns the staging path.
    */
  private def stage(
      spark: SparkSession, path: String)(
      write: String => Unit): String = {
    recover(spark, path)
    val staging = path + "__staging"
    fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(staging), true)
    write(staging)
    staging
  }

  /** Publish the staging dir [[stage]] wrote: the live table moves to
    * `__old`, staging takes its name, then the backup goes. A crash
    * anywhere in between is healed by [[recover]].
    */
  private def swap(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val backup = new org.apache.hadoop.fs.Path(path + "__old")
    moveAside(spark, path)
    fs.rename(new org.apache.hadoop.fs.Path(path + "__staging"),
      new org.apache.hadoop.fs.Path(path))
    fs.delete(backup, true)
  }

  /** Rename the live table at `path` to its `__old` backup name,
    * clearing any older backup first.
    */
  private def moveAside(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val target = new org.apache.hadoop.fs.Path(path)
    val backup = new org.apache.hadoop.fs.Path(path + "__old")
    fs.delete(backup, true)
    // first-ever publish: nothing to back up (local FS rename of a
    // missing source throws rather than returning false)
    if (fs.exists(target)) fs.rename(target, backup)
  }

  /** Remove the table at `path` with the same steps as a swap: heal
    * an interrupted swap, drop staging leftovers, move the table to
    * `__old`, then delete the backup. A crash before the delete leaves
    * a backup that [[recover]] restores, so a retried drop finds the
    * whole table again rather than a half-deleted one.
    */
  def drop(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    recover(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path + "__staging"), true)
    moveAside(spark, path)
    fs.delete(new org.apache.hadoop.fs.Path(path + "__old"), true)
  }

  /** Outcome of [[writeAuditPublish]]: whether the staged data went
    * live, and which audits rejected it if not.
    */
  final case class WapResult(published: Boolean, failed: Seq[String])

  /** Write-audit-publish (the Iceberg WAP pattern, Spark-native):
    * stage the full write OFF the serving path, run every audit
    * against the STAGED data, and only a clean bill swaps it live —
    * a failed audit deletes the staging dir and leaves the published
    * table byte-untouched, so consumers can never observe data that
    * failed its checks, not even transiently. This is the missing
    * third leg next to [[stageAndSwap]] (crash atomicity) and
    * `DataQuality` (the checks themselves): atomicity OF the quality
    * gate.
    *
    * Audits are named predicates over the staged frame — compose
    * them from `DataQuality.check`/`unique`/`referential` or any
    * domain rule; names of failing audits come back in
    * [[WapResult]] (and drive the caller's alerting). Audit cost is
    * a read of the staged data only; the swap itself is two renames.
    * Crash-safe like every swap here: a crash inside the window is
    * healed by [[recover]] on the next touch.
    */
  def writeAuditPublish(
      spark: SparkSession, path: String,
      audits: Seq[(String, DataFrame => Boolean)],
      format: String = "parquet")(
      write: String => Unit): WapResult = {
    require(audits.nonEmpty, "write-audit-publish with no audits is" +
      " just a write — call stageAndSwap/writeFull instead")
    val staging = stage(spark, path)(write)
    val staged = read(spark, staging, format)
    val failed = audits.collect {
      case (name, check) if !check(staged) => name
    }
    if (failed.nonEmpty) {
      fsOf(spark, path).delete(new org.apache.hadoop.fs.Path(staging), true)
      WapResult(published = false, failed)
    } else {
      swap(spark, path)
      WapResult(published = true, Nil)
    }
  }

  /** Compact a store table's files to ~`targetFileBytes` each — the
    * small-files remedy. Incremental ticks and streaming foreachBatch
    * writes accumulate files far smaller than a scan split; at 100 TB
    * that means millions of files, NameNode/listing pressure, and a
    * task per tiny file. Periodic compaction (off the write path)
    * rewrites the table at the target granularity via the same
    * staging-swap used by incremental writes, so readers never see a
    * half-compacted table.
    *
    * @return number of files after compaction
    */
  def compact(
      spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20,
      format: String = "parquet",
      partitionBy: Seq[String] = Nil): Int = {
    val fs = fsOf(spark, path)
    val totalBytes = fs.getContentSummary(
      new org.apache.hadoop.fs.Path(path)).getLength
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // the staging write READS the still-intact source — no
    // materialization through executor storage memory needed.
    // Partitioned tables keep their directory layout: repartition by
    // the partition columns (so each output task writes whole
    // partition dirs, not a sliver of every dir) and re-partitionBy on
    // write; pruning still works after compaction.
    stageAndSwap(spark, path) { staging =>
      import org.apache.spark.sql.functions.col
      val src = read(spark, path, format)
      val w =
        if (partitionBy.isEmpty) src.repartition(nFiles)
        else src.repartition(nFiles, partitionBy.map(col): _*)
      val writer = w.write.mode(SaveMode.Overwrite).format(format)
      (if (partitionBy.isEmpty) writer
       else writer.partitionBy(partitionBy: _*)).save(staging)
    }
    nFiles
  }

  /** Partition-pruned incremental merge, step one: the partitions a
    * merge into `table` touches, in ONE bounded collect ([[graft
    * .operators.ModelCollect]], model-sized, never row data). They are
    * the values of `parts`, plus the stored partitions of the rows
    * `removeKeys` drops, each with the file holding those rows. Each
    * returned row is the `partitionBy` values followed by that file's
    * path, null for a value of `parts`; pass it unchanged to
    * [[writeIncrementalPartitioned]].
    *
    * It reads `parts` and the stored table only, never the delta, so a
    * caller can run it beside whatever builds the delta
    * ([[graft.examples.MambaEtlJob.tickChanged]] runs it beside the
    * type's config scan and the pivot of its delta).
    *
    * @param table the stored table, as [[readExisting]] gave it
    * @param parts a frame carrying `partitionBy` whose values cover
    *        every partition value of the delta. Only those columns are
    *        read, so a caller that knows where its delta lands (say,
    *        from the changed keys' dates) spares the collect an
    *        evaluation of an expensive delta; pass the delta itself
    *        otherwise. Naming a value the delta does not land in is
    *        harmless: that partition is rewritten with its own rows,
    *        less those of the removed keys. Missing one is not: its
    *        directory would be replaced by the delta's rows alone.
    * @param removeKeys a predicate over `keys`, true for the stored
    *        rows that must be dropped: the delta's own keys (their rows
    *        are replaced), and keys whose rows must go even when the
    *        delta carries no replacement row (the deleted/voided-away
    *        case — a merge keyed only on the delta's rows would leave
    *        them behind) or carries one in another partition. A
    *        predicate such as `col(k).isin(ids: _*)` filters the stored
    *        table with no join. The partitions of the rows it drops are
    *        found by a column-pruned scan of (keys ++ partitionBy) —
    *        O(table) in rows but only a few columns of IO. A row for
    *        which it is null (a null key) is kept, as an anti-join on
    *        the keys keeps it.
    */
  def touchedPartitions(
      table: DataFrame, parts: DataFrame, keys: Seq[String],
      partitionBy: Seq[String],
      removeKeys: org.apache.spark.sql.Column): Seq[Row] = {
    require(partitionBy.nonEmpty,
      "touchedPartitions needs at least one partition column")
    import org.apache.spark.sql.functions.{col, lit}
    // rows being removed may live in partitions the delta no longer
    // writes to — locate them, and the files holding them, so their
    // partitions are rewritten too
    val file = "__file"
    val removedParts = table.select((keys ++ partitionBy).map(col) :+
        col("_metadata.file_path").as(file): _*)
      .filter(removeKeys)
      .select((partitionBy :+ file).map(col): _*)
    graft.operators.ModelCollect.bounded(
      parts.select(partitionBy.map(col) :+
          lit(null).cast("string").as(file): _*)
        .union(removedParts).distinct(),
      graft.operators.ModelCollect.MaxModelRows, "touched partition values")
      .toSeq
  }

  /** Partition-pruned incremental merge — the write-side twin of the
    * read-side partition pruning, and the shape a tick MUST take at
    * 100 TB (reference README.md:133-134 "only add/modify what has
    * changed"): an unpartitioned merge would rewrite the whole table
    * every tick, which turns a 30-minute schedule into a full-store
    * write amplification.
    *
    * Step two of the merge, after [[touchedPartitions]] (the caller
    * holds both the stored table and that collect, so it can run the
    * collect beside other work; a missing table is a plain
    * [[writeFull]] of the delta, which the caller does):
    *  - read ONLY the touched partitions back (the literal predicate
    *    prunes at the directory level), drop the rows of the removed
    *    keys and union the delta;
    *  - write that with dynamic partition overwrite, clustered by the
    *    partition columns so each touched partition comes out as one
    *    file. Spark replaces exactly the partition directories present
    *    in the written frame and leaves every other directory's files
    *    untouched (asserted byte-identical in AnalysisStoreSpec);
    *  - delete the partitions the merge left empty. Dynamic overwrite
    *    cannot express "overwrite with nothing", so a partition whose
    *    every row is removed and that gains no delta row keeps its old
    *    files through the write. A removed-key file still present
    *    after the write names such a partition, and its directory is
    *    deleted.
    *    This runs after the commit: a crash between the two leaves the
    *    stale rows until the next merge that removes them.
    *
    * The write reads the path it overwrites. Dynamic overwrite stages
    * every task's output under `<path>/.spark-staging-*` and moves
    * partition directories in only after the job has read all its
    * input, so no materialized copy of the merge is needed, and a
    * failed job leaves every partition as it was (AnalysisStoreSpec).
    *
    * Moved rows: a delta key whose partition value changes holds
    * `removeKeys`, so its old partition is located and rewritten
    * without it.
    *
    * @param table   the stored table at `path`, as [[readExisting]]
    *                gave it
    * @param touched [[touchedPartitions]] of `table` with the same
    *                `partitionBy` and `removeKeys`; nothing is written
    *                when it is empty
    */
  def writeIncrementalPartitioned(
      spark: SparkSession, delta: DataFrame, path: String,
      table: DataFrame, touched: Seq[Row], partitionBy: Seq[String],
      removeKeys: org.apache.spark.sql.Column): Unit = {
    if (touched.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val touchedPred = touched.map(_.toSeq.init).distinct.map { values =>
      partitionBy.zip(values).map { case (c, v) => col(c) === lit(v) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val kept = table.filter(touchedPred && !coalesce(removeKeys, lit(false)))
    // strict unionByName ON PURPOSE: this path rewrites only touched
    // partition dirs, so an evolved delta schema would leave the
    // table's partitions schema-divergent (readable only with
    // mergeSchema, silently column-dropping without). Fail fast
    // here; evolve schemas through a full [[writeFull]] rewrite,
    // which re-materializes every row under the new schema.
    val merged = kept.unionByName(delta)
    partitioned(merged, partitionBy)
      .mode(SaveMode.Overwrite)
      // per-write option (not session conf): only THIS write replaces
      // partitions dynamically; static overwrite elsewhere stays safe
      .option("partitionOverwriteMode", "dynamic")
      .parquet(path)
    // the write replaced every partition it produced rows for, so a
    // removed key's file still present marks a partition the merge
    // left empty: its every row was removed and nothing landed there
    val fs = fsOf(spark, path)
    touched.flatMap(r => Option(r.getString(partitionBy.size)))
      .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)))
      .filter(fs.exists).map(_.getParent).distinct
      .foreach(fs.delete(_, true))
  }
}
