package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** JSON-lines ingest with corrupt-record quarantine — the raw-crawl
  * entry path of a training-data pipeline (crawl dumps, API exports,
  * annotation drops arrive as `*.jsonl` / `*.jsonl.gz`, and at 100 TB
  * some lines ARE malformed: truncated writes, encoding damage,
  * schema drift). Dropping them silently biases the corpus; failing
  * the job on line 40 billion wastes a cluster-day. The contract
  * here: every non-blank input line lands in exactly one of (parsed
  * rows, quarantine), and the quarantine keeps the raw line so it can
  * be re-ingested after a parser fix.
  *
  * Spark-first mechanics: `spark.read.text` (splittable, trivially
  * pruned) + `from_json` in PERMISSIVE mode with a corrupt-record
  * field — deliberately NOT the DataFrame JSON source, whose
  * corrupt-column-only projection is disallowed by analysis (the
  * `referenceColumns` guard), which would force a cache or a dummy
  * column into the quarantine path. Schema is MANDATORY: inference
  * would scan 100 TB twice and lock in whatever the first sample
  * saw. The parse is a narrow per-line pass (gzip splits per file;
  * plain text splits per block); good/bad are two narrow filters
  * over one scan definition, each re-reading the file — at ingest
  * scale a second narrow read beats materializing the corpus, and a
  * malformed line is parsed once per branch, never shuffled.
  */
object JsonLines {

  val CorruptCol = "_graft_corrupt"

  private def parsed(schema: StructType): Column =
    from_json(col("value"),
      schema.add(StructField(CorruptCol, StringType, nullable = true)),
      Map("mode" -> "PERMISSIVE",
        "columnNameOfCorruptRecord" -> CorruptCol))

  /** Raw lines of `path` with the parse attached: (value, src_file,
    * data struct). Blank lines are dropped (the DataFrame JSON source
    * skips them too — a trailing newline is not a corrupt record).
    */
  def readRaw(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    require(!schema.fieldNames.contains(CorruptCol),
      s"schema must not already contain $CorruptCol")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(col("value"), input_file_name().as("src_file"),
        parsed(schema).as("data"))
  }

  /** Clean ⟺ the parsed struct exists AND carries no corrupt record.
    * A top-level `null` / non-object line parses to a NULL struct
    * with no corrupt record attached — without the null-struct test
    * it would slip through as an all-null "clean" row, exactly the
    * silent-bias failure this module exists to prevent.
    */
  private def isClean: Column =
    col("data").isNotNull && col(s"data.$CorruptCol").isNull

  /** The clean rows of `path` (schema columns only). A well-formed
    * line missing fields parses with nulls — schema drift is data,
    * not corruption.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    readRaw(spark, path, schema)
      .filter(isClean)
      .select(schema.fieldNames.map(f => col(s"data.$f").as(f)).toIndexedSeq: _*)

  /** The malformed lines of `path`: (raw, src_file) — raw is the
    * whole input line, src_file the file it came from (the
    * re-ingest / triage key).
    */
  def quarantine(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    readRaw(spark, path, schema)
      .filter(!isClean)
      .select(col("value").as("raw"), col("src_file"))

  /** Ingest `path`: quarantine the malformed lines under
    * `quarantineRoot` (full refresh of that drop's dir) and return
    * the clean rows. The quarantine write runs FIRST so a crash
    * between the two leaves the raw lines preserved, never lost.
    */
  def ingest(spark: SparkSession, path: String, schema: StructType,
      quarantineRoot: String): DataFrame = {
    AnalysisStore.writeFull(quarantine(spark, path, schema), quarantineRoot)
    read(spark, path, schema)
  }

  /** Write a frame as JSON lines (one object per line) — the export
    * twin, also what the specs round-trip through.
    */
  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)
}
