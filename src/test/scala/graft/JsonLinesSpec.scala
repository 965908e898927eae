package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.sources.{JsonLines, Tables}

/** JSONL ingest: the every-line-lands-somewhere contract, corrupt
  * quarantine with raw preservation, gzip, schema drift vs
  * corruption, and the parquet round-trip.
  */
class JsonLinesSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("txt", StringType)))

  private def writeLines(lines: Seq[String], name: String): String = {
    val dir = Files.createTempDirectory("jsonl")
    val f = dir.resolve(name)
    Files.write(f, lines.mkString("\n").getBytes("UTF-8"))
    f.toString
  }

  test("clean + corrupt + blank lines: everything lands in exactly one place") {
    val path = writeLines(Seq(
      """{"id": 1, "txt": "alpha"}""",
      """{"id": 2 "txt": "broken"}""", // missing comma: corrupt
      "",
      """not json at all""",
      """{"id": 3, "txt": "gamma", "extra": 7}""", // extra field: fine
      """{"id": 4}""",                             // missing field: drift, not corrupt
      "   ",
      """{"id": "x5", "txt": "bad type"}""",       // type mismatch: corrupt
      "null",                                      // null top-level: corrupt
      "[1, 2]"                                     // non-object top-level: corrupt
    ), "drop.jsonl")

    val good = JsonLines.read(spark, path, schema)
      .as[(Option[Long], Option[String])].collect().toSet
    assert(good == Set(
      (Some(1L), Some("alpha")), (Some(3L), Some("gamma")),
      (Some(4L), None)))

    val bad = JsonLines.quarantine(spark, path, schema)
      .select("raw").as[String].collect().toSet
    assert(bad == Set("""{"id": 2 "txt": "broken"}""", "not json at all",
      """{"id": "x5", "txt": "bad type"}""", "null", "[1, 2]"),
      s"quarantine keeps the raw lines verbatim, got $bad")
    // conservation: 8 non-blank lines = 3 good + 5 quarantined
    assert(good.size + bad.size == 8)
  }

  test("ingest writes the quarantine store and returns the clean rows") {
    val path = writeLines(Seq(
      """{"id": 1, "txt": "a"}""", "garbage"), "drop.jsonl")
    val qroot = Files.createTempDirectory("quar").resolve("q").toString
    val good = JsonLines.ingest(spark, path, schema, qroot)
    assert(good.count() == 1)
    val q = spark.read.parquet(qroot)
    assert(q.columns.toSet == Set("raw", "src_file"))
    assert(q.select("raw").as[String].collect().toSeq == Seq("garbage"))
    assert(q.select("src_file").as[String].head().endsWith("drop.jsonl"))
  }

  test("gzip input parses transparently") {
    val dir = Files.createTempDirectory("jsonlgz")
    val f = dir.resolve("drop.jsonl.gz")
    val out = new java.util.zip.GZIPOutputStream(
      Files.newOutputStream(f))
    out.write("""{"id": 9, "txt": "zipped"}""".getBytes("UTF-8"))
    out.close()
    val good = JsonLines.read(spark, f.toString, schema)
      .as[(Option[Long], Option[String])].collect().toSeq
    assert(good == Seq((Some(9L), Some("zipped"))))
  }

  test("documents round-trips parquet -> jsonl -> engine unchanged") {
    val docs = Tables.load(spark, sfDir, "documents")
    val dir = Files.createTempDirectory("jsonlrt").resolve("docs").toString
    JsonLines.write(docs, dir)
    val docSchema = StructType(docs.schema.fields.toSeq)
    val back = JsonLines.read(spark, dir, docSchema)
    assert(JsonLines.quarantine(spark, dir, docSchema).count() == 0)
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = back.orderBy("doc_id").collect().toSeq
    assert(a == b, "round-trip must be lossless")
  }

  test("a schema already claiming the corrupt column is rejected") {
    intercept[IllegalArgumentException] {
      JsonLines.read(spark, "/tmp/nope.jsonl",
        StructType(Seq(StructField(JsonLines.CorruptCol, StringType))))
    }
  }
}
