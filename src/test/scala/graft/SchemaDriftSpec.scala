package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SchemaDrift
import graft.sources.SchemaDrift.Drift

class SchemaDriftSpec extends SparkSpec {

  import spark.implicits._

  private val stored = StructType(Seq(
    StructField("id", LongType), StructField("v", DoubleType),
    StructField("tags", ArrayType(StringType))))

  test("compare: added/removed/retyped/unchanged, stored order first") {
    val incoming = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("extra", IntegerType)))
    assert(SchemaDrift.compare(stored, incoming) == Seq(
      Drift("id", "unchanged", "BIGINT", "BIGINT"),
      Drift("v", "retyped", "DOUBLE", "STRING"),
      Drift("tags", "removed", "ARRAY<STRING>", ""),
      Drift("extra", "added", "", "INT")))
  }

  test("nested retype inside an array reports as retyped") {
    val incoming = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType),
      StructField("tags", ArrayType(LongType))))
    assert(SchemaDrift.compare(stored, incoming)
      .find(_.column == "tags").map(_.status).contains("retyped"))
  }

  test("report frame matches compare") {
    val incoming = StructType(Seq(StructField("id", LongType)))
    val rows = SchemaDrift.report(spark, stored, incoming)
      .as[(String, String, String, String)].collect().toSeq
    assert(rows == SchemaDrift.compare(stored, incoming)
      .map(d => (d.column, d.status, d.oldType, d.newType)))
  }
}
