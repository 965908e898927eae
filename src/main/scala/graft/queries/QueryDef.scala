package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** One driver-checkable query: a Spark build function plus (when the
  * semantics are SQL-expressible) an equivalent ANSI SQL text the
  * DuckDB oracle runs on the same parquet tables.
  *
  * Contract (builder prompt): column names of the Spark result and the
  * oracle SQL must be identical — the driver sorts columns by name
  * before hashing. Every aggregate / computed column is aliased on
  * both sides. Doubles that aggregate across rows are `round`ed so
  * summation-order ulp drift can't flip the hash.
  *
  * `oracleGen` covers the queries whose oracle SQL is data-DEPENDENT
  * but still DuckDB-replayable once a model-sized artifact is inlined
  * as literals (embedding_pca: the fitted axes). [[graft.Verify]]
  * resolves generators against the run's sfDir when dumping
  * oracle_sql.json — the driver sees ordinary static SQL. Generators
  * MUST memoize anything the paired build function also computes, so
  * both sides replay the identical model.
  *
  * `gateBits` names the 0/1 columns of a bit gate ([[QueryDef.gate]]);
  * empty for every other query.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "",
    oracleGen: Option[(SparkSession, String) => String] = None,
    gateBits: Seq[String] = Nil) {
  /** True when the driver gets an oracle (static or generated). */
  def hasOracle: Boolean = oracle.isDefined || oracleGen.isDefined
}

object QueryDef {
  def apply(doc: String, oracle: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, Some(oracle), doc)

  /** Non-SQL-expressible op → driver records a weaker rows-only check. */
  def noOracle(doc: String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, None, doc)

  /** Data-dependent oracle: `gen` renders the SQL (with model literals
    * inlined) for the sfDir Verify is dumping.
    */
  def dynamicOracle(doc: String)(gen: (SparkSession, String) => String)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(build, None, doc, Some(gen))

  /** Bit gate whose bits are plain Booleans: `check` returns one per
    * declared bit, in order. The query yields a one-row frame of 0/1
    * INTEGER columns named `bits`, checked against an oracle of all 1s
    * generated from the same names ([[Gate.oracle]]).
    */
  def gate(doc: String, bits: String*)(
      check: (SparkSession, String) => Seq[Boolean]): QueryDef =
    gateFrame(doc, bits: _*) { (s, dir) =>
      val got = check(s, dir)
      require(got.size == bits.size,
        s"gate returned ${got.size} bits for ${bits.size} names")
      s.createDataFrame(
        java.util.List.of(Row.fromSeq(got.map(b => if (b) 1 else 0))),
        StructType(bits.map(StructField(_, IntegerType, nullable = false))))
    }

  /** Bit gate whose bits are Spark aggregates: `build` returns a frame
    * holding (at least) the named columns; exactly those are projected,
    * cast to INTEGER, so a missing or misnamed bit fails at analysis.
    */
  def gateFrame(doc: String, bits: String*)(
      build: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef((s, dir) => build(s, dir).select(bits.map(b =>
        col(b).cast(IntegerType).as(b)): _*),
      Some(Gate.oracle(bits)), doc, gateBits = bits)
}

/** Shared pieces of the bit gates. */
object Gate {
  /** The static oracle of a bit gate: every bit is 1. */
  def oracle(bits: Seq[String]): String =
    bits.map(b => s"CAST(1 AS INTEGER) AS $b").mkString("SELECT ", ", ", "")

  /** Bag equality: no row of either frame is missing from the other,
    * counting multiplicity. Columns match by position, nulls compare
    * equal.
    */
  def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).unionByName(b.exceptAll(a)).isEmpty
}
