package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.IntegerType

import graft.queries.{Gate, QueryDef, Registry}

/** The bit-gate declaration and the shared bag check, on tiny local
  * frames: no fixture table is scanned.
  */
class GateSpec extends SparkSpec {
  import spark.implicits._

  test("sameRows counts multiplicity, matches nulls and finds one-sided rows") {
    val a = Seq((1, "x"), (1, "x"), (2, "y")).toDF("k", "v")
    assert(Gate.sameRows(a, a))
    // a holds (1, x) twice, b once
    assert(!Gate.sameRows(a, Seq((1, "x"), (2, "y")).toDF("k", "v")))
    assert(!Gate.sameRows(Seq((1, "x"), (2, "y")).toDF("k", "v"), a))
    val n = Seq((1, None: Option[String]), (2, Some("y"))).toDF("k", "v")
    assert(Gate.sameRows(n, Seq((2, Some("y")), (1, None: Option[String]))
      .toDF("k", "v")))
    assert(!Gate.sameRows(n, n.filter($"k" === 1)))
    assert(!Gate.sameRows(n.filter($"k" === 1), n))
  }

  test("sameRows compares columns by position") {
    val a = Seq((1, 2)).toDF("x", "y")
    assert(Gate.sameRows(a, Seq((1, 2)).toDF("y", "x")))
    assert(!Gate.sameRows(a, Seq((2, 1)).toDF("y", "x")))
  }

  test("the generated oracle equals the hand-written one it replaced") {
    assert(Registry.all("pca_delta_gate").oracle.contains(
      "SELECT CAST(1 AS INTEGER) AS eig_ok, CAST(1 AS INTEGER) AS axes_ok, " +
        "CAST(1 AS INTEGER) AS var_ok"))
  }

  test("gate builds one 0/1 INTEGER row in declared order") {
    val g = QueryDef.gate("doc", "b_ok", "a_ok", "c_ok") { (_, _) =>
      Seq(true, false, true)
    }
    val out = g.build(spark, "unused")
    assert(out.columns.toSeq == Seq("b_ok", "a_ok", "c_ok"))
    assert(out.schema.forall(_.dataType == IntegerType))
    assert(out.as[(Int, Int, Int)].collect().toSeq == Seq((1, 0, 1)))
    assert(g.oracle.contains(Gate.oracle(Seq("b_ok", "a_ok", "c_ok"))))
    assert(g.gateBits == Seq("b_ok", "a_ok", "c_ok"))
  }

  test("gateFrame projects exactly the named bits; a misnamed one fails") {
    val g = QueryDef.gateFrame("doc", "x_ok", "y_ok") { (s, _) =>
      s.range(1).selectExpr("true AS y_ok", "1 AS x_ok", "7 AS extra")
    }
    val out = g.build(spark, "unused")
    assert(out.columns.toSeq == Seq("x_ok", "y_ok"))
    assert(out.as[(Int, Int)].collect().toSeq == Seq((1, 1)))
    val bad = QueryDef.gateFrame("doc", "z_ok") { (s, _) =>
      s.range(1).selectExpr("1 AS x_ok")
    }
    intercept[AnalysisException](bad.build(spark, "unused"))
  }

  test("every registered _gate but the three non-bit gates uses the helper") {
    val handOracled =
      Set("ann_drift_gate", "text_bpe_gate", "text_unigram_gate")
    Registry.all.filter(_._1.endsWith("_gate")).foreach { case (name, d) =>
      if (handOracled(name)) assert(d.gateBits.isEmpty, name)
      else {
        assert(d.gateBits.nonEmpty, name)
        assert(d.gateBits.distinct == d.gateBits, name)
        assert(d.gateBits.forall(_.matches("[a-z0-9_]+")), name)
        assert(d.oracle.contains(Gate.oracle(d.gateBits)), name)
      }
    }
  }
}
