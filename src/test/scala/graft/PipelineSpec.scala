package graft

import org.apache.spark.sql.functions._

import graft.model.EtlConfig
import graft.pipeline.{EtlPipeline, EtlScheduler, Stage}

/** Stage-DAG orchestration (SURVEY §3 E2): topo order, cycle/missing
  * detection, scheduler tick cadence and failure policy.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = EtlConfig("/in", "/out")

  test("stages run in dependency order; ties keep registration order") {
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val p = new EtlPipeline()
      .register(Stage("fact", Seq("dim_a", "dim_b")) { (s, deps) =>
        ran += "fact"
        deps("dim_a").join(deps("dim_b"), "k")
      })
      .register(Stage("dim_a", Nil) { (s, _) =>
        ran += "dim_a"; Seq((1, "a")).toDF("k", "va")
      })
      .register(Stage("dim_b", Nil) { (s, _) =>
        ran += "dim_b"; Seq((1, "b")).toDF("k", "vb")
      })
    val out = p.run(spark)
    assert(ran.toSeq == Seq("dim_a", "dim_b", "fact"))
    assert(out("fact").columns.toSeq == Seq("k", "va", "vb"))
    // outputs visible as temp views for report SQL
    assert(spark.sql("SELECT va FROM fact").as[String].head() == "a")
  }

  test("cycles and unknown dependencies are rejected eagerly") {
    val p = new EtlPipeline()
      .register(Stage("a", Seq("b")) { (_, _) => spark.emptyDataFrame })
      .register(Stage("b", Seq("a")) { (_, _) => spark.emptyDataFrame })
    intercept[IllegalArgumentException](p.topoOrder)
    val q = new EtlPipeline()
      .register(Stage("a", Seq("ghost")) { (_, _) => spark.emptyDataFrame })
    intercept[NoSuchElementException](q.topoOrder)
  }

  test("scheduler ticks N times and sleeps the configured interval") {
    val slept = scala.collection.mutable.ArrayBuffer.empty[Long]
    var seen = 0
    val sched = new EtlScheduler(() => seen += 1,
      cfg.copy(etlIntervalSeconds = 7), slept += _)
    val ticks = sched.runLoop(maxTicks = 3)
    assert(ticks == 3 && seen == 3)
    assert(slept.toSeq == Seq(7000L, 7000L)) // no sleep after the last tick
  }

  test("scheduler survives transient tick failures, gives up when persistent") {
    var calls = 0
    val flaky = () => {
      calls += 1
      if (calls == 2) throw new RuntimeException("transient source hiccup")
    }
    val errors = scala.collection.mutable.ArrayBuffer.empty[Int]
    val sched = new EtlScheduler(flaky, cfg, _ => ())
    val ok = sched.runLoop(maxTicks = 4,
      onError = (tick, _) => errors += tick)
    assert(ok == 3, "3 of 4 ticks succeed")    // tick 2 failed
    assert(errors.toSeq == Seq(1))             // observed at 0-based tick 1

    // persistent failure: gives up after maxConsecutiveFailures
    val schedBroken = new EtlScheduler(
      () => throw new RuntimeException("permanently broken"), cfg, _ => ())
    val e = intercept[RuntimeException](
      schedBroken.runLoop(maxTicks = 10, maxConsecutiveFailures = 2))
    assert(e.getMessage.contains("permanently broken"))
  }
}
