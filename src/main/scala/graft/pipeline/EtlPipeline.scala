package graft.pipeline

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.EtlConfig

/** The reference's ETL orchestration re-expressed as an explicit
  * stage DAG (SURVEY §2.1 S5, §3 E2): the sp_makefile's concatenation
  * order (base dims → flatten → derived facts → orchestrator,
  * reference omod/src/main/resources/_etl/sp_makefile:1-14) becomes
  * ordinary Scala composition — stages declare dependencies, the
  * runner topo-sorts, materializes each output once, and registers it
  * as a temp view for downstream stages and report SQL. Every run
  * recomputes every stage; the incremental tick of the flat tables is
  * [[graft.examples.MambaEtlJob.tickChanged]].
  */
final case class Stage(
    name: String,
    dependsOn: Seq[String])(
    val build: (SparkSession, Map[String, DataFrame]) => DataFrame)

final class EtlPipeline {
  private val stages = mutable.LinkedHashMap.empty[String, Stage]

  def register(stage: Stage): this.type = {
    require(!stages.contains(stage.name), s"duplicate stage ${stage.name}")
    stages += stage.name -> stage
    this
  }

  /** Dependency-respecting execution order (stable for ties —
    * registration order, mirroring sp_makefile's file order).
    */
  def topoOrder: Seq[String] = {
    val order = mutable.ArrayBuffer.empty[String]
    val seen = mutable.Set.empty[String]
    def visit(n: String, path: List[String]): Unit = {
      require(!path.contains(n), s"stage cycle: ${(n :: path).reverse.mkString(" → ")}")
      if (!seen(n)) {
        val s = stages.getOrElse(n, throw new NoSuchElementException(
          s"stage $n (dependency of ${path.headOption.getOrElse("?")}) not registered"))
        s.dependsOn.foreach(visit(_, n :: path))
        seen += n
        order += n
      }
    }
    stages.keys.foreach(visit(_, Nil))
    order.toSeq
  }

  /** Run every stage; returns name → materialized result. Each output
    * is registered as a temp view so report SQL (E3) and later stages
    * see it by name.
    */
  def run(spark: SparkSession): Map[String, DataFrame] = {
    val done = mutable.LinkedHashMap.empty[String, DataFrame]
    topoOrder.foreach { name =>
      val out = stages(name).build(spark, done.toMap)
      out.createOrReplaceTempView(name)
      done += name -> out
    }
    done.toMap
  }
}

/** Driver-side recurring runner — the Spark equivalent of the MySQL
  * EVENT firing sp_mamba_etl_schedule every etl_interval seconds
  * (reference mamba_main.sql:11-14, README.md:139-140; SURVEY §2.7
  * T1). A plain loop, not Structured Streaming: the reference's
  * cadence semantics are "run the tick every N seconds", and the tick
  * ([[graft.examples.MambaEtlJob.scheduledTick]]) keeps its own
  * bookmark (T3) between firings. `maxTicks` bounds test runs;
  * production passes Int.MaxValue.
  */
final class EtlScheduler(
    tick: () => Unit,
    config: EtlConfig,
    sleep: Long => Unit = Thread.sleep) {

  /** Run up to `maxTicks` ticks. A failing tick does NOT kill the
    * loop — the reference's MySQL EVENT fires on schedule regardless
    * of the previous run's outcome, and a transient source hiccup
    * must not silently stop all future ETL. `onError` observes each
    * failure; after `maxConsecutiveFailures` in a row the loop gives
    * up and rethrows (a permanently broken pipeline should page
    * someone, not spin forever).
    *
    * @return number of SUCCESSFUL ticks
    */
  def runLoop(maxTicks: Int,
      onError: (Int, Throwable) => Unit = (_, _) => (),
      maxConsecutiveFailures: Int = 3): Int = {
    var ticks = 0
    var ok = 0
    var consecutiveFailures = 0
    while (ticks < maxTicks) {
      try {
        tick()
        ok += 1
        consecutiveFailures = 0
      } catch {
        case scala.util.control.NonFatal(e) =>
          consecutiveFailures += 1
          onError(ticks, e)
          if (consecutiveFailures >= maxConsecutiveFailures) throw e
      }
      ticks += 1
      if (ticks < maxTicks) sleep(config.etlIntervalSeconds * 1000L)
    }
    ok
  }
}
