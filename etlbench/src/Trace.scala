package etlbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same scale as Spark listener event times (currentTimeMillis).
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Minimal JSON rendering for the harness's raw record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case a: Array[_] => render(a.toSeq)
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Process-level counters read at the boundaries of a timed region:
  * JVM MXBeans, Spark's codegen counters and the host's /proc/stat.
  */
object Counters {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def procStat: (Long, Long) = {
    val lines = scala.io.Source.fromFile("/proc/stat").getLines().toList
    val cpu = lines.find(_.startsWith("cpu ")).map(_.trim.split("\\s+")).get
    val steal = if (cpu.length > 8) cpu(8).toLong else 0L
    val procs = lines.find(_.startsWith("processes ")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)
    (steal, procs)
  }

  def snapshot(): Map[String, Double] = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble
    val (steal, procs) = procStat
    Map(
      "t_ms" -> Clock.nowMs,
      "cpu_ms" -> os.getProcessCpuTime / 1e6,
      "gc_ms" -> gcMs,
      "jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "compile_ms" -> org.apache.spark.sql.catalyst.expressions.codegen
        .CodeGenerator.compileTime / 1e6,
      "compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "steal_jiffies" -> steal.toDouble,
      "procs" -> procs.toDouble)
  }

  /** Live heap after a full collection, once queued listener events
    * are processed and Spark's cleaner has released what the first
    * collection made unreachable.
    */
  def heapLiveMb(spark: org.apache.spark.sql.SparkSession): Double = {
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Outside-in event recorder: Spark scheduler events and SQL execution
  * boundaries with, per execution, Catalyst's planning phases and
  * write-command metrics. Summed task time is always kept (the host
  * noise fingerprint compares it with process CPU); per-event records
  * only when `detailed`.
  */
final class Tracer(detailed: Boolean) extends SparkListener {
  val events = new ConcurrentLinkedQueue[Map[String, Any]]

  private def add(m: Map[String, Any]): Unit = if (detailed) events.add(m)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    add(Map("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time,
      "stages" -> e.stageIds, "exec" -> exec.map(_.toLong),
      "site" -> result.map(_.name).getOrElse(""),
      "details" -> result.map(r => stack(r.details)).getOrElse("")))
  }

  /** The caller frames of a long-form call site, engine frames first
    * (Spark's own and JDK frames dropped).
    */
  private def stack(longForm: String): String =
    longForm.linesIterator.filter(_.startsWith("graft.")).take(6).mkString("\n")

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    add(Map("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val m = e.stageInfo.taskMetrics
    if (m != null) Tracer.taskMs.addAndGet(m.executorRunTime)
    if (m != null) add(Map("ev" -> "stage", "stage" -> e.stageInfo.stageId,
      "tasks" -> e.stageInfo.numTasks, "run_ms" -> m.executorRunTime,
      "cpu_ms" -> m.executorCpuTime / 1e6,
      "in_bytes" -> m.inputMetrics.bytesRead,
      "shuf_r" -> m.shuffleReadMetrics.totalBytesRead,
      "shuf_w" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      add(Map("ev" -> "sql_start", "exec" -> s.executionId, "t" -> s.time,
        "site" -> s.description, "details" -> stack(s.details)))
    case s: SparkListenerSQLExecutionEnd if detailed =>
      // the event carries its QueryExecution, but the accessor is
      // private[sql] to Scala code outside Spark
      val qe = s.getClass.getMethod("qe").invoke(s).asInstanceOf[QueryExecution]
      add(Map("ev" -> "sql_end", "exec" -> s.executionId, "t" -> s.time) ++
        Option(qe).map(query).getOrElse(Map.empty))
    case _ =>
  }

  /** Catalyst's planning phases and, for a write command, the files
    * and bytes it wrote.
    */
  private def query(qe: QueryExecution): Map[String, Any] = {
    val phases = qe.tracker.phases.map { case (name, p) =>
      name -> Seq(p.startTimeMs, p.endTimeMs)
    }
    var files = 0L
    var bytes = 0L
    qe.executedPlan.foreach {
      case w: org.apache.spark.sql.execution.command.DataWritingCommandExec =>
        w.metrics.get("numFiles").foreach(files += _.value)
        w.metrics.get("numOutputBytes").foreach(bytes += _.value)
      case _ =>
    }
    Map("phases" -> phases, "files" -> files, "bytes" -> bytes)
  }
}

object Tracer {
  /** Summed task run time of every completed stage. */
  val taskMs = new java.util.concurrent.atomic.AtomicLong

  def install(spark: org.apache.spark.sql.SparkSession, detailed: Boolean): Tracer = {
    val t = new Tracer(detailed)
    spark.sparkContext.addSparkListener(t)
    t
  }
}
