package etlbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.examples.MambaEtlJob
import graft.model.EtlConfig
import graft.reports.{MySqlDialect, ReportHttpServer, ReportRegistry}

/** JVM half of the benchmark: drives one workload through the engine's
  * public entry points and writes the raw record (op windows, counters,
  * traced events, served bodies) to `<run>/result.json`. All statistics
  * and correctness checks are made from that record by run.py.
  *
  * Usage: Harness workload=<name> run=<dir> cpus=<n> trace=<0|1> ...
  */
object Harness {

  final case class Op(key: String, dueMs: Double, startMs: Double, endMs: Double,
      ok: Boolean, err: String, parts: Map[String, Double] = Map.empty,
      counters: Map[String, Double] = Map.empty)

  def main(args: Array[String]): Unit = {
    val mainMs = Clock.nowMs
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val trace = conf("trace") == "1"
    val run = Paths.get(conf("run"))
    val spark = graft.GraftSession.local(conf("cpus").toInt)
    val tracer = Tracer.install(spark, detailed = trace)
    val out = mutable.LinkedHashMap[String, Any]("t_main_ms" -> mainMs)
    val ops = conf("workload") match {
      case "etl_ticks" => etlTicks(spark, conf, trace, out)
      case "report_serve" => reportServe(spark, conf, trace, out)
    }
    out("ops") = ops.map { o =>
      Map("key" -> o.key, "due_ms" -> o.dueMs, "start_ms" -> o.startMs,
        "end_ms" -> o.endMs, "ok" -> o.ok, "err" -> o.err, "parts" -> o.parts,
        "counters" -> o.counters)
    }
    org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
    out("events") = tracer.events.asScala.toSeq
    Files.writeString(run.resolve("result.json"), Json.render(out))
    spark.stop()
    sys.exit(0)
  }

  /** Brackets the timed region: counters before, counters and live
    * heap after, and the task time of the stages that ran inside it.
    */
  private def timed[T](spark: SparkSession, out: mutable.Map[String, Any])(body: => T): T = {
    val task0 = Tracer.taskMs.get
    out("before") = Counters.snapshot()
    val r = body
    out("after") = Counters.snapshot()
    out("heap_live_mb") = Counters.heapLiveMb(spark)
    // heapLiveMb drained the listener bus: every stage of the region is in
    out("task_ms") = Tracer.taskMs.get - task0
    r
  }

  /** Run one op; a closed-loop op (`due` None) is due when it starts. */
  private def attempt(key: String, due: Option[Double], trace: Boolean)(
      body: => Map[String, Double]): Op = {
    val c0 = if (trace) Counters.snapshot() else Map.empty[String, Double]
    val t0 = Clock.nowMs
    val (ok, err, parts) =
      try (true, "", body)
      catch { case e: Throwable => (false, String.valueOf(e.getMessage), Map.empty[String, Double]) }
    val t1 = Clock.nowMs
    val counters =
      if (trace) { val c1 = Counters.snapshot(); c1.map { case (k, v) => k -> (v - c0(k)) } }
      else Map.empty[String, Double]
    Op(key, due.getOrElse(t0), t0, t1, ok, err, parts, counters)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum

  /** A snapshot's source tables. Given `like`, an earlier snapshot's
    * tables, they are read with its schemas: that skips the job per
    * table that infers a schema from the file footers.
    */
  private def sources(spark: SparkSession, snap: String,
      like: Option[MambaEtlJob.Sources] = None): MambaEtlJob.Sources = {
    def t(n: String, of: MambaEtlJob.Sources => DataFrame): DataFrame =
      like.fold(spark.read)(l => spark.read.schema(of(l).schema)).parquet(s"$snap/$n.parquet")
    MambaEtlJob.Sources(t("person", _.person), t("encounter_type", _.encounterType),
      t("encounter", _.encounter), t("concept", _.concept), t("obs", _.obs))
  }

  private def install(spark: SparkSession, conf: Map[String, String],
      store: String, out: mutable.Map[String, Any]): Seq[Int] = {
    val types = conf("types").split(",").map(_.toInt).toSeq
    val t0 = Clock.nowMs
    MambaEtlJob.runPersisted(spark, EtlConfig(conf("snaps"), store),
      sources(spark, s"${conf("snaps")}/snap_000"), types, store)
    out("install_s") = (Clock.nowMs - t0) / 1000.0
    types
  }

  // ---------------------------------------------------------------- etl_ticks

  /** Install at snapshot 0, then one op per landed delta: a scheduled
    * tick (`tickPersisted`) for every flattened encounter type. The
    * first `warm` ticks are run untimed.
    */
  private def etlTicks(spark: SparkSession, conf: Map[String, String], trace: Boolean,
      out: mutable.Map[String, Any]): Seq[Op] = {
    val snaps = conf("snaps")
    val store = conf("store")
    val warm = conf("warm").toInt
    val n = conf("ops").toInt
    val types = install(spark, conf, store, out)
    val cfg = EtlConfig(snaps, store)
    // landing delta k = reading snapshot k's files; untimed
    def tick(k: Int, src: MambaEtlJob.Sources): Map[String, Double] = {
      // the previous tick's timestamp (gen.tick_time): delta k is newer
      val bookmark = java.sql.Timestamp.from(
        java.time.Instant.parse("2025-01-01T00:00:00Z").plusSeconds(3600L * (k - 1)))
      types.map { et =>
        val t0 = Clock.nowMs
        MambaEtlJob.tickPersisted(spark, cfg, src, et, store, Some(bookmark))
        s"tick_type_$et" -> (Clock.nowMs - t0)
      }.toMap
    }
    val snap0 = sources(spark, s"$snaps/snap_000")
    def snapshot(k: Int) = sources(spark, f"$snaps/snap_$k%03d", Some(snap0))
    (1 to warm).foreach(k => tick(k, snapshot(k)))
    // the landing windows are in the timed region but in no op: the
    // ledger's reconciliation accounts for the Spark work they do
    val landing = mutable.ArrayBuffer[Seq[Double]]()
    val ops = timed(spark, out) {
      (warm + 1 to warm + n).map { k =>
        val l0 = Clock.nowMs
        val src = snapshot(k)
        landing += Seq(l0, Clock.nowMs)
        attempt(s"tick_$k", None, trace)(tick(k, src))
      }
    }
    out("untimed") = landing.toSeq
    out("store_bytes") = dirBytes(Paths.get(store))
    ops
  }

  // ------------------------------------------------------------- report_serve

  private final case class Req(dueOffMs: Double, key: String, query: String)

  /** Run `f(0)` .. `f(n - 1)` on `clients` threads, each taking the
    * next index as it becomes free.
    */
  private def workers(n: Int, clients: Int)(f: Int => Unit): Unit = {
    val next = new AtomicInteger(0)
    val threads = (1 to clients).map { _ =>
      val th = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n) { f(i); i = next.getAndIncrement() }
      })
      th.start(); th
    }
    threads.foreach(_.join())
  }

  private def readRequests(path: String): Seq[Req] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map { l =>
      val Array(off, key, q) = l.split("\t", 3)
      Req(off.toDouble, key, q)
    }.toSeq

  /** Serve the three MambaETL reports over an installed store through
    * `ReportHttpServer`, from an open-loop schedule (due offsets from
    * the request file) worked by at most `clients` threads.
    */
  private def reportServe(spark: SparkSession, conf: Map[String, String], trace: Boolean,
      out: mutable.Map[String, Any]): Seq[Op] = {
    val store = conf("store")
    install(spark, conf, store, out)
    Files.list(Paths.get(store)).iterator().asScala.foreach { p =>
      graft.sources.AnalysisStore.read(spark, p.toString)
        .createOrReplaceTempView(p.getFileName.toString)
    }
    val json = Files.readString(Paths.get(conf("reports")))
    val registry = ReportRegistry.fromJson(json)
    val server = new ReportHttpServer(spark, registry).start()
    val client = HttpClient.newHttpClient()
    val base = s"http://127.0.0.1:${server.boundPort}/ws/rest/v1/mamba/report?"
    def get(q: String): (Int, String) = {
      val r = client.send(HttpRequest.newBuilder(URI.create(base + q)).GET().build(),
        HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
      (r.statusCode, r.body)
    }
    // warm-up: one client over requests the timed schedule does not
    // contain (four clients with a pause after them measured no
    // steadier, and a concurrent warm-up without the pause left a JIT
    // backlog that spilled into the timed region)
    readRequests(conf("warmup")).foreach(r => get(r.query))

    val reqs = readRequests(conf("requests")).toArray
    val bodies = new java.util.concurrent.ConcurrentHashMap[String, String]
    val ops = new Array[Op](reqs.length)
    timed(spark, out) {
      val t0 = Clock.nowMs + 50
      workers(reqs.length, conf("clients").toInt) { i =>
        val r = reqs(i)
        val due = t0 + r.dueOffMs
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        ops(i) = attempt(r.key, Some(due), trace) {
          val (status, body) = get(r.query)
          // the store is static: every answer to a request must
          // equal the first one served
          val first = bodies.putIfAbsent(r.key, body)
          require(status == 200, s"HTTP $status: $body")
          require(first == null || first == body, s"answer changed for ${r.key}")
          Map.empty
        }
      }
    }
    server.stop()
    out("responses") = bodies.asScala.toMap
    out("store_bytes") = dirBytes(Paths.get(store))
    if (trace) out("translate_ms") = reqs.map { r =>
      val d = registry.get(r.key.takeWhile(_ != '?'))
      val t0 = System.nanoTime()
      MySqlDialect.translate(d.sqlQuery, d.params.map(_.name))
      (System.nanoTime() - t0) / 1e6
    }.sum
    ops.toSeq
  }
}
