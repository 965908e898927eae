package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventsStreaming

/** Structured-Streaming twins (SURVEY §2.7): the same transform over
  * a MemoryStream must equal the batch result once the watermark
  * closes the windows; mapGroupsWithState keeps per-user running
  * state across micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
    (2L, ts("2024-01-01 10:45:00"), 1L, "click", 2.0),
    (3L, ts("2024-01-01 11:05:00"), 2L, "view", 4.0),
    (4L, ts("2024-01-01 12:10:00"), 2L, "view", 8.0),
    // late enough to advance the watermark past every window above
    (5L, ts("2024-01-01 23:00:00"), 3L, "tick", 0.0))

  test("streaming tumblingCounts == batch q13 shape once windows close") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.tumblingCounts(events, "1 hour", "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("tumb").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData((6L, ts("2024-01-02 12:00:00"), 3L, "tick", 0.0)) // push watermark
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("tumb")
      .filter(col("event_type").isin("click", "view"))
    val expected = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .filter(col("event_type").isin("click", "view"))
    assertSameRows(streamed, expected)
  }

  test("streaming sessionWindows groups by gap per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.sessionWindows(events, "30 minutes", "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("sess").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    mem.addData((6L, ts("2024-01-02 12:00:00"), 3L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sess").filter(col("user_id") <= 2)
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq.sorted
    // user 1: 10:05 → 10:45 gap is 40min > 30min → two sessions of 1
    // user 2: 11:05 → 12:10 gap 65min → two sessions of 1
    assert(out == Seq((1L, 1L), (1L, 1L), (2L, 1L), (2L, 1L)))
  }

  test("stream-stream interval join == the equivalent batch join") {
    implicit val sqlCtx = spark.sqlContext
    val clickRows = Seq(
      (10L, ts("2024-01-01 10:20:00"), 1L, "click", 0.0),
      (11L, ts("2024-01-01 10:40:00"), 2L, "click", 0.0))
    val viewRows = Seq(
      (20L, ts("2024-01-01 10:15:00"), 1L, "view", 0.0), // within 10 min of click 10
      (21L, ts("2024-01-01 10:05:00"), 1L, "view", 0.0), // too old for click 10
      (22L, ts("2024-01-01 10:39:00"), 2L, "view", 0.0), // within for click 11
      (23L, ts("2024-01-01 10:41:00"), 2L, "view", 0.0)) // after the click — no
    val lateC = (98L, ts("2024-01-02 00:00:00"), 8L, "tick", 0.0)
    val lateV = (99L, ts("2024-01-02 00:00:00"), 9L, "tick", 0.0)

    val memC = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val memV = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def named(df: org.apache.spark.sql.DataFrame) =
      df.toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.clickViewAttribution(
      named(memC.toDF()), named(memV.toDF()), "10 minutes", "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("attr").start()
    memC.addData(clickRows: _*); memV.addData(viewRows: _*)
    q.processAllAvailable()
    memC.addData(lateC); memV.addData(lateV) // advance both watermarks
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("attr")
      .select("click_id", "view_id").as[(Long, Long)].collect().toSet
    // batch twin: plain interval join over the same rows
    assert(streamed == Set((10L, 20L), (11L, 22L)), s"got $streamed")
  }

  test("dedupEvents drops within-watermark duplicates across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val q = EventsStreaming.dedupEvents(events, "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("dedup").start()
    mem.addData(rows: _*)
    q.processAllAvailable()
    // replay event 1 (same id, an at-least-once redelivery) plus one
    // genuinely new event — only the new one must survive
    mem.addData(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 1.0),
      (9L, ts("2024-01-01 23:30:00"), 3L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup").select("event_id")
      .as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L, 4L, 5L, 9L), s"got $ids")
  }

  test("runningUserStats accumulates per-user state across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[EventsStreaming.UserEvent]
    val q = EventsStreaming.runningUserStats(mem.toDS())
      .writeStream.outputMode("update").format("memory").queryName("stats").start()
    mem.addData(EventsStreaming.UserEvent(1L, 1.5), EventsStreaming.UserEvent(1L, 2.5))
    q.processAllAvailable()
    mem.addData(EventsStreaming.UserEvent(1L, 4.0), EventsStreaming.UserEvent(2L, 10.0))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("stats")
      .groupBy("user_id").agg(max("n_events").as("n"), max("total_value").as("v"))
      .as[(Long, Long, Double)].collect()
      .map { case (k, n, v) => k -> ((n, v)) }.toMap
    assert(last(1L) == ((3L, 8.0)))
    assert(last(2L) == ((1L, 10.0)))
  }

  test("stateless curation gate (quality + repetition) streams with batch parity") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val looping = ("the spam " * 40).trim
    val normal = "the quick brown fox jumps over the lazy dog and then " +
      "walks across a quiet field toward the distant river bank today"
    def gate(docs: org.apache.spark.sql.DataFrame) =
      TextAnalysis.withRepetitionSignals(
          TextAnalysis.qualityFeatures(docs), "text")
        .filter(col("is_quality") &&
          col("dup2_n") * lit(1000000L) <=
            lit(500000L) * greatest(col("word_count") - 1L, lit(1L)))
        .select("doc_id")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    // the whole stage-1 gate is narrow/stateless, so the SAME code
    // runs on a stream with no watermark or state store at all
    val q = gate(docs).writeStream.outputMode("append")
      .format("memory").queryName("gate").start()
    mem.addData((1L, looping), (2L, normal), (3L, "too short"))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gate").as[Long].collect().toSet
    val batch = gate(Seq((1L, looping), (2L, normal), (3L, "too short"))
      .toDF("doc_id", "text")).as[Long].collect().toSet
    assert(streamed == batch)
    assert(streamed == Set(2L),
      "repetition gates doc 1, quality gates doc 3, doc 2 ships")
  }

  test("redaction + chunking stream with batch parity (narrow ops)") {
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val doc = "ping admin@site.io then " + ("alpha beta gamma " * 20).trim
    def prep(docs: org.apache.spark.sql.DataFrame) =
      TextAnalysis.chunk(
        docs.withColumn("text", TextAnalysis.redactPii(col("text"))),
        "doc_id", "text", chunkSize = 16, stride = 16)
    val mem = MemoryStream[(Long, String)]
    val q = prep(mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("prep").start()
    mem.addData((1L, doc), (2L, ""))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("prep")
      .as[(Long, Int, String, Int)].collect().toSet
    val batch = prep(Seq((1L, doc), (2L, "")).toDF("doc_id", "text"))
      .as[(Long, Int, String, Int)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
    assert(streamed.forall(!_._3.contains("admin@site.io")),
      "redaction must precede chunking in the stream too")
  }

  test("trendingValues: streaming MG sketch honors the superset + bound contract") {
    implicit val sqlCtx = spark.sqlContext
    // one window: hot×40, warm×15, 20 singletons — 22 distinct items
    // against k=5 counters, so the decrement path really runs
    val items = Seq.fill(40)("hot") ++ Seq.fill(15)("warm") ++
      (1 to 20).map(i => s"cold$i")
    val base = ts("2024-01-01 10:00:30").getTime
    val evRows = items.zipWithIndex.map { case (it, i) =>
      (i.toLong, new Timestamp(base + i * 1000L), 1L, it, 0.0)
    }
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventsStreaming.trendingValues(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        itemCol = "event_type", k = 5, windowLen = "1 hour",
        watermarkDelay = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("trend").start()
    mem.addData(evRows: _*)
    q.processAllAvailable()
    mem.addData((999L, ts("2024-01-02 23:00:00"), 1L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("trend")
      .filter(col("ws") === ts("2024-01-01 10:00:00"))
      .select("item", "est", "n_total")
      .as[(String, Long, Long)].collect()
    val n = items.size.toLong
    assert(out.forall(_._3 == n), "window total is exact")
    val cands = out.map(_._1).toSet
    // superset guarantee: every item above n/(k+1) must survive
    assert(cands.contains("hot") && cands.contains("warm"),
      s"true heavy items must be candidates, got $cands")
    assert(out.length <= 5, "never more than k counters per window")
    // lower-bound contract: est <= true <= est + n/(k+1)
    val slack = n / 6
    val truth = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
    out.foreach { case (item, est, _) =>
      val t = truth(item)
      assert(est <= t && t <= est + slack,
        s"$item: est=$est true=$t slack=$slack")
    }
  }

  test("uniqueUserSketches: closed-window HLL rows roll up to the batch answer") {
    implicit val sqlCtx = spark.sqlContext
    // two windows of clicks with overlapping users (u1 in both), one view
    val evRows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-01 10:10:00"), 2L, "click", 0.0),
      (3L, ts("2024-01-01 10:20:00"), 1L, "click", 0.0), // dup user in-window
      (4L, ts("2024-01-01 11:05:00"), 1L, "click", 0.0), // u1 again, next window
      (5L, ts("2024-01-01 11:10:00"), 3L, "click", 0.0),
      (6L, ts("2024-01-01 11:15:00"), 4L, "view", 0.0))
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventsStreaming.uniqueUserSketches(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        windowLen = "1 hour", watermarkDelay = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("usk").start()
    // split across micro-batches mid-window: partial sketches must merge
    mem.addData(evRows.take(2): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(2): _*)
    q.processAllAvailable()
    mem.addData((99L, ts("2024-01-02 23:00:00"), 9L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    // the emitted rows ARE SketchState state rows at (event_type, ws)
    // grain: roll up to event_type and compare against the batch exact
    // distinct (sparse-mode HLL is exact at this cardinality)
    val state = spark.table("usk").filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("ws"), col("sketch"), col("n_rows"))
    val rolled = graft.operators.SketchState.estimateRollup(state, Seq("event_type"))
      .select(col("event_type"), col("approx_distinct").cast("long"), col("n_rows"))
    // click: users {1,2,3} over 5 events; view: {4} over 1
    assertSameRows(rolled, Seq(("click", 3L, 5L), ("view", 1L, 1L)).toDF())
  }

  test("freqSketchWindows: closed-window CMS cells answer point queries") {
    implicit val sqlCtx = spark.sqlContext
    // u1 ×3 across two windows, u2 ×2 in one, u3 ×1
    val evRows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-01 10:10:00"), 2L, "click", 0.0),
      (3L, ts("2024-01-01 10:20:00"), 1L, "click", 0.0),
      (4L, ts("2024-01-01 11:05:00"), 1L, "click", 0.0),
      (5L, ts("2024-01-01 11:10:00"), 2L, "click", 0.0),
      (6L, ts("2024-01-01 11:15:00"), 3L, "view", 0.0))
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventsStreaming.freqSketchWindows(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        windowLen = "1 hour", watermarkDelay = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("cmsw").start()
    // split mid-window: partial cell counts must merge in state
    mem.addData(evRows.take(2): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(2): _*)
    q.processAllAvailable()
    mem.addData((99L, ts("2024-01-02 23:00:00"), 9L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    // emitted rows ARE CMS state rows at window grain: estimates over
    // the two closed windows equal the exact per-user counts (few
    // keys at width 512 — collisions can't matter)
    val state = spark.table("cmsw")
      .filter(col("ws") < ts("2024-01-01 12:00:00"))
    val est = graft.operators.SketchState.estimateFreq(
      state, Seq("1", "2", "3", "404").toDF("user_id"), "user_id")
    assertSameRows(est,
      Seq(("1", 3L), ("2", 2L), ("3", 1L), ("404", 0L)).toDF())
    // ...and the batch rebuild over the same rows is cell-identical
    val batch = graft.operators.SketchState.freqSketches(
      evRows.take(6).toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(window(col("ts"), "1 hour")("start").as("ws"),
          col("user_id")),
      Seq("ws"), "user_id")
    assertSameRows(state.select("ws", "cm_row", "cm_bucket", "cnt"), batch)
  }

  test("funnelTicks: per-step advancements across batches match batch Funnel counts") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Funnel
    // FunnelSpec's planted users: u1 full convert, u2 order
    // violation at purchase, u3 click outside the 14-day window
    val evRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), "signup"),
      (2L, ts("2024-01-01 10:00:00"), "signup"),
      (3L, ts("2024-01-01 10:00:00"), "signup"),
      (1L, ts("2024-01-02 10:00:00"), "click"),
      (2L, ts("2024-01-02 09:00:00"), "purchase"),
      (2L, ts("2024-01-02 10:00:00"), "click"),
      (1L, ts("2024-01-03 10:00:00"), "purchase"),
      (3L, ts("2024-01-20 10:00:00"), "click"))
    val mem = MemoryStream[(Long, Timestamp, String)]
    val q = EventsStreaming.funnelTicks(
        mem.toDF().toDF("user_id", "ts", "event_type")
          .as[EventsStreaming.FunnelEvent],
        Seq("signup", "click", "purchase"), withinDays = Some(14))
      .writeStream.outputMode("append").format("memory")
      .queryName("funnelw").start()
    // split MID-funnel: state must carry progress across batches
    mem.addData(evRows.take(4): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(4): _*)
    q.processAllAvailable()
    q.stop()
    val adv = spark.table("funnelw")
      .as[(Long, Int, String, Timestamp)].collect()
    // u2's out-of-order purchase and u3's late click never advance
    assert(adv.map(a => (a._1, a._2)).toSet ==
      Set((1L, 1), (1L, 2), (1L, 3), (2L, 1), (2L, 2), (3L, 1)))
    // streaming advancement counts per step == batch conversion counts
    val streamCounts = adv.groupBy(_._2).view.mapValues(_.length).toMap
    val batch = Funnel.conversion(
      evRows.toDF("user_id", "ts", "event_type"), "user_id", "ts",
      "event_type", Seq("signup", "click", "purchase"), Some(14))
      .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
    assert(batch == Map(1 -> 3L, 2 -> 2L, 3 -> 1L))
    assert(streamCounts.map { case (k, v) => k -> v.toLong } == batch)

    // persisted-state batch fold over the SAME tick split emits the
    // identical advancement rows (the funnelTickBatch twin) and its
    // closed state records each user's depth
    val steps = Seq("signup", "click", "purchase")
    val t1 = evRows.take(4).toDF("user_id", "ts", "event_type")
      .as[EventsStreaming.FunnelEvent]
    val t2 = evRows.drop(4).toDF("user_id", "ts", "event_type")
      .as[EventsStreaming.FunnelEvent]
    val o1 = EventsStreaming.funnelTickBatch(
      spark.emptyDataset[EventsStreaming.FunnelUserState], t1, steps,
      Some(14)).localCheckpoint(true)
    val o2 = EventsStreaming.funnelTickBatch(
      o1.map(_.state), t2, steps, Some(14)).localCheckpoint(true)
    val foldAdv = (o1.flatMap(_.advances) union o2.flatMap(_.advances))
      .collect().map(a => (a.user_id, a.step_idx, a.step, a.ts)).toSet
    assert(foldAdv == adv.map(a => (a._1, a._2, a._3, a._4)).toSet)
    val depth = o2.map(_.state).collect()
      .map(st => st.user_id -> st.step).toMap
    assert(depth == Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("sessionTicks + sessionTickBatch: fold ∪ open tail equals batch sessions") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Sessionize
    import graft.streaming.EventsStreaming.{SessionEvent, SessionRow, SessionUserState}
    // u1: 10:00+10:20 (one session), 11:30+11:40 (a second, split
    // ACROSS ticks so state must carry the open session); u2: one
    // event; u3: two same-timestamp events (tie broken by event_id)
    val evRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:20:00"), 2L),
      (2L, ts("2024-01-01 10:05:00"), 3L),
      (3L, ts("2024-01-01 09:00:00"), 5L),
      (3L, ts("2024-01-01 09:00:00"), 4L),
      // tick 2
      (1L, ts("2024-01-01 11:30:00"), 6L),
      (1L, ts("2024-01-01 11:40:00"), 7L))
    val batch = Sessionize.sessions(
        evRows.toDF("user_id", "ts", "event_id"))
      .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
    // streaming twin: emits a session only when a later event CLOSES it
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val q = EventsStreaming.sessionTicks(
        mem.toDF().toDF("user_id", "ts", "event_id").as[SessionEvent])
      .writeStream.outputMode("append").format("memory")
      .queryName("sessw").start()
    mem.addData(evRows.take(5): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(5): _*)
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("sessw")
      .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
    // exactly u1's first session closed; every open tail is withheld
    assert(closed == batch.filter(r => r._1 == 1L && r._2 == 1L))
    // persisted-state fold over the SAME split: closed ∪ flushed open
    // state is the one-shot batch result exactly
    def tick(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id").as[SessionEvent]
    val o1 = EventsStreaming.sessionTickBatch(
      spark.emptyDataset[SessionUserState], tick(evRows.take(5)))
      .localCheckpoint(true)
    val o2 = EventsStreaming.sessionTickBatch(
      o1.map(_.state), tick(evRows.drop(5))).localCheckpoint(true)
    val open = o2.map(_.state).collect().map(st => SessionRow(
      st.user_id, st.session_id, st.n,
      EventsStreaming.microsToTs(st.startUs),
      EventsStreaming.microsToTs(st.endUs)))
    val folded = ((o1.flatMap(_.closed) union o2.flatMap(_.closed))
      .collect() ++ open)
      .map(r => (r.user_id, r.session_id, r.n_events,
        r.session_start, r.session_end)).toSet
    assert(folded == batch)
    // u3's same-timestamp pair landed in ONE session of 2 events
    assert(folded.count(_._1 == 3L) == 1 &&
      folded.find(_._1 == 3L).get._3 == 2L)
  }

  test("sessionTicksFlushed: watermark-passed idle sessions emit and leave state") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventsStreaming.SessionEvent
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val q = EventsStreaming.sessionTicksFlushed(
        mem.toDF().toDF("user_id", "ts", "event_id").as[SessionEvent],
        gapSeconds = 1800L, delay = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessf").start()
    // u1's pair is one open session; u2 is a watermark mover
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L))
    q.processAllAvailable()
    assert(spark.table("sessf").count() == 0) // open: nothing emitted
    // push the watermark past 10:10 + 30min gap + 10min delay
    mem.addData((2L, ts("2024-01-01 12:00:00"), 3L))
    q.processAllAvailable()
    mem.addData((2L, ts("2024-01-01 12:00:01"), 4L)) // tick to fire timeout
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sessf")
      .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
    // u1's idle session flushed with its true bounds; u2 still open
    assert(rows == Set((1L, 1L, 2L,
      ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00"))))
  }

  test("sessionTicksFlushed: timeout covers the FULL last mergeable " +
      "second — a sub-second boundary event merges, never splits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventsStreaming.SessionEvent
    val mem = MemoryStream[(Long, Timestamp, Long)]
    val q = EventsStreaming.sessionTicksFlushed(
        mem.toDF().toDF("user_id", "ts", "event_id").as[SessionEvent],
        gapSeconds = 1800L, delay = "10 minutes")
      .writeStream.outputMode("append").format("memory")
      .queryName("sessb").start()
    mem.addData((1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:10:00"), 2L))
    q.processAllAvailable()
    // advanceSessions merges at second granularity: an event through
    // 10:40:00.999 still merges with end=10:10:00. Park the
    // watermark INSIDE that second (10:40:00.4) — arming the timeout
    // at raw end+gap (10:40:00.0) would flush and split here
    mem.addData((2L, Timestamp.valueOf("2024-01-01 10:50:00.4"), 3L))
    q.processAllAvailable()
    mem.addData((1L, Timestamp.valueOf("2024-01-01 10:40:00.9"), 4L))
    q.processAllAvailable()
    // now genuinely idle: push the watermark far past and tick twice
    mem.addData((2L, ts("2024-01-01 15:00:00"), 5L))
    q.processAllAvailable()
    mem.addData((2L, ts("2024-01-01 15:00:01"), 6L))
    q.processAllAvailable()
    q.stop()
    val u1 = spark.table("sessb")
      .as[(Long, Long, Long, Timestamp, Timestamp)].collect()
      .filter(_._1 == 1L)
    assert(u1.length == 1, s"boundary event split the session: ${u1.toSeq}")
    assert(u1.head._3 == 3L &&
      u1.head._5 == Timestamp.valueOf("2024-01-01 10:40:00.9"))
  }

  test("aggViewWindows: closed-window IVM views match the batch build and range-fold") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Incremental
    import graft.operators.Incremental.AggCol
    val specs = Seq(AggCol("cnt", "count", ""), AggCol("s", "sum", "vc"),
      AggCol("mn", "min", "vc"), AggCol("mx", "max", "vc"))
    val evRows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 7L),
      (2L, ts("2024-01-01 10:10:00"), 1L, "click", -2L),
      (3L, ts("2024-01-01 10:20:00"), 2L, "click", 5L),
      (4L, ts("2024-01-01 11:05:00"), 1L, "click", 9L))
    val mem = MemoryStream[(Long, Timestamp, Long, String, Long)]
    val q = EventsStreaming.aggViewWindows(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "vc"),
        Seq("user_id"), specs,
        windowLen = "1 hour", watermarkDelay = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("ivmw").start()
    // split MID-window: partial aggregates must merge in state
    mem.addData(evRows.take(1): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(1): _*)
    q.processAllAvailable()
    mem.addData((99L, ts("2024-01-02 23:00:00"), 9L, "tick", 0L))
    q.processAllAvailable()
    q.stop()
    val state = spark.table("ivmw")
      .filter(col("ws") < ts("2024-01-01 12:00:00"))
    val batch = Incremental.aggView(
      evRows.toDF("event_id", "ts", "user_id", "event_type", "vc")
        .select(window(col("ts"), "1 hour")("start").as("ws"),
          col("user_id"), col("vc")),
      Seq("ws", "user_id"), specs)
    assertSameRows(state, batch)
    // and the persisted-state range fold serves the 2-window range
    val folded = Incremental.foldAggViews(state, Seq("user_id"), specs)
    assertSameRows(folded,
      Seq((1L, 3L, 14L, -2L, 9L), (2L, 1L, 5L, 5L, 5L))
        .toDF("user_id", "cnt", "s", "mn", "mx"))
  }

  test("quantileSketchWindows: closed-window buckets answer quantiles") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = (1 to 100).map { i =>
      (i.toLong, ts(s"2024-01-01 10:${10 + i % 40}:00"), 1L, "m", i.toDouble)
    }
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventsStreaming.quantileSketchWindows(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        valueCol = "value", windowLen = "1 hour", watermarkDelay = "1 hour")
      .writeStream.outputMode("append").format("memory")
      .queryName("qsw").start()
    mem.addData(evRows.take(50): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(50): _*)
    q.processAllAvailable()
    mem.addData((999L, ts("2024-01-02 23:00:00"), 9L, "m", 0.0))
    q.processAllAvailable()
    q.stop()
    val state = spark.table("qsw")
      .filter(col("ws") < ts("2024-01-01 12:00:00"))
    val r = graft.operators.SketchState.quantileRollup(state, Seq("ws"))
      .head()
    // values 1..100: p50 true 50 (singleton/2-digit buckets exact),
    // p90 true 90, p99 true 99
    assert(r.getAs[Long]("n") == 100L)
    assert(r.getAs[Long]("p50") == 50L)
    assert(r.getAs[Long]("p90") == 90L)
    assert(r.getAs[Long]("p99") == 99L)
  }

  test("sampleSketchWindows: closed-window theta rows match the batch build; bottom-k reads recover") {
    implicit val sqlCtx = spark.sqlContext
    // 40 distinct users across two windows; θ=0.5 keeps ~half,
    // deterministically (fixed md5 keys)
    val evRows = (1 to 60).map { i =>
      (i.toLong, ts(s"2024-01-01 ${if (i % 2 == 0) 10 else 11}:${10 + i % 40}:00"),
        (i % 40).toLong, "click", 0.0)
    }
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val q = EventsStreaming.sampleSketchWindows(
        mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
        windowLen = "1 hour", watermarkDelay = "1 hour", theta = 0.5)
      .writeStream.outputMode("append").format("memory")
      .queryName("ssw").start()
    mem.addData(evRows.take(25): _*)
    q.processAllAvailable()
    mem.addData(evRows.drop(25): _*)
    q.processAllAvailable()
    mem.addData((999L, ts("2024-01-02 23:00:00"), 9L, "tick", 0.0))
    q.processAllAvailable()
    q.stop()
    val state = spark.table("ssw")
      .filter(col("ws") < ts("2024-01-01 12:00:00"))
    // parity: streamed closed-window rows ≡ the batch theta build
    val batch = graft.operators.SketchState.thetaSketches(
      evRows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(window(col("ts"), "1 hour")("start").as("ws"),
          col("user_id")),
      Seq("ws"), "user_id", theta = 0.5)
      .select("ws", "item", "hkey", "cnt")
    assertSameRows(state.select("ws", "item", "hkey", "cnt"), batch)
    // a bottom-k read from the θ-state is the TRUE bottom-k (enough
    // rows under θ), matching the unrestricted batch bottom-k sample
    val k = 5
    val got = graft.operators.SketchState.sampleFromTheta(state, Seq(), k)
    assert(got.select("complete").distinct().as[Boolean].collect().toSeq
      == Seq(true))
    val direct = graft.operators.SketchState.sampleSketches(
      evRows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .select(col("user_id")),
      Seq(), "user_id", k)
      .select("item", "hkey", "cnt")
    assertSameRows(got.select("item", "hkey", "cnt"), direct)
  }

  test("sketchStateTicks: persisted window sketches; replay is byte-stable") {
    implicit val sqlCtx = spark.sqlContext
    val evRows = Seq(
      (1L, ts("2024-01-01 10:05:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-01 10:10:00"), 2L, "click", 0.0),
      (3L, ts("2024-01-01 11:05:00"), 3L, "click", 0.0),
      (9L, ts("2024-01-02 23:00:00"), 9L, "tick", 0.0)) // closes windows
    val storePath = java.nio.file.Files.createTempDirectory("sketchstream")
      .resolve("sketches").toString
    def runOnce(): Unit = {
      val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val q = EventsStreaming.sketchStateTicks(
        EventsStreaming.uniqueUserSketches(
          mem.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"),
          windowLen = "1 hour", watermarkDelay = "1 hour"),
        storePath, interval = "0 seconds").start()
      try { mem.addData(evRows: _*); q.processAllAvailable() }
      finally q.stop()
    }
    runOnce()
    val state = spark.read.parquet(storePath)
      .filter(col("event_type") === "click")
    // two closed click windows, one sketch row each
    assert(state.count() == 2)
    val rolled = graft.operators.SketchState.estimateRollup(
        state, Seq("event_type"))
      .select(col("event_type"), col("approx_distinct").cast("long"),
        col("n_rows"))
    assertSameRows(rolled, Seq(("click", 3L, 3L)).toDF())
    // a fresh stream replaying the same windows replaces identical
    // rows — the store is value-stable, never double-counted
    val before = spark.read.parquet(storePath)
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSet
    runOnce()
    val after = spark.read.parquet(storePath)
      .collect().map(_.toSeq.map {
        case b: Array[Byte] => b.toSeq
        case x => x
      }).toSet
    assert(after == before)
    assertNoSwapLeftovers(storePath)
  }
}
