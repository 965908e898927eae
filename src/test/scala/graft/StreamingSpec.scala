package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventsStreaming

/** Tick-shaped twins (SURVEY §2.7): the same transform over a
  * MemoryStream must equal the batch result once the watermark closes
  * the windows, and a fold over persisted per-user state must equal
  * the one-shot batch operator across tick boundaries.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

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

  test("funnelTickBatch: per-step advancements across ticks match batch Funnel counts") {
    import graft.operators.Funnel
    import graft.streaming.EventsStreaming.{FunnelEvent, FunnelUserState}
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
    val steps = Seq("signup", "click", "purchase")
    def tick(rows: Seq[(Long, Timestamp, String)]) =
      rows.toDF("user_id", "ts", "event_type").as[FunnelEvent]
    // split MID-funnel: the persisted state must carry progress
    // across the tick boundary
    val o1 = EventsStreaming.funnelTickBatch(
      spark.emptyDataset[FunnelUserState], tick(evRows.take(4)), steps,
      Some(14)).localCheckpoint(true)
    val o2 = EventsStreaming.funnelTickBatch(
      o1.map(_.state), tick(evRows.drop(4)), steps, Some(14))
      .localCheckpoint(true)
    val adv = (o1.flatMap(_.advances) union o2.flatMap(_.advances))
      .collect().map(a => (a.user_id, a.step_idx, a.step, a.ts)).toSet
    // u2's out-of-order purchase and u3's late click never advance
    assert(adv == Set(
      (1L, 1, "signup", ts("2024-01-01 10:00:00")),
      (1L, 2, "click", ts("2024-01-02 10:00:00")),
      (1L, 3, "purchase", ts("2024-01-03 10:00:00")),
      (2L, 1, "signup", ts("2024-01-01 10:00:00")),
      (2L, 2, "click", ts("2024-01-02 10:00:00")),
      (3L, 1, "signup", ts("2024-01-01 10:00:00"))))
    // advancement counts per step == batch conversion counts
    val batch = Funnel.conversion(
      evRows.toDF("user_id", "ts", "event_type"), "user_id", "ts",
      "event_type", steps, Some(14))
      .select("step_idx", "n_users").as[(Int, Long)].collect().toMap
    assert(batch == Map(1 -> 3L, 2 -> 2L, 3 -> 1L))
    assert(adv.groupBy(_._2).map { case (k, v) => k -> v.size.toLong } == batch)
    // the closed state records each user's depth
    val depth = o2.map(_.state).collect()
      .map(st => st.user_id -> st.step).toMap
    assert(depth == Map(1L -> 3, 2L -> 2, 3L -> 1))
  }

  test("sessionTickBatch: fold ∪ open tail equals batch sessions") {
    import graft.operators.Sessionize
    import graft.streaming.EventsStreaming.{SessionEvent, SessionRow, SessionUserState}
    // u1: 10:00+10:20 (one session), 11:30+11:40 (a second, split
    // ACROSS ticks so state must carry the open session); u2: one
    // event; u3: two same-timestamp events (tie broken by event_id);
    // u4: an event 30 min 0.9 s after its session's end, inside the
    // last mergeable second (the gap compares whole seconds)
    val evRows = Seq(
      (1L, ts("2024-01-01 10:00:00"), 1L),
      (1L, ts("2024-01-01 10:20:00"), 2L),
      (2L, ts("2024-01-01 10:05:00"), 3L),
      (3L, ts("2024-01-01 09:00:00"), 5L),
      (3L, ts("2024-01-01 09:00:00"), 4L),
      (4L, ts("2024-01-01 10:00:00"), 8L),
      (4L, ts("2024-01-01 10:10:00"), 9L),
      // tick 2
      (1L, ts("2024-01-01 11:30:00"), 6L),
      (1L, ts("2024-01-01 11:40:00"), 7L),
      (4L, ts("2024-01-01 10:40:00.9"), 10L))
    val expected = Set(
      (1L, 1L, 2L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:20:00")),
      (1L, 2L, 2L, ts("2024-01-01 11:30:00"), ts("2024-01-01 11:40:00")),
      (2L, 1L, 1L, ts("2024-01-01 10:05:00"), ts("2024-01-01 10:05:00")),
      (3L, 1L, 2L, ts("2024-01-01 09:00:00"), ts("2024-01-01 09:00:00")),
      (4L, 1L, 3L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:40:00.9")))
    val batch = Sessionize.sessions(
        evRows.toDF("user_id", "ts", "event_id"))
      .as[(Long, Long, Long, Timestamp, Timestamp)].collect().toSet
    assert(batch == expected)
    def tick(rows: Seq[(Long, Timestamp, Long)]) =
      rows.toDF("user_id", "ts", "event_id").as[SessionEvent]
    val o1 = EventsStreaming.sessionTickBatch(
      spark.emptyDataset[SessionUserState], tick(evRows.take(7)))
      .localCheckpoint(true)
    val o2 = EventsStreaming.sessionTickBatch(
      o1.map(_.state), tick(evRows.drop(7))).localCheckpoint(true)
    def rowsOf(rs: Seq[SessionRow]) = rs.map(r => (r.user_id,
      r.session_id, r.n_events, r.session_start, r.session_end)).toSet
    // a session closes only when a later event breaks the gap: tick 1
    // closes none, tick 2 exactly u1's first session
    assert(o1.flatMap(_.closed).collect().isEmpty)
    val closed = rowsOf(o2.flatMap(_.closed).collect().toSeq)
    assert(closed == expected.filter(r => r._1 == 1L && r._2 == 1L))
    // closed ∪ flushed open state is the one-shot batch result exactly
    val open = o2.map(_.state).collect().map(st => SessionRow(
      st.user_id, st.session_id, st.n,
      EventsStreaming.microsToTs(st.startUs),
      EventsStreaming.microsToTs(st.endUs)))
    assert(closed ++ rowsOf(open.toSeq) == expected)
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
}
