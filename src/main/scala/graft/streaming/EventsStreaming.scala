package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Tick-shaped twins of the batch event operators (SURVEY §2.7). The
  * reference's "streaming" is a polling MySQL EVENT (reference
  * api/src/main/resources/mamba/mamba_main.sql:1-14); here a tick is
  * either
  *  - a batch fold of one tick's events against PERSISTED per-user
  *    state ([[funnelTickBatch]], [[sessionTickBatch]]), so a
  *    scheduler can replay a tick-partitioned event log, or
  *  - a closed-window sketch producer ([[freqSketchWindows]],
  *    [[sampleSketchWindows]]) over an un-aggregated, possibly
  *    streaming, events frame with columns (event_id, ts timestamp,
  *    user_id, event_type, value); callers attach the sink/trigger.
  */
object EventsStreaming {

  /** One funnel event on the wire. */
  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)

  /** An emitted advancement: user reached `step_idx` at `ts`. */
  final case class FunnelAdvance(user_id: Long, step_idx: Int,
      step: String, ts: java.sql.Timestamp)

  /** Per-user funnel state AT REST: step reached, anchor time and
    * last advance time, the three-scalar row a tick fold persists
    * between runs.
    */
  final case class FunnelUserState(user_id: Long, step: Int,
      anchorMs: Long, prevMs: Long)

  /** The greedy per-user funnel update — the SINGLE definition of the
    * advance semantics, run per user by [[funnelTickBatch]]: state is
    * (step reached, anchor time, last advance time), advanced over the
    * events in event-time order. Greedy-in-order is EXACTLY the batch
    * [[graft.operators.Funnel.conversion]] semantics (the first step-1
    * event is min(t1); scanning forward, the first step-i event after
    * the step-(i−1) advance is the earliest qualifying one). Returns
    * (closed state, advancements emitted).
    */
  private[graft] def advanceFunnel(st0: FunnelUserState,
      events: Iterator[FunnelEvent], steps: Seq[String],
      deadlineMs: Option[Long]): (FunnelUserState, Seq[FunnelAdvance]) = {
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer[FunnelAdvance]()
    events.toSeq.sortBy(e => (e.ts.getTime, e.event_type)).foreach { e =>
      if (st.step < steps.size && e.event_type == steps(st.step)) {
        val t = e.ts.getTime
        val ordered = st.step == 0 || t > st.prevMs
        val inWindow = st.step == 0 ||
          deadlineMs.forall(d => t <= st.anchorMs + d)
        if (ordered && inWindow) {
          val anchor = if (st.step == 0) t else st.anchorMs
          st = st.copy(step = st.step + 1, anchorMs = anchor, prevMs = t)
          out += FunnelAdvance(e.user_id, st.step, steps(st.step - 1), e.ts)
        }
      }
    }
    (st, out.toSeq)
  }

  /** One tick's combined output: the user's closed state plus the
    * advancement rows emitted this tick — a single frame so the
    * cogroup below runs ONCE per fold step (callers checkpoint it and
    * project state/advances separately).
    */
  final case class FunnelTickOut(state: FunnelUserState,
      advances: Seq[FunnelAdvance])

  /** BATCH replay of one funnel tick against PERSISTED state, for
    * schedulers that fold a tick-partitioned event log (the
    * EtlPipeline.runLoop posture). Prior state cogroups with the
    * tick's events on user id — one key-hash exchange per side, state
    * is three scalars per ever-seen user regardless of event volume —
    * and each group replays [[advanceFunnel]], so fold-over-ticks ≡
    * batch [[graft.operators.Funnel.conversion]] counts (spec-pinned;
    * events_funnel_ticks is the driver's hash-green witness).
    */
  def funnelTickBatch(state: Dataset[FunnelUserState],
      tick: Dataset[FunnelEvent], steps: Seq[String],
      withinDays: Option[Int] = None): Dataset[FunnelTickOut] = {
    import state.sparkSession.implicits._
    require(steps.size >= 2, "a funnel needs at least two steps")
    val deadlineMs = withinDays.map(_ * 86400000L)
    state.groupByKey(_.user_id).cogroup(tick.groupByKey(_.user_id)) {
      (user, sIt, eIt) =>
        val st0 = sIt.toSeq.headOption
          .getOrElse(FunnelUserState(user, 0, 0L, 0L))
        val (st, out) = advanceFunnel(st0, eIt, steps, deadlineMs)
        Iterator.single(FunnelTickOut(st, out))
    }
  }

  /** One event for the session fold: ordering within a tick is
    * (ts, event_id) — the SAME total order [[graft.operators
    * .Sessionize.sessions]]'s windows use, so ties are deterministic.
    */
  final case class SessionEvent(user_id: Long,
      ts: java.sql.Timestamp, event_id: Long)

  /** A user's OPEN session at rest: running id (1-based, the batch
    * row-numbering), bounds in epoch MICROseconds (timestamp-exact:
    * epoch millis would silently truncate a micros-precision fixture
    * and split the hash against the oracle's min/max(ts)), and event
    * count — five scalars per active user, the whole state a
    * sessionization fold persists.
    */
  final case class SessionUserState(user_id: Long, session_id: Long,
      startUs: Long, endUs: Long, n: Long)

  private[graft] def tsToMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private[graft] def microsToTs(us: Long): java.sql.Timestamp = {
    val sec = Math.floorDiv(us, 1000000L)
    val ts = new java.sql.Timestamp(sec * 1000L)
    ts.setNanos(((us - sec * 1000000L) * 1000L).toInt)
    ts
  }

  /** A CLOSED session — identical shape to the batch
    * [[graft.operators.Sessionize.sessions]] output row.
    */
  final case class SessionRow(user_id: Long, session_id: Long,
      n_events: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp)

  /** One session-fold tick's output: the user's open state plus the
    * sessions this tick CLOSED (one frame, one cogroup — the
    * [[FunnelTickOut]] posture).
    */
  final case class SessionTickOut(state: SessionUserState,
      closed: Seq[SessionRow])

  /** The greedy per-user session update — the single definition of
    * the gap semantics, run per user by [[sessionTickBatch]]. Gap
    * compares at SECOND granularity (`epoch`), exactly the batch
    * operator's `unix_timestamp` comparison: strictly more than
    * `gapSeconds` between consecutive events splits.
    */
  private[graft] def advanceSessions(st0: Option[SessionUserState],
      user: Long, events: Iterator[SessionEvent], gapSeconds: Long)
      : (Option[SessionUserState], Seq[SessionRow]) = {
    def sec(us: Long): Long = Math.floorDiv(us, 1000000L)
    def row(s: SessionUserState): SessionRow = SessionRow(
      s.user_id, s.session_id, s.n,
      microsToTs(s.startUs), microsToTs(s.endUs))
    var st = st0
    val out = scala.collection.mutable.ArrayBuffer[SessionRow]()
    events.toSeq.sortBy(e => (tsToMicros(e.ts), e.event_id)).foreach { e =>
      val t = tsToMicros(e.ts)
      st match {
        case Some(s) if sec(t) - sec(s.endUs) <= gapSeconds =>
          st = Some(s.copy(endUs = math.max(s.endUs, t), n = s.n + 1))
        case Some(s) =>
          out += row(s)
          st = Some(SessionUserState(user, s.session_id + 1, t, t, 1L))
        case None =>
          st = Some(SessionUserState(user, 1L, t, t, 1L))
      }
    }
    (st, out.toSeq)
  }

  /** BATCH replay of one sessionization tick against PERSISTED state
    * — the [[funnelTickBatch]] treatment for sessions: prior open
    * state cogroups with the tick's events on user id (one key-hash
    * exchange per side, state five scalars per active user), each
    * group replays [[advanceSessions]]. Ticks cut on event time (the
    * in-order contract); a session spanning a tick boundary stays OPEN
    * in state and closes in whichever later tick breaks the gap, so
    * fold-over-ticks ∪ final open state ≡ the one-shot batch
    * [[graft.operators.Sessionize.sessions]] EXACTLY —
    * events_sessionize_ticks hashes that identity against the q14
    * oracle.
    */
  def sessionTickBatch(state: Dataset[SessionUserState],
      tick: Dataset[SessionEvent],
      gapSeconds: Long = 1800L): Dataset[SessionTickOut] = {
    import state.sparkSession.implicits._
    state.groupByKey(_.user_id).cogroup(tick.groupByKey(_.user_id)) {
      (user, sIt, eIt) =>
        val (st, closed) =
          advanceSessions(sIt.toSeq.headOption, user, eIt, gapSeconds)
        st.map(s => SessionTickOut(s, closed)).iterator
    }
  }

  /** Count-Min frequency-sketch cells per closed event-time window —
    * the streaming twin of [[graft.operators.SketchState.freqSketches]]
    * with the window as the (only) group column. Output rows
    * (ws, cm_row, cm_bucket, cnt) ARE CMS state rows: any
    * "how often did key X occur over [range]" question is
    * [[graft.operators.SketchState.estimateFreq]] over the state rows
    * of that range — the raw stream is never replayed.
    *
    * Idempotence story: cell counts are ADDITIVE, so a naive per-tick
    * `mergeFreqSketches` fold would double-count a redelivered batch.
    * Keying the state by the CLOSED window instead makes every
    * (ws, cm_row, cm_bucket) row final on first emission — append mode
    * emits it exactly once — so a replace-by-key upsert on
    * `Seq("ws","cm_row","cm_bucket")` ([[graft.operators.Incremental
    * .merge]]) persists it and replays are value-stable.
    */
  def freqSketchWindows(
      events: DataFrame, keyCol: String = "user_id",
      windowLen: String = "1 hour", watermarkDelay: String = "2 hours",
      depth: Int = 4, width: Int = 512): DataFrame =
    graft.operators.SketchState.freqSketches(
      events.withWatermark("ts", watermarkDelay)
        .select(window(col("ts"), windowLen).as("__w"), col(keyCol)),
      Seq("__w"), keyCol, depth, width)
      .select(col("__w.start").as("ws"), col("cm_row"), col("cm_bucket"),
        col("cnt"))

  /** Fixed-θ sample rows per closed event-time window — the streaming
    * twin of the bottom-k sample state. Bottom-k itself needs a rank
    * window (not streamable), so the streaming side keeps EVERY key
    * whose fixed 60-bit hash lands under θ
    * ([[graft.operators.SketchState.thetaSketches]] — a plain filter +
    * count aggregation, and the filter drops the (1−θ) mass BEFORE
    * the shuffle); batch reads recover true bottom-k samples and
    * distinct estimates from the state rows via
    * [[graft.operators.SketchState.sampleFromTheta]] /
    * `estimateDistinctTheta`. Same closed-window idempotence contract
    * as [[freqSketchWindows]]; persist with `keys = Seq("ws","item")`.
    */
  def sampleSketchWindows(
      events: DataFrame, keyCol: String = "user_id",
      windowLen: String = "1 hour", watermarkDelay: String = "2 hours",
      theta: Double = 0.0625): DataFrame =
    graft.operators.SketchState.thetaSketches(
      events.withWatermark("ts", watermarkDelay)
        .select(window(col("ts"), windowLen).as("__w"), col(keyCol)),
      Seq("__w"), keyCol, theta)
      .select(col("__w.start").as("ws"), col("item"), col("hkey"),
        col("cnt"))
}
