package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming twins of the batch event operators (SURVEY
  * §2.7). The reference's "streaming" is a polling MySQL EVENT
  * (reference api/src/main/resources/mamba/mamba_main.sql:1-14); the
  * Spark-native generalization is a real incremental dataflow:
  * readStream → watermarked windowed aggs → writeStream. Each
  * function takes an un-aggregated (possibly streaming) events frame
  * with columns (event_id, ts timestamp, user_id, event_type, value)
  * and returns the transformed (streaming) frame — callers attach the
  * sink/trigger.
  *
  * The transforms are written against the untyped API so the SAME
  * code runs in batch tests and streaming jobs — parity between
  * q13/q14's batch results and these is asserted in
  * StreamingSpec via MemoryStream.
  */
object EventsStreaming {

  /** Tumbling-window count/sum per event_type (batch twin: q13).
    * Watermark bounds state: windows older than `watermarkDelay`
    * behind the max seen ts are finalized and dropped — this is what
    * keeps state finite on an unbounded 100 TB/day stream.
    */
  def tumblingCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based sessions via the built-in session_window — the
    * streaming equivalent of [[graft.operators.Sessionize]]. State =
    * one open window per (user, gap-session), closed and emitted once
    * the watermark passes the gap.
    */
  def sessionWindows(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
      .select(col("user_id"), col("n_events"),
        col("session_start"), col("session_end"))

  /** Per-user running state the built-ins can't express (SURVEY §2.7
    * "custom state"): event count + cumulative value per user,
    * emitted on every update — the `mapGroupsWithState` pattern at
    * its smallest. Input is a typed stream of (user_id, value).
    *
    * `idleTimeout = Some(duration)` additionally expires state for
    * users idle past the duration (production memory-bound knob).
    * Note: with a processing-time timeout the engine schedules extra
    * empty micro-batches to fire expirations, so
    * `processAllAvailable()` never settles — tests use the default
    * `None` (NoTimeout).
    */
  final case class UserEvent(user_id: Long, value: Double)
  final case class UserStat(user_id: Long, n_events: Long, total_value: Double)

  def runningUserStats(
      events: Dataset[UserEvent],
      idleTimeout: Option[String] = None): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    val timeoutConf = if (idleTimeout.isDefined)
      GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](timeoutConf) {
        (user: Long, batch: Iterator[UserEvent], state: GroupState[UserStat]) =>
          if (state.hasTimedOut) {
            val last = state.get
            state.remove()
            last
          } else {
            val prev = state.getOption.getOrElse(UserStat(user, 0L, 0.0))
            val (n, v) = batch.foldLeft((prev.n_events, prev.total_value)) {
              case ((cn, cv), e) => (cn + 1, cv + e.value)
            }
            val next = UserStat(user, n, math.round(v * 100).toDouble / 100)
            state.update(next)
            idleTimeout.foreach(state.setTimeoutDuration)
            next
          }
      }
  }

  /** One funnel event on the wire. */
  final case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
      event_type: String)

  /** An emitted advancement: user reached `step_idx` at `ts`. */
  final case class FunnelAdvance(user_id: Long, step_idx: Int,
      step: String, ts: java.sql.Timestamp)

  /** Internal per-user funnel state (public for the encoder). */
  final case class FunnelProgress(step: Int, anchorMs: Long,
      prevMs: Long)

  /** Streaming funnel — [[graft.operators.Funnel.conversion]]'s
    * stateful twin, and the `flatMapGroupsWithState` pattern (0..n
    * output rows per update — mapGroups can't express "emit one row
    * per step ADVANCED this batch"): per-user state is just (step
    * reached, anchor time, last advance time) — three scalars per
    * live user regardless of event volume — advanced greedily over
    * the batch's events in event-time order. Greedy-in-order is
    * EXACTLY the batch semantics (first step-1 event is min(t1);
    * scanning forward, the first step-i event after the step-(i−1)
    * advance is the earliest qualifying one), so closed-state
    * advancement counts per step equal the batch conversion counts —
    * spec-pinned.
    *
    * Honesty note on late data: an event arriving AFTER a later-step
    * event already advanced the user cannot retro-improve the path
    * (state keeps no event history — that is what makes it three
    * scalars). In-order feeds (or per-user ordered sources) match
    * batch exactly; disordered feeds converge to a superset-in-time
    * approximation, the standard streaming-funnel trade.
    */
  def funnelTicks(events: Dataset[FunnelEvent], steps: Seq[String],
      withinDays: Option[Int] = None): Dataset[FunnelAdvance] = {
    import events.sparkSession.implicits._
    require(steps.size >= 2, "a funnel needs at least two steps")
    val deadlineMs = withinDays.map(_ * 86400000L)
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelProgress, FunnelAdvance](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[FunnelEvent],
            state: GroupState[FunnelProgress]) =>
          val (st, out) = advanceFunnel(
            state.getOption.getOrElse(FunnelProgress(0, 0L, 0L)),
            batch, steps, deadlineMs)
          state.update(st)
          out.iterator
      }
  }

  /** The greedy per-user funnel update — the SINGLE definition of the
    * advance semantics, shared by [[funnelTicks]] (streaming) and
    * [[funnelTickBatch]] (persisted-state batch fold) so the twins
    * cannot drift. Returns (closed state, advancements emitted).
    */
  private[graft] def advanceFunnel(st0: FunnelProgress,
      events: Iterator[FunnelEvent], steps: Seq[String],
      deadlineMs: Option[Long]): (FunnelProgress, Seq[FunnelAdvance]) = {
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
          st = FunnelProgress(st.step + 1, anchor, t)
          out += FunnelAdvance(e.user_id, st.step, steps(st.step - 1), e.ts)
        }
      }
    }
    (st, out.toSeq)
  }

  /** Per-user funnel state AT REST — [[FunnelProgress]] keyed by user,
    * the three-scalar row a tick fold persists between runs.
    */
  final case class FunnelUserState(user_id: Long, step: Int,
      anchorMs: Long, prevMs: Long)

  /** One tick's combined output: the user's closed state plus the
    * advancement rows emitted this tick — a single frame so the
    * cogroup below runs ONCE per fold step (callers checkpoint it and
    * project state/advances separately).
    */
  final case class FunnelTickOut(state: FunnelUserState,
      advances: Seq[FunnelAdvance])

  /** BATCH replay of one funnel tick against PERSISTED state — the
    * at-rest twin of [[funnelTicks]], for schedulers that fold a
    * tick-partitioned event log instead of keeping a streaming query
    * up (the EtlPipeline.runLoop posture). Prior state cogroups with
    * the tick's events on user id — one key-hash exchange per side,
    * state is three scalars per ever-seen user regardless of event
    * volume — and each group replays [[advanceFunnel]], the SAME
    * closure the streaming query runs, so fold-over-ticks ≡ streaming
    * ≡ batch [[graft.operators.Funnel.conversion]] counts
    * (spec-pinned row-for-row; events_funnel_ticks is the driver's
    * hash-green witness).
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
          .map(s => FunnelProgress(s.step, s.anchorMs, s.prevMs))
          .getOrElse(FunnelProgress(0, 0L, 0L))
        val (st, out) = advanceFunnel(st0, eIt, steps, deadlineMs)
        Iterator.single(FunnelTickOut(
          FunnelUserState(user, st.step, st.anchorMs, st.prevMs), out))
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
    * the gap semantics, shared by [[sessionTicks]] (streaming) and
    * [[sessionTickBatch]] (persisted-state fold) so the twins cannot
    * drift. Gap compares at SECOND granularity (`epoch`), exactly the
    * batch operator's `unix_timestamp` comparison: strictly more than
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

  /** Streaming sessionization with EXPLICIT state — the
    * flatMapGroupsWithState twin of [[sessionWindows]] for consumers
    * that need the batch surface (running per-user session ids, exact
    * (ts, event_id) tie order) rather than `session_window`'s
    * window-keyed rows. Emits a session when a later event CLOSES it;
    * the open tail stays in state (five scalars per active user).
    * In-order feeds match [[graft.operators.Sessionize.sessions]]
    * exactly (spec-pinned); the driver witness is the persisted fold
    * below.
    */
  def sessionTicks(events: Dataset[SessionEvent],
      gapSeconds: Long = 1800L): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionUserState, SessionRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, batch: Iterator[SessionEvent],
            state: GroupState[SessionUserState]) =>
          val (st, closed) =
            advanceSessions(state.getOption, user, batch, gapSeconds)
          st.foreach(state.update)
          closed.iterator
      }
  }

  /** [[sessionTicks]] with an EVENT-TIME timeout flush — the
    * production variant: an open session whose user goes idle would
    * otherwise sit in state forever (NoTimeout) and its row would
    * never reach the sink. Here each update arms a timeout at
    * `endUs + gapSeconds` in EVENT time; when the WATERMARK (set by
    * the caller via `withWatermark` on ts, delay `delay`) passes it,
    * the group fires with an empty iterator, the open session emits,
    * and its state is removed — state size tracks ACTIVE users, the
    * unbounded-stream requirement.
    *
    * Semantics note: a flush is correct exactly because the watermark
    * bounds lateness — any event that could still extend the session
    * would be within `delay` of the max seen ts, and the timeout fires
    * only once watermark > end + gap. Late-beyond-watermark events
    * start a NEW session (with a fresh running id) rather than
    * corrupting a closed one — the same trade every watermarked
    * streaming agg makes.
    */
  def sessionTicksFlushed(events: Dataset[SessionEvent],
      gapSeconds: Long = 1800L,
      delay: String = "1 hour"): Dataset[SessionRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionUserState, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, batch: Iterator[SessionEvent],
            state: GroupState[SessionUserState]) =>
          if (state.hasTimedOut) {
            val flushed = state.getOption.map(s => SessionRow(
              s.user_id, s.session_id, s.n,
              microsToTs(s.startUs), microsToTs(s.endUs)))
            state.remove()
            flushed.iterator
          } else {
            val (st, closed) =
              advanceSessions(state.getOption, user, batch, gapSeconds)
            st.foreach { s =>
              state.update(s)
              // advanceSessions merges at SECOND granularity
              // (sec(t) - sec(endUs) <= gap), so an event anywhere in
              // the last mergeable second — up to (sec(endUs) + gap)
              // .999999 — must still find the session open: arm the
              // timeout one full second past that boundary, not at
              // the raw endUs + gap (which would flush early and
              // split sub-second-boundary arrivals off into a new
              // session, diverging from the batch twin)
              state.setTimeoutTimestamp(
                (Math.floorDiv(s.endUs, 1000000L) + gapSeconds + 1L)
                  * 1000L)
            }
            closed.iterator
          }
      }
  }

  /** BATCH replay of one sessionization tick against PERSISTED state
    * — the [[funnelTickBatch]] treatment for sessions: prior open
    * state cogroups with the tick's events on user id (one key-hash
    * exchange per side, state five scalars per active user), each
    * group replays [[advanceSessions]] — the same closure the
    * streaming query runs. Ticks cut on event time (the in-order
    * contract); a session spanning a tick boundary stays OPEN in
    * state and closes in whichever later tick breaks the gap, so
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

  /** Stream-stream interval join: each click joins the views by the
    * same user within the preceding `horizon` — attribution at stream
    * time. Both sides are watermarked and the join condition bounds
    * the event-time distance, so the engine can expire buffered rows:
    * state per side ≈ horizon × rate, independent of stream length —
    * the only formulation that survives an unbounded 100 TB/day feed
    * (an unbounded-condition stream-stream join buffers forever).
    */
  def clickViewAttribution(
      clicks: DataFrame, views: DataFrame,
      horizon: String = "10 minutes",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val c = clicks.withWatermark("ts", watermarkDelay)
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val v = views.withWatermark("ts", watermarkDelay)
      .select(col("user_id").as("view_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    c.join(v,
      col("user_id") === col("view_user") &&
        col("view_ts") >= col("click_ts") - expr(s"INTERVAL $horizon") &&
        col("view_ts") <= col("click_ts"))
      .select("click_id", "user_id", "click_ts", "view_id", "view_ts")
  }

  /** Streaming exact dedup by event id — the streaming twin of the
    * dedup family: duplicates arriving within the watermark horizon
    * are dropped with bounded state (one key per event inside the
    * horizon; keys older than the watermark are evicted, which is the
    * only way dedup state stays finite on an unbounded stream). An
    * at-least-once upstream (Kafka replays, retried batches) becomes
    * effectively-once downstream.
    */
  def dedupEvents(
      events: DataFrame,
      watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Trending items per tumbling window: the Misra–Gries sketch as a
    * STREAMING aggregation — ≤ k counters of state per open window
    * regardless of item cardinality, the only budget that survives
    * "trending content ids on an unbounded feed" (an exact
    * groupBy(item) holds one row per distinct item per window).
    * Emits, once the watermark closes a window, the sketch's
    * candidates with their LOWER-BOUND counts and the window total.
    *
    * Contract (the [[graft.functions.MisraGriesAggregator]] bound,
    * which survives Spark's arbitrary partial-merge trees): the
    * candidates are a superset of every item with true window
    * frequency > n_total/(k+1), and est ≤ true ≤ est + n_total/(k+1).
    * The batch twin ([[graft.operators.TextAnalysis.heavyItems]])
    * reranks candidates exactly in a second pass; a single-pass
    * stream has no second pass, so downstream either accepts the
    * bound or reranks the closed window from cold storage.
    */
  def trendingValues(
      events: DataFrame, itemCol: String, k: Int = 99,
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val mg = udaf(graft.functions.MisraGriesAggregator.misraGries(k),
      org.apache.spark.sql.Encoders.STRING)
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen))
      .agg(mg(col(itemCol).cast("string")).as("sketch"),
        count(lit(1)).as("n_total"))
      .select(col("window.start").as("ws"),
        explode(col("sketch")).as("c"), col("n_total"))
      .select(col("ws"), col("c.item"), col("c.est"), col("n_total"))
  }

  /** Streaming distinct-user sketches — the streaming producer for
    * [[graft.operators.SketchState]]: per closed tumbling window per
    * event_type, one Datasketches HLL row in the state-table layout
    * (group cols, sketch, n_rows). State per open window is one 2^lgK
    * register array — constant regardless of user cardinality (an
    * exact streaming COUNT(DISTINCT) would hold one state row per
    * distinct user per window, which is exactly what dies on an
    * unbounded stream). Sink the append-mode output to the persisted
    * sketch table; any "uniques over [range]" question is then
    * [[graft.operators.SketchState.estimateRollup]] over state rows —
    * the raw stream is never replayed. Merge ≡ rebuild exactly
    * (register-max associativity), so micro-batch boundaries never
    * change any downstream estimate — spec-pinned against the batch
    * build.
    */
  def uniqueUserSketches(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours",
      lgK: Int = 12): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_rows"))
      .select(col("window.start").as("ws"), col("event_type"),
        col("sketch"), col("n_rows"))

  /** Count-Min frequency-sketch cells per closed event-time window —
    * the streaming twin of [[graft.operators.SketchState.freqSketches]]
    * with the window as the (only) group column. Output rows
    * (ws, cm_row, cm_bucket, cnt) ARE CMS state rows: any
    * "how often did key X occur over [range]" question is
    * [[graft.operators.SketchState.estimateFreq]] over the state rows
    * of that range — the raw stream is never replayed.
    *
    * Idempotence story (same as [[uniqueUserSketches]]): cell counts
    * are ADDITIVE, so a naive per-tick `mergeFreqSketches` fold would
    * double-count a redelivered batch. Keying the state by the CLOSED
    * window instead makes every (ws, cm_row, cm_bucket) row final on
    * first emission — append mode emits it exactly once — so
    * [[sketchStateTicks]] with `keys = Seq("ws","cm_row","cm_bucket")`
    * persists it as a replace-by-key upsert and replays are
    * value-stable.
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

  /** Quantile-sketch buckets per closed event-time window — the
    * streaming twin of
    * [[graft.operators.SketchState.quantileSketches]]; output rows
    * (ws, q_lb, cnt) are quantile state: any "p99 of X over [range]"
    * is [[graft.operators.SketchState.quantileRollup]] over the range's
    * state rows. Same closed-window idempotence contract as
    * [[freqSketchWindows]]; persist with `keys = Seq("ws","q_lb")`.
    */
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
  /** Per-closed-window aggregate views — the streaming twin of
    * [[graft.operators.Incremental.aggView]], completing the IVM
    * family's batch/stream parity (every sketch-state family has
    * one): count/sum/min/max are all natively streamable
    * aggregations, so the per-window view rows emit in append mode
    * the moment the watermark closes a window, and the at-rest
    * layout (ws, keys, aggregates) is EXACTLY what
    * [[graft.operators.Incremental.foldAggViews]] range-serves
    * (ivm_window_range) — the raw stream is reduced map-side before
    * the one window×key exchange and never stored.
    */
  def aggViewWindows(
      events: DataFrame, keys: Seq[String],
      specs: Seq[graft.operators.Incremental.AggCol],
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame = {
    val ins = specs.collect { case s if s.fn != "count" => s.in }.distinct
    graft.operators.Incremental.aggView(
      events.withWatermark("ts", watermarkDelay)
        .select(window(col("ts"), windowLen).as("__w") +:
          (keys ++ ins).map(col): _*),
      "__w" +: keys, specs)
      .select(col("__w.start").as("ws") +:
        (keys ++ specs.map(_.out)).map(col): _*)
  }

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

  def quantileSketchWindows(
      events: DataFrame, valueCol: String,
      windowLen: String = "1 hour",
      watermarkDelay: String = "2 hours"): DataFrame =
    graft.operators.SketchState.quantileSketches(
      events.withWatermark("ts", watermarkDelay)
        .select(window(col("ts"), windowLen).as("__w"), col(valueCol)),
      Seq("__w"), valueCol)
      .select(col("__w.start").as("ws"), col("q_lb"), col("cnt"))

  /** Persist the closed-window sketch rows of [[uniqueUserSketches]]
    * into a [[graft.operators.SketchState]] state table, maintained
    * per tick. Idempotence comes free from the window grain: append
    * mode emits each (group, window) row exactly once — with its
    * FINAL sketch — so the fold is a replace-by-key upsert
    * ([[graft.operators.Incremental.merge]] on the window keys), and
    * a redelivered batch re-replaces identical values (byte-stable,
    * spec-pinned) instead of double-counting the way a sketch-union
    * fold would. Ticks through [[FoldAndSwap]]; the first merges
    * into an empty table.
    *
    * Downstream, any "uniques over [range]" question is
    * [[graft.operators.SketchState.estimateRollup]] over this table —
    * the raw stream is never replayed.
    */
  def sketchStateTicks(
      windowSketches: DataFrame,
      storePath: String,
      keys: Seq[String] = Seq("event_type", "ws"),
      interval: String = "30 minutes"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    FoldAndSwap.ticks(windowSketches, storePath, OutputMode.Append,
        interval) { (batch, exists) =>
      val prior =
        if (exists) batch.sparkSession.read.parquet(storePath)
        else batch.limit(0)
      Some(FoldAndSwap.overwrite(
        graft.operators.Incremental.merge(prior, batch, keys)
          // merge's key anti-join floats the key columns to the
          // front; pin the stored column order so ticks (and
          // replays) write a schema-stable table
          .select(prior.columns.map(col).toSeq: _*)))
    }

  /** Recommended sink wiring for the aggregations above (documentation
    * +  smoke-tested): append mode emits each window exactly once,
    * after the watermark closes it.
    */
  def toConsole(df: DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.outputMode(OutputMode.Append).format("console")
}
