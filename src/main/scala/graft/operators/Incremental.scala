package graft.operators

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental ("only add/modify what has changed") vs full-refresh
  * ETL semantics (reference README.md:133-134,146; SURVEY §2.1 S2/S3,
  * §2.7 T3).
  *
  * The reference's mode 1 upserts into MySQL tables; the Spark-native
  * equivalent is a MERGE emulated as anti-join + union — no Delta
  * dependency (SURVEY §7.4). The semantic contract we test: N
  * incremental ticks ≡ one full refresh (SURVEY §5d).
  */
object Incremental {

  /** Upsert: rows of `incoming` replace same-key rows of `existing`;
    * all other existing rows survive.
    *
    * Scale shape: a tick's delta is small relative to the store, so
    * the anti-join's build side (the incoming key set) is broadcast —
    * no shuffle of the big `existing` side at all. If a delta ever
    * outgrows the broadcast threshold AQE falls back to a shuffled
    * join on its own.
    *
    * Schema evolution: `allowMissingColumns` — the reference
    * auto-generates flat configs from metadata (README.md:246-247),
    * so a tick can legitimately carry a column the stored table
    * predates (a newly-answered concept) or drop one; either side's
    * missing columns fill with null instead of failing the tick.
    */
  def merge(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val incomingKeys = broadcast(incoming.select(keys.map(col): _*).distinct())
    existing
      .join(incomingKeys, keys, "left_anti")
      .unionByName(incoming, allowMissingColumns = true)
  }

  /** Snapshot diff — what changed between two corpus versions, by id
    * and content hash: (id, status ∈ added | removed | modified |
    * unchanged). The audit surface for corpus releases ("what moved
    * between v3 and v4") and the input a delta pipeline derives its
    * additions/retractions from when the upstream ships full
    * snapshots instead of deltas.
    *
    * Scale shape: one id-keyed full-outer hash join of (id, md5)
    * projections — each side is scanned once and reduced to two
    * narrow columns before the exchange; uniform keys, no skew.
    */
  def snapshotDiff(
      old: DataFrame, current: DataFrame,
      idCol: String, contentCol: String): DataFrame = {
    val o = old.select(col(idCol), md5(col(contentCol)).as("__oh"))
    val c = current.select(col(idCol), md5(col(contentCol)).as("__ch"))
    o.join(c, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__oh").isNull, lit("added"))
          .when(col("__ch").isNull, lit("removed"))
          .when(col("__oh") =!= col("__ch"), lit("modified"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** SCD Type-2 history: collapse an attribute-change event stream
    * into versioned dimension rows — (key, attribute value,
    * valid_from, valid_to, is_current, n_events). The warehouse twin
    * of [[merge]]: where merge OVERWRITES the latest value, SCD2
    * keeps every value with its validity interval, which is what
    * point-in-time joins ([[AsOfJoin]]) and "state as of date X"
    * reports need (the reference's dim tables carry only
    * current-state rows — README.md:296 — so this is the standard
    * extension every warehouse eventually bolts on).
    *
    * Consecutive events carrying the SAME attribute value extend the
    * current version (n_events counts them); a change opens a new one.
    * valid_to is the next version's valid_from (half-open intervals,
    * adjacent versions chain with no gaps); the last version per key
    * has valid_to null and is_current true. `ordCol` breaks same-
    * timestamp ties deterministically (an event id / sequence number).
    *
    * Scale shape: two windows and one groupBy, all partitioned by the
    * dimension key — uniform grain, map-side combine on the groupBy,
    * no global ordering anywhere. At 100 TB this runs per-key
    * independently across executors; skew only if one key carries a
    * pathological share of events, which a dimension key by
    * construction does not.
    */
  def scd2History(
      events: DataFrame, keyCol: String, tsCol: String, ordCol: String,
      attrCol: String): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col(tsCol), col(ordCol))
    // null-safe change detection: a nullable tracked attribute must
    // collapse consecutive nulls into ONE version (null is a value in
    // SCD2), not open a version per row the way `=!=`'s three-valued
    // logic would. A key's first row: attr <=> lag-null is true only
    // when attr itself is null — run ids then start at 0 instead of
    // 1, which changes nothing (runs only partition rows).
    val runs = events
      .withColumn("__chg",
        (!(col(attrCol) <=> lag(col(attrCol), 1).over(byKey))).cast("int"))
      .withColumn("__run", sum(col("__chg")).over(
        byKey.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy(col(keyCol), col("__run"))
      .agg(first(col(attrCol)).as(attrCol), // constant within a run
        min(col(tsCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val versions = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("valid_from"), col("__run"))
    runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(versions))
      .select(col(keyCol), col(attrCol),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_events"))
  }

  /** Dimension state as of instant `at` — the half-open interval
    * filter over an SCD2 history ([[scd2History]] output): the
    * version with valid_from ≤ at < valid_to (open versions match
    * any at ≥ valid_from). Zero-length versions (valid_from ==
    * valid_to, a same-instant change) never match, consistent with
    * [[graft.queries.RefQueries]] q45's as-of lookup. One narrow
    * filter — at scale this is a partition-prunable predicate when
    * the history is stored partitioned by a valid_from coarsening.
    */
  def scd2At(history: DataFrame, at: java.sql.Timestamp): DataFrame =
    history.filter(col("valid_from") <= lit(at) &&
      (col("valid_to").isNull || col("valid_to") > lit(at)))

  /** Incremental SCD2 — [[scd2History]]'s delta twin: fold a tick of
    * NEW events (per key, all later than every event already folded —
    * the bookmark contract [[changedSince]] enforces) into persisted
    * history without touching unaffected keys.
    *
    * Mechanics: keys absent from the delta pass through untouched, as
    * do CLOSED versions of affected keys (delta events are later, so
    * closed intervals cannot change). Each affected key's OPEN
    * version is lowered back to a single pseudo-event at its
    * valid_from carrying its event count as weight; the pseudo-event
    * plus the key's delta events re-collapse through the same
    * run-versioning as the full build (the pseudo-event sorts first
    * via a null order key, and weights make n_events add exactly), so
    * merge ≡ full rerun on the union stream (spec- and
    * driver-oracle-pinned).
    *
    * Scale shape: one broadcast anti/semi join pair splits history by
    * the delta's key set; the windows run over (affected open
    * versions + delta) only — cost tracks |delta|, never |history|.
    */
  def scd2Merge(
      history: DataFrame, delta: DataFrame,
      keyCol: String, tsCol: String, ordCol: String,
      attrCol: String): DataFrame = {
    val deltaKeys = broadcast(delta.select(keyCol).distinct())
    val untouched = history.join(deltaKeys, Seq(keyCol), "left_anti")
    val affected = history.join(deltaKeys, Seq(keyCol), "left_semi")
      .localCheckpoint(true) // feeds the closed + open branches
    val closed = affected.filter(!col("is_current"))
    val ordType = delta.schema(delta.schema.fieldIndex(ordCol)).dataType
    val tailEvents = affected.filter(col("is_current"))
      .select(col(keyCol), col("valid_from").as(tsCol),
        lit(null).cast(ordType).as(ordCol), col(attrCol),
        col("n_events").as("__w"))
      .unionByName(delta.select(col(keyCol), col(tsCol), col(ordCol),
        col(attrCol), lit(1L).as("__w")))
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(ordCol).asc_nulls_first)
    val runs = tailEvents
      .withColumn("__chg",
        // null-safe, matching scd2History (nullable attr contract)
        (!(col(attrCol) <=> lag(col(attrCol), 1).over(byKey))).cast("int"))
      .withColumn("__run", sum(col("__chg")).over(
        byKey.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)))
      .groupBy(col(keyCol), col("__run"))
      .agg(first(col(attrCol)).as(attrCol),
        min(col(tsCol)).as("valid_from"),
        sum(col("__w")).as("n_events"))
    val versions = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(col("valid_from"), col("__run"))
    val recomputed = runs
      .withColumn("valid_to", lead(col("valid_from"), 1).over(versions))
      .select(col(keyCol), col(attrCol),
        col("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"), col("n_events"))
    untouched.unionByName(closed).unionByName(recomputed)
  }

  /** Change detection between ticks: rows whose latest audit timestamp
    * is past the bookmark (reference's date_created/date_changed
    * columns, SURVEY §2.7 T3 [inferred]). The predicate is a plain
    * column comparison so it pushes into the parquet/JDBC scan.
    */
  def changedSince(
      df: DataFrame,
      bookmark: Option[java.sql.Timestamp],
      tsCols: Seq[String] = Seq("date_created", "date_changed")): DataFrame =
    bookmark match {
      case None => df
      case Some(ts) =>
        val latest =
          if (tsCols.size == 1) col(tsCols.head)
          else greatest(tsCols.map(col): _*)
        df.filter(latest > lit(ts))
    }

  /** Max audit timestamp of a batch — the next bookmark. */
  def nextBookmark(
      df: DataFrame,
      tsCols: Seq[String] = Seq("date_created", "date_changed")): Option[java.sql.Timestamp] = {
    // greatest() requires ≥2 args — single-column bookmarks are legal
    val latest =
      if (tsCols.size == 1) col(tsCols.head) else greatest(tsCols.map(col): _*)
    // collect-bound: global agg — exactly one row by construction
    df.agg(max(latest)).collect().headOption
      .flatMap(r => Option(r.get(0)).map(_.asInstanceOf[java.sql.Timestamp]))
  }

  /** One maintained aggregate column for the IVM family: `out` =
    * `fn(in)` with fn ∈ count | sum | min | max (the distributive
    * aggregates — exactly the set whose per-group summaries merge
    * losslessly; avg is served as sum/count at read time, never
    * maintained directly). `in` is ignored for count. Integer-typed
    * measures keep the whole family EXACT (and hash-reproducible) —
    * for money-like doubles, integerize first (cents), the same
    * discipline as the decimal-quantile sketch state.
    */
  final case class AggCol(out: String, fn: String, in: String) {
    require(Seq("count", "sum", "min", "max").contains(fn),
      s"unsupported aggregate '$fn' (distributive only: count/sum/min/max)")
  }

  /** The aggregate view itself: one row per key combination. */
  def aggView(df: DataFrame, keys: Seq[String], specs: Seq[AggCol]): DataFrame = {
    require(specs.nonEmpty, "need at least one aggregate column")
    val aggs = specs.map {
      case AggCol(out, "count", "") => count(lit(1)).as(out)
      // non-null count of a column — the denominator AVG routing
      // needs when the averaged column is nullable; merges like sum
      case AggCol(out, "count", in) => count(col(in)).as(out)
      case AggCol(out, "sum", in)  => sum(col(in)).as(out)
      case AggCol(out, "min", in)  => min(col(in)).as(out)
      case AggCol(out, "max", in)  => max(col(in)).as(out)
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Merge two aggregate views — associative, commutative, and exact
    * for the distributive set: count/sum add, min/max take the
    * extreme; a key present on one side only passes through. The
    * mergeable-summaries contract (merge ≡ rebuild) that makes the
    * view maintainable from per-tick partial aggregates, spec- and
    * gate-pinned like the sketch-state families.
    */
  def mergeAggViews(a: DataFrame, b: DataFrame, keys: Seq[String],
      specs: Seq[AggCol]): DataFrame = {
    val av = a.select((keys.map(col) ++
      specs.map(s => col(s.out).as(s"__a_${s.out}"))): _*)
    val bv = b.select((keys.map(col) ++
      specs.map(s => col(s.out).as(s"__b_${s.out}"))): _*)
    val joined = av.join(bv, keys, "full_outer")
    val combined = specs.map { s =>
      val (x, y) = (col(s"__a_${s.out}"), col(s"__b_${s.out}"))
      val m = s.fn match {
        case "count" | "sum" => when(x.isNull, y).when(y.isNull, x)
          .otherwise(x + y)
        case "min" => when(x.isNull, y).when(y.isNull, x)
          .otherwise(least(x, y))
        case "max" => when(x.isNull, y).when(y.isNull, x)
          .otherwise(greatest(x, y))
      }
      m.as(s.out)
    }
    joined.select(keys.map(col) ++ combined: _*)
  }

  /** Incremental view maintenance, insert-only fast path: fold a
    * tick of new base rows into the maintained view WITHOUT touching
    * stored history — `view ⊕ aggView(delta)`. The delta aggregates
    * map-side down to |delta keys| rows before the one key-hash
    * exchange against the view; at 100 TB the view refresh costs the
    * tick, never the table. Result ≡ a full [[aggView]] rebuild over
    * base ∪ delta (the ivm_user_stats driver hash replays exactly
    * that equality cross-engine).
    */
  def maintainAgg(view: DataFrame, delta: DataFrame, keys: Seq[String],
      specs: Seq[AggCol]): DataFrame =
    mergeAggViews(view, aggView(delta, keys, specs), keys, specs)

  /** Fold MANY per-window view rows down to one row per key — the
    * range-serving read over persisted windowed views ([[aggView]]
    * state written per day/tick): because every maintained aggregate
    * is distributive, the fold is ONE re-aggregation of the state
    * (count and sum add, min/max take the extreme) over
    * windows × keys rows; the raw table never replays. N-ary
    * [[mergeAggViews]] in a single groupBy (≡ a pairwise fold,
    * spec-pinned; the ivm_window_range driver hash proves the fold
    * equals the direct aggregate cross-engine).
    */
  def foldAggViews(views: DataFrame, keys: Seq[String],
      specs: Seq[AggCol]): DataFrame = {
    require(specs.nonEmpty, "need at least one aggregate column")
    val aggs = specs.map { s =>
      s.fn match {
        case "count" | "sum" => sum(col(s.out)).as(s.out)
        case "min"           => min(col(s.out)).as(s.out)
        case "max"           => max(col(s.out)).as(s.out)
      }
    }
    views.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Delete handling — the honest half of IVM: count/sum could take
    * retractions algebraically, but min/max are NOT subtractable (a
    * deleted minimum says nothing about the next-smallest), so this
    * recomputes DIRTY KEYS ONLY from the post-delete base: untouched
    * view rows pass through an anti-join; dirty keys re-aggregate
    * from a key-pruned scan (left_semi — pushes the key filter to
    * the base scan). Keys whose base rows all vanished drop out of
    * the view, as a rebuild would. Cost scales with the dirty-key
    * footprint, not the table; ≡ full rebuild, gate-pinned
    * (ivm_delete_gate).
    */
  def recomputeKeys(view: DataFrame, base: DataFrame,
      dirtyKeys: DataFrame, keys: Seq[String],
      specs: Seq[AggCol],
      maxTickKeys: Long = DefaultMaxTickKeys): DataFrame = {
    val dk = tickKeys(dirtyKeys, keys, maxTickKeys, "recomputeKeys")
    view.join(dk, keys, "left_anti")
      .unionByName(aggView(base.join(dk, keys, "left_semi"), keys, specs))
  }

  /** Key-pruned scan: only `base` rows whose key appears in `delta`
    * survive — the broadcast-semi-join prune every incremental term
    * below leans on (tick keys are tick-sized by contract, so the
    * broadcast is cheap and the base scan's key filter pushes down).
    */
  /** Default ceiling for a broadcast tick key set — ~4M keys is
    * already generous for "a tick" and still comfortably inside
    * executor broadcast budgets at typical key widths.
    */
  val DefaultMaxTickKeys: Long = 4L << 20

  /** The delta's distinct keys, materialized, COUNTED against the
    * tick-size contract, and only then broadcast — the ModelCollect
    * posture for broadcasts: a misused table-sized "delta" must fail
    * with this contract message, not as a generic executor/driver
    * broadcast OOM three stages later.
    */
  private def tickKeys(delta: DataFrame, keys: Seq[String],
      maxTickKeys: Long, what: String): DataFrame = {
    val dk = delta.select(keys.map(col): _*).distinct()
      .localCheckpoint(true)
    val n = dk.count()
    require(n <= maxTickKeys,
      s"$what: delta carries $n distinct keys (cap $maxTickKeys) — " +
        "the tick-sized broadcast contract is violated; a table-sized " +
        "'delta' must refresh through a full rebuild or shuffled join " +
        "instead of key-pruned incremental maintenance")
    broadcast(dk)
  }

  private def pruneToKeysOf(base: DataFrame, delta: DataFrame,
      keys: Seq[String], maxTickKeys: Long, what: String): DataFrame =
    base.join(tickKeys(delta, keys, maxTickKeys, what),
      keys, "left_semi")

  /** Incremental view maintenance for an INNER equi-JOIN view
    * V = A ⋈ B — the other classic IVM shape next to [[maintainAgg]]
    * (Griffin & Libkin's delta rules reduced to the insert case):
    *
    *   ΔV = ΔA ⋈ (B ∪ ΔB)  ∪  A ⋈ ΔB
    *
    * With the first term joining against the NEW B, the cross term
    * ΔA ⋈ ΔB lands exactly once. Both terms join a TICK against a
    * key-PRUNED base scan (the tick's distinct keys broadcast, the
    * other side left_semi-filtered before the join), so a refresh
    * shuffles O(|Δ| + matching base rows) — at 100 TB the view
    * update costs the tick's key neighborhood, never a base × base
    * join. Result ≡ a full (A ∪ ΔA) ⋈ (B ∪ ΔB) rebuild — the
    * ivm_join_view driver hash replays exactly that equality
    * cross-engine.
    */
  def maintainJoinView(view: DataFrame,
      aOld: DataFrame, deltaA: DataFrame,
      bOld: DataFrame, deltaB: DataFrame,
      keys: Seq[String],
      maxTickKeys: Long = DefaultMaxTickKeys): DataFrame = {
    require(keys.nonEmpty, "join view needs at least one key column")
    val bNew = bOld.unionByName(deltaB)
    view
      .unionByName(deltaA.join(
        pruneToKeysOf(bNew, deltaA, keys, maxTickKeys,
          "maintainJoinView(deltaA)"), keys))
      .unionByName(
        pruneToKeysOf(aOld, deltaB, keys, maxTickKeys,
          "maintainJoinView(deltaB)").join(deltaB, keys))
  }

  /** Delete handling for join views — the [[recomputeKeys]] posture
    * (row-granular deletes on either side can't be anti-joined away
    * from the view because one surviving base row may still pair
    * with others): rows with DIRTY keys leave the view wholesale,
    * then re-join from the post-delete bases restricted to those
    * keys (left_semi prune on BOTH sides). Cost scales with the
    * dirty-key footprint; ≡ full rebuild, gate-pinned
    * (ivm_join_delete_gate).
    */
  def recomputeJoinKeys(view: DataFrame,
      aNew: DataFrame, bNew: DataFrame,
      dirtyKeys: DataFrame, keys: Seq[String],
      maxTickKeys: Long = DefaultMaxTickKeys): DataFrame = {
    val dk = tickKeys(dirtyKeys, keys, maxTickKeys, "recomputeJoinKeys")
    view.join(dk, keys, "left_anti")
      .unionByName(aNew.join(dk, keys, "left_semi")
        .join(bNew.join(dk, keys, "left_semi"), keys))
  }

  /** CDC apply — fold a change feed carrying an operation marker and
    * a sequence number into a keyed table: the missing step between
    * [[graft.streaming.EtlStreaming.fromCdcJson]] (decode) and the
    * store. Semantics are the log-compaction contract every CDC sink
    * (Debezium → table) implements:
    *
    *   - per key, only the change with the HIGHEST `seqCol` speaks —
    *     a connector may deliver a key's changes out of order within
    *     a tick, and replays may re-deliver stale ones; both are
    *     absorbed by the same reduction;
    *   - if that winning change is a delete (`opCol` = "d"), the key
    *     leaves the table — a HARD delete (no tombstone row), which
    *     is what [[merge]]'s replace-only semantics cannot express;
    *   - otherwise its after-image upserts ([[merge]] semantics,
    *     schema evolution included).
    *
    * Stale guard: a change older than what the table already folded
    * must NOT regress the row, so the table carries the winning
    * sequence as `seqCol` (analysis tables version rows anyway; the
    * column doubles as the fold high-water mark per key) and the
    * stored row competes in the same max_by reduction as the tick's
    * changes. Fold-of-any-IN-ORDER-tick-split ≡ one-shot fold of the
    * whole log, and redelivering the latest tick(s) is a no-op
    * (at-least-once foreachBatch crash-replay) — both gate-pinned,
    * cdc_apply_gate. Contracts: (1) `seqCol` strictly orders each
    * key's changes (ties between a stored row and a change would
    * decide arbitrarily); (2) tick REDELIVERY is in-order — hard
    * deletes keep no tombstone, so a tick replayed from BEFORE a
    * later delete would resurrect the key through its old upsert
    * (the standard CDC-sink trade; blocking it needs tombstone
    * retention à la Delta's change feed, at the cost of the table
    * carrying its deletes forever). The hazard is real and
    * demonstrated, not hidden: cdc_apply_gate's stale_cross_delete
    * field plants exactly that replay and observes the resurrection.
    *
    * Scale shape: the tick reduces map-side to one row per touched
    * key (max_by partials combine before the exchange); untouched
    * table rows pass through a broadcast anti-join and only the
    * touched keys' stored rows (broadcast left_semi) re-enter the
    * reduction — a tick shuffles |touched keys|, never the table.
    *
    * @param changes after-image columns + `opCol` ("c"/"u"/"r"
    *                upsert, "d" delete) + `seqCol` (monotone change
    *                id: Debezium ts_ms + per-ts tiebreak, a binlog
    *                offset, …)
    */
  def applyChanges(existing: DataFrame, changes: DataFrame,
      keys: Seq[String], opCol: String = "op",
      seqCol: String = "seq"): DataFrame = {
    require(keys.nonEmpty, "applyChanges needs at least one key column")
    val isData = (c: String) => !keys.contains(c) && c != opCol
    val changeCols = changes.columns.filter(isData).toSeq
    // a winning STORED row keeps columns the feed stopped carrying
    // (schema evolution both ways: union null-fills, the struct spans
    // both sides' data columns)
    val allCols = (existing.columns.filter(isData) ++ changeCols)
      .distinct.toSeq
    // latest change per touched key: one max_by(struct) aggregation —
    // map-side partials, single key exchange, no rank window
    val latest = changes.groupBy(keys.map(col): _*)
      .agg(max_by(struct(col(opCol) +: changeCols.map(col): _*),
        col(seqCol)).as("__w"))
      .select(keys.map(col) ++ (opCol +: changeCols)
        .map(c => col(s"__w.$c").as(c)): _*)
    val touched = broadcast(latest.select(keys.map(col): _*).distinct())
    // stored rows of touched keys compete at their persisted seq (so
    // a stale change loses to them); everything else passes through
    val contested = existing.join(touched, keys, "left_semi")
      .withColumn(opCol, lit("r"))
      .unionByName(latest, allowMissingColumns = true)
      .groupBy(keys.map(col): _*)
      .agg(max_by(struct(col(opCol) +: allCols.map(col): _*),
        col(seqCol)).as("__w"))
      .select(keys.map(col) ++ (opCol +: allCols)
        .map(c => col(s"__w.$c").as(c)): _*)
      .filter(col(opCol) =!= "d").drop(opCol)
    existing.join(touched, keys, "left_anti")
      .unionByName(contested, allowMissingColumns = true)
  }
}

/** Driver-side persisted high-water mark between scheduled runs —
  * the Spark equivalent of the reference's "only add/modify what has
  * changed" state (SURVEY §2.7 T3: "max-timestamp bookmark persisted
  * between runs").
  */
final class BookmarkStore(path: String) {
  private val p = Paths.get(path)

  def read(): Option[java.sql.Timestamp] =
    if (Files.exists(p)) {
      val s = new String(Files.readAllBytes(p), "UTF-8").trim
      if (s.isEmpty) None else Some(java.sql.Timestamp.valueOf(s))
    } else None

  /** Replaces the mark whole (temp file + atomic rename), so a crash
    * mid-write leaves the old mark, never an empty or partial one.
    */
  def write(ts: java.sql.Timestamp): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val dst = new org.apache.hadoop.fs.Path(p.toAbsolutePath.toUri)
    graft.sources.FsAtomic.writeAtomic(
      org.apache.hadoop.fs.FileSystem.getLocal(conf), conf,
      new org.apache.hadoop.fs.Path(dst.getParent,
        s".${dst.getName}.${java.util.UUID.randomUUID}.tmp"),
      dst, ts.toString, overwrite = true)
  }
}
