"""Arithmetic over the harness's raw record: percentiles, due-time
latencies, generator health, interval unions and the per-layer roll-up.

Every time in the record is epoch milliseconds (floats); listener event
times are whole milliseconds on the same clock.
"""


def percentile(values, p):
    """Linear-interpolated percentile (p in 0..100) of a non-empty list,
    the same rule as numpy's default and statistics.quantiles'
    'inclusive' method."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty list")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def latencies_ms(ops):
    """Latency of each completed op, timed from when it was due. For a
    closed loop an op is due when it starts."""
    return [o["end_ms"] - o["due_ms"] for o in ops if o["ok"]]


def late_ms(ops):
    """How late the generator sent each op after it was due."""
    return [max(0.0, o["start_ms"] - o["due_ms"]) for o in ops]


def backlog_max(ops):
    """Most other ops that were due but not yet sent at any send
    instant (0 for a closed loop)."""
    dues = sorted(o["due_ms"] for o in ops)
    sends = sorted(o["start_ms"] for o in ops)
    worst = 0
    i = 0
    for n_sent, t in enumerate(sends, start=1):
        while i < len(dues) and dues[i] <= t:
            i += 1
        worst = max(worst, i - n_sent)
    return worst


def failed(ops):
    return sum(1 for o in ops if not o["ok"])


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to
    [lo, hi] when given."""
    spans = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            spans.append((s, e))
    spans.sort()
    total = 0.0
    cur_s = cur_e = None
    for s, e in spans:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def end_to_end(rec, ops_done):
    """The end-to-end metrics every workload reports (setup_s is added
    by the caller, which owns the process start time)."""
    lat = latencies_ms(rec["ops"])
    b, a = rec["before"], rec["after"]
    return {
        "op_p50_ms": percentile(lat, 50),
        "cpu_ms_per_op": (a["cpu_ms"] - b["cpu_ms"]) / ops_done,
        "heap_live_mb": rec["heap_live_mb"],
        "store_mb": rec["store_bytes"] / 1048576.0,
    }


def throughput(ops):
    """Completed ops per second from the first due time to the last
    answer."""
    span = max(o["end_ms"] for o in ops) - min(o["due_ms"] for o in ops)
    return 1000.0 * (len(ops) - failed(ops)) / span if span > 0 else 0.0


def fingerprint(rec):
    """Host-noise fingerprint of the timed region, for diagnosis only."""
    b, a = rec["before"], rec["after"]
    return {
        "ops_per_s": round(throughput(rec["ops"]), 3),
        "steal_jiffies": a["steal_jiffies"] - b["steal_jiffies"],
        "procs_forked_host": a["procs"] - b["procs"],
        "process_cpu_ms": round(a["cpu_ms"] - b["cpu_ms"], 1),
        "task_ms": rec["task_ms"],
        "jit_ms": a["jit_ms"] - b["jit_ms"],
        "gc_ms": a["gc_ms"] - b["gc_ms"],
    }


# ------------------------------------------------------------------ ledger

def _events(rec):
    """Join listener events into jobs, SQL executions and stages."""
    jobs, sqls, stages = {}, {}, {}
    for ev in rec["events"]:
        kind = ev["ev"]
        if kind == "job_start":
            jobs[ev["job"]] = {"start": ev["t"], "end": None, "site": ev["site"],
                               "details": ev["details"], "stages": ev["stages"],
                               "exec": ev["exec"]}
        elif kind == "job_end" and ev["job"] in jobs:
            jobs[ev["job"]]["end"] = ev["t"]
        elif kind == "sql_start":
            sqls.setdefault(ev["exec"], {}).update(
                start=ev["t"], site=ev["site"], details=ev["details"])
        elif kind == "sql_end":
            s = sqls.setdefault(ev["exec"], {})
            s["end"] = ev["t"]
            s["query"] = ev if "phases" in ev else None
        elif kind == "stage":
            stages[ev["stage"]] = ev
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["start"]
        # jobs an adaptive plan submits from its own threads carry no
        # caller frames: take them from the SQL execution they belong to
        sql = sqls.get(j["exec"], {})
        if not j["details"]:
            j["details"] = sql.get("details", "")
        if j["exec"] is not None and "site" in sql:
            j["site"] = sql["site"]
    for s in sqls.values():
        s.setdefault("start", s.get("end"))
        s.setdefault("end", s["start"])
        s.setdefault("query", None)
    return list(jobs.values()), list(sqls.values()), stages


def _in(t, op, slack=1.0):
    return op["start_ms"] - slack <= t <= op["end_ms"] + slack


def _is_model_collect(job):
    return job["details"].startswith("graft.operators.ModelCollect$.bounded(")


def _is_autoconfig(job):
    return "graft.operators.Flatten$.autoConfig(" in job["details"]


def _is_checkpoint(job):
    return job["site"].startswith("localCheckpoint at ")


LAYERS = ("jobs", "catalyst", "sql", "driver")


def _spans(jobs, sqls):
    """(job, Catalyst phase, SQL execution) intervals."""
    return ([(j["start"], j["end"]) for j in jobs],
            [tuple(p) for s in sqls if s["query"] for p in s["query"]["phases"].values()],
            [(s["start"], s["end"]) for s in sqls])


def self_times(op, jobs, sqls):
    """Partition an op's wall into the self time of four nested layers:
    in a Spark job; in Catalyst planning; in a SQL execution but in
    neither (codegen compile, commit protocol, broadcasts); and driver
    code outside any SQL execution. The four add up to the wall by
    construction; `reconcile` is the check on the attribution."""
    lo, hi = op["start_ms"], op["end_ms"]
    job_iv, cat_iv, sql_iv = _spans(jobs, sqls)
    in_jobs = union_ms(job_iv, lo, hi)
    in_jobs_cat = union_ms(job_iv + cat_iv, lo, hi)
    in_any = union_ms(job_iv + cat_iv + sql_iv, lo, hi)
    return {"jobs": in_jobs, "catalyst": in_jobs_cat - in_jobs,
            "sql": in_any - in_jobs_cat, "driver": hi - lo - in_any}


def reconcile(spans, region, windows, slack=1.0):
    """Check the roll-up against every listener span in the timed
    region. `windows` are the op windows plus the harness's own untimed
    steps inside the region. Returns (share in % of the span time in
    the region that no window holds, number of spans that overlap a
    window without lying inside one). Windows are widened by `slack`
    because listener times are whole milliseconds."""
    lo, hi = region
    spans = [(s, e) for s, e in spans if e >= lo and s <= hi]
    total = union_ms(spans, lo, hi)
    wins = [(w0 - slack, w1 + slack) for w0, w1 in windows]
    held = union_ms([(max(s, w0), min(e, w1)) for s, e in spans for w0, w1 in wins], lo, hi)
    crossing = sum(1 for s, e in spans
                   if any(s < w1 and e > w0 for w0, w1 in wins)
                   and not any(w0 <= s and e <= w1 for w0, w1 in wins))
    return (100.0 * max(0.0, total - held) / total if total else 0.0), crossing


def windows(ops, concurrent):
    """Attribution windows: each op of a closed loop, or for an open loop
    the busy periods (merged in-flight intervals), since overlapping
    requests cannot be told apart by time."""
    spans = sorted((o["start_ms"], o["end_ms"]) for o in ops)
    if not concurrent:
        return spans
    merged = []
    for s, e in spans:
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [tuple(w) for w in merged]


def ledger(rec, gen_s, user_bytes):
    """Per-layer metrics, each per completed op, from a traced record."""
    ops = [o for o in rec["ops"] if o["ok"]]
    n = max(1, len(ops))
    concurrent = rec.get("responses") is not None
    jobs, sqls, stages = _events(rec)
    b, a = rec["before"], rec["after"]
    m = {k: 0.0 for k in PER_LAYER}

    def add(k, v):
        m[k] += v / n

    wins = windows(ops, concurrent)
    for lo, hi in wins:
        w = {"start_ms": lo, "end_ms": hi}
        oj = [j for j in jobs if _in(j["start"], w)]
        os_ = [s for s in sqls if _in(s["start"], w)]
        st = self_times(w, oj, os_)
        for layer in LAYERS:
            add(f"self.{layer}_ms", st[layer])
        add("scheduler.outside_jobs_ms", hi - lo - st["jobs"])
        add("scheduler.jobs", len(oj))
        mc = [j for j in oj if _is_model_collect(j)]
        add("operators.model_collect_jobs", len(mc))
        add("operators.model_collect_ms", union_ms([(j["start"], j["end"]) for j in mc]))
        add("operators.autoconfig_ms", union_ms(
            [(j["start"], j["end"]) for j in oj if _is_autoconfig(j)]))
        add("sources.checkpoint_jobs", sum(1 for j in oj if _is_checkpoint(j)))
        for j in oj:
            for sid in j["stages"]:
                s = stages.get(sid)
                if s is None:
                    continue  # skipped stage: its shuffle output was reused
                add("scheduler.stages", 1)
                add("scheduler.tasks", s["tasks"])
                add("scheduler.task_ms", s["run_ms"])
                add("scheduler.task_cpu_ms", s["cpu_ms"])
                add("sources.bytes_read", s["in_bytes"])
                add("shuffle.read_bytes", s["shuf_r"])
                add("shuffle.write_bytes", s["shuf_w"])
                add("shuffle.spill_bytes", s["spill"])
        writes = [s for s in os_ if s["query"] and s["query"]["files"] > 0]
        add("sources.write_ms", union_ms([(s["start"], s["end"]) for s in writes]))
        add("sources.files_written", sum(s["query"]["files"] for s in writes))
        add("sources.bytes_written", sum(s["query"]["bytes"] for s in writes))
        for s in os_:
            phases = (s["query"] or {}).get("phases", {})
            for ph in ("analysis", "optimization", "planning"):
                if ph in phases:
                    add(f"catalyst.{ph}_ms", phases[ph][1] - phases[ph][0])
        if concurrent:
            execs = [(s["start"], s["end"]) for s in os_]
            parse = [tuple(p) for s in os_ if s["query"]
                     for k, p in s["query"]["phases"].items() if k in ("parsing", "analysis")]
            add("reports.exec_ms", union_ms(execs, lo, hi))
            add("reports.sql_ms", union_ms(parse, lo, hi))
            add("reports.http_ms", hi - lo - union_ms(execs + parse, lo, hi))
    for k, c in (("codegen.compile_ms", "compile_ms"), ("codegen.compiles", "compiles"),
                 ("sources.forks", "procs")):
        m[k] = (a[c] - b[c]) / n if concurrent else sum(o["counters"][c] for o in ops) / n
    ticks = [v for o in ops for k, v in o["parts"].items() if k.startswith("tick_type_")]
    if ticks:
        m["examples.tick_type_ms"] = sum(ticks) / len(ticks)
    if user_bytes:
        m["sources.write_amp"] = m["sources.bytes_written"] / user_bytes
    m["reports.translate_ms"] = rec.get("translate_ms", 0.0) / n
    m["examples.install_s"] = rec.get("install_s", 0.0)
    m["jvm.gc_ms"] = (a["gc_ms"] - b["gc_ms"]) / n
    m["jvm.cpu_ms"] = (a["cpu_ms"] - b["cpu_ms"]) / n
    m["jvm.jit_ms"] = (a["jit_ms"] - b["jit_ms"]) / n
    m["loadgen.gen_s"] = gen_s
    m["loadgen.late_p99_ms"] = percentile(late_ms(rec["ops"]), 99)
    m["loadgen.backlog_max"] = backlog_max(rec["ops"])
    m["trace.op_p50_ms"] = percentile(latencies_ms(rec["ops"]), 50)
    m["trace.op_p90_ms"] = percentile(latencies_ms(rec["ops"]), 90)
    m["trace.reconcile_pct"], m["trace.crossing_spans"] = reconcile(
        [iv for part in _spans(jobs, sqls) for iv in part], (b["t_ms"], a["t_ms"]),
        wins + [tuple(w) for w in rec.get("untimed", [])])
    return m


PER_LAYER = [
    ("codegen.compile_ms", "ms"), ("codegen.compiles", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("scheduler.outside_jobs_ms", "ms"), ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.task_ms", "ms"), ("scheduler.task_cpu_ms", "ms"),
    ("operators.model_collect_jobs", "count"), ("operators.model_collect_ms", "ms"),
    ("operators.autoconfig_ms", "ms"),
    ("sources.write_ms", "ms"), ("sources.checkpoint_jobs", "count"),
    ("sources.bytes_written", "bytes"), ("sources.files_written", "count"),
    ("sources.write_amp", "ratio"), ("sources.bytes_read", "bytes"),
    ("sources.forks", "count"),
    ("reports.translate_ms", "ms"), ("reports.sql_ms", "ms"),
    ("reports.exec_ms", "ms"), ("reports.http_ms", "ms"),
    ("shuffle.read_bytes", "bytes"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.spill_bytes", "bytes"),
    ("examples.tick_type_ms", "ms"), ("examples.install_s", "s"),
    ("jvm.gc_ms", "ms"), ("jvm.cpu_ms", "ms"), ("jvm.jit_ms", "ms"),
    ("loadgen.gen_s", "s"), ("loadgen.late_p99_ms", "ms"),
    ("loadgen.backlog_max", "count"),
    ("self.jobs_ms", "ms"), ("self.catalyst_ms", "ms"), ("self.sql_ms", "ms"),
    ("self.driver_ms", "ms"),
    ("trace.op_p50_ms", "ms"), ("trace.op_p90_ms", "ms"), ("trace.reconcile_pct", "%"),
    ("trace.crossing_spans", "count"),
]
PER_LAYER_UNITS = dict(PER_LAYER)
PER_LAYER = [k for k, _ in PER_LAYER]
