#!/usr/bin/env python3
"""Where in an etl_ticks tick each of its SQL executions runs: reads the
`result.json` of a traced, kept etlbench run and prints, per kind of
execution, the median over the timed ticks of its start, its first job's
start, its last job's end and its end (ms from the tick's start), and of
its job count.

    python3 etlbench/run.py --workload etl_ticks --seed 7 --seconds 30 --trace 1 --keep
    python3 scripts/tick_timeline.py .bench_build/runs/etl_ticks-7-<pid>/result.json

The kinds, told apart by the engine frames of the execution's call site:
  - changed: the changed-encounter collect (`MambaEtlJob.changedEncounters`);
  - autoConfig: the type's concept scan (`Flatten.autoConfig`);
  - touched: the touched-partition collect (`AnalysisStore.touchedPartitions`);
  - delta: the materialized delta (a `localCheckpoint`);
  - write: a store write (`AnalysisStore.write*`);
  - other: anything else.
A kind that runs more than once in a tick (several flattened types, or
continuation tables) counts from its first start to its last end, with
its jobs summed. Two kinds overlap in a tick when one starts before the
other ends; the `overlaps` line counts, per pair of kinds, the ticks in
which they did.
"""
import argparse
import itertools
import json
import statistics

KINDS = ("changed", "autoConfig", "touched", "delta", "write", "other")


def kind(sql):
    d = sql["details"]
    if "MambaEtlJob$.changedEncounters(" in d:
        return "changed"
    if "Flatten$.autoConfig(" in d:
        return "autoConfig"
    if "AnalysisStore$.touchedPartitions(" in d:
        return "touched"
    if sql["site"].startswith("localCheckpoint at "):
        return "delta"
    if "AnalysisStore$.write" in d:
        return "write"
    return "other"


def executions(rec):
    """SQL executions with their jobs, from the traced listener events."""
    sqls, jobs = {}, {}
    for ev in rec["events"]:
        if ev["ev"] == "sql_start":
            sqls[ev["exec"]] = {"start": ev["t"], "end": None, "site": ev["site"],
                                "details": ev["details"], "jobs": []}
        elif ev["ev"] == "sql_end" and ev["exec"] in sqls:
            sqls[ev["exec"]]["end"] = ev["t"]
        elif ev["ev"] == "job_start":
            jobs[ev["job"]] = {"start": ev["t"], "end": None, "exec": ev["exec"]}
        elif ev["ev"] == "job_end" and ev["job"] in jobs:
            jobs[ev["job"]]["end"] = ev["t"]
    for j in jobs.values():
        if j["exec"] in sqls:
            sqls[j["exec"]]["jobs"].append(j)
    return [s for s in sqls.values() if s["end"] is not None]


def tick_spans(op, sqls):
    """Per kind: [start, first job start, last job end, end, jobs], in ms
    from the tick's start, over the executions that start in the tick."""
    t0, spans = op["start_ms"], {}
    for s in sqls:
        if not op["start_ms"] <= s["start"] <= op["end_ms"]:
            continue
        done = [j for j in s["jobs"] if j["end"] is not None]
        row = [s["start"] - t0,
               min((j["start"] for j in done), default=s["start"]) - t0,
               max((j["end"] for j in done), default=s["start"]) - t0,
               s["end"] - t0, len(s["jobs"])]
        k = kind(s)
        if k in spans:
            a = spans[k]
            row = [min(a[0], row[0]), min(a[1], row[1]), max(a[2], row[2]),
                   max(a[3], row[3]), a[4] + row[4]]
        spans[k] = row
    return spans


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("result", help="result.json of a --trace 1 --keep etl_ticks run")
    a = ap.parse_args()
    with open(a.result) as f:
        rec = json.load(f)
    if not any(ev["ev"] == "sql_end" for ev in rec["events"]):
        raise SystemExit("no SQL executions recorded: run with --trace 1")
    ops = [o for o in rec["ops"] if o["ok"]]
    sqls = executions(rec)
    ticks = [tick_spans(o, sqls) for o in ops]
    print(f"{len(ops)} ticks, median {statistics.median(o['end_ms'] - o['start_ms'] for o in ops):.0f} ms")
    print(f"{'kind':<11} {'ticks':>5} {'start':>7} {'job0':>7} {'jobN_end':>9} {'end':>7} {'jobs':>5}")
    for k in KINDS:
        rows = [t[k] for t in ticks if k in t]
        if rows:
            med = [statistics.median(r[i] for r in rows) for i in range(5)]
            print(f"{k:<11} {len(rows):>5} {med[0]:>7.0f} {med[1]:>7.0f} {med[2]:>9.0f} "
                  f"{med[3]:>7.0f} {med[4]:>5.1f}")
    pairs = []
    for x, y in itertools.combinations(KINDS, 2):
        n = sum(1 for t in ticks if x in t and y in t
                and t[x][0] < t[y][3] and t[y][0] < t[x][3])
        if n:
            pairs.append(f"{x}/{y} {n}")
    print("overlaps: " + (", ".join(pairs) if pairs else "none"))


if __name__ == "__main__":
    main()
