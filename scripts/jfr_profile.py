#!/usr/bin/env python3
"""Where a benchmark run's JVM spends its CPU, by cause: runs one
etlbench workload under Java Flight Recorder and prints one JSON line.

    python3 scripts/jfr_profile.py [--workload etl_ticks] [--seed 7]
        [--seconds 30] [--delay 24] [--out DIR]

Run from the repository root. The recorder is switched on through
JAVA_TOOL_OPTIONS, so the benchmark runs exactly as committed: every
JVM the run starts records from `--delay` seconds after its start (past
the harness's setup) until it exits, into a file of its own under
`<out>` (named by the JVM, with its pid), and the harness JVM's
recording is the one read. Its execution samples are
exported with `jfr print --json --stack-depth 96` (the default depth of
5 hides every Spark frame under the JDK's own).

The output line holds:
  - `bench`: the benchmark's own result line;
  - `driver_samples` / `executor_samples`: execution samples of Spark's
    task threads (`executor`) and of every other Java thread (`driver`:
    the caller's, Par's pool, and Spark's driver-side pools that submit
    query stages, broadcast, schedule and post listener events),
    bucketed by the innermost frame that names a cause:
    closure cleaning (Spark's ClosureCleaner), Hadoop conf copy (a new
    Configuration), Catalyst rules (analyzer/optimizer/planner), codegen
    (CodeGenerator, Janino), listeners (the listener bus), else other;
  - `thread_starts`: threads started while recording, by name with
    digit runs folded to `N`, each with the first frame of the starting
    stack outside the JDK, Scala and Spark's thread utilities;
  - `recorded_s`: the span the samples cover.
"""
import argparse
import collections
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

# (bucket, frame test); the innermost matching frame of a sample decides
CAUSES = [
    ("closure_cleaning", lambda t, m: "ClosureCleaner" in t),
    ("hadoop_conf_copy", lambda t, m: t == "org.apache.hadoop.conf.Configuration"
        and m == "<init>"),
    ("catalyst_rules", lambda t, m: t.startswith("org.apache.spark.sql.catalyst.rules.")
        or t.startswith("org.apache.spark.sql.catalyst.planning.QueryPlanner")),
    ("codegen", lambda t, m: ".expressions.codegen.CodeGenerator" in t
        or t.startswith("org.codehaus.")),
    ("listeners", lambda t, m: t.startswith("org.apache.spark.util.ListenerBus")
        or t.startswith("org.apache.spark.scheduler.AsyncEventQueue")
        or t.startswith("org.apache.spark.scheduler.LiveListenerBus")),
]
# frames skipped when naming the code that started a thread
STARTER_SKIP = ("java.", "jdk.", "sun.", "scala.", "org.apache.spark.util.ThreadUtils")


def frames(stack):
    """(type, method) of each frame, innermost first; JFR writes class
    names with `/` (hidden classes with `.`), here both read `.`."""
    for f in (stack or {}).get("frames", []):
        m = f.get("method", {})
        yield m.get("type", {}).get("name", "").replace("/", "."), m.get("name", "")


def cause(stack):
    for t, m in frames(stack):
        for name, test in CAUSES:
            if test(t, m):
                return name
    return "other"


def thread_class(name):
    return "executor" if name.startswith("Executor task launch worker") else "driver"


def starter(stack):
    for t, m in frames(stack):
        if not t.startswith(STARTER_SKIP):
            return f"{t.rsplit('.', 1)[-1]}.{m}"
    return "?"


def events(path):
    """The recording's events, decoded one at a time from `jfr print`'s
    JSON (a single object whose `recording.events` is the array)."""
    text = open(path).read()
    dec = json.JSONDecoder()
    i = text.index("[", text.index('"events"')) + 1
    while True:
        while text[i] in " \t\r\n,":
            i += 1
        if text[i] == "]":
            return
        ev, i = dec.raw_decode(text, i)
        yield ev


def harness_recording(jfr, out):
    for f in sorted(glob.glob(os.path.join(out, "*.jfr"))):
        info = subprocess.run([jfr, "print", "--events", "jdk.JVMInformation", f],
                              stdout=subprocess.PIPE, text=True).stdout
        if "etlbench.Harness" in info:
            return f
    sys.exit("jfr_profile: no recording of the harness JVM in " + out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="etl_ticks")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--delay", type=int, default=24,
                    help="seconds from JVM start before recording starts")
    ap.add_argument("--out", help="directory for the recordings (default: a temp dir)")
    a = ap.parse_args()
    jfr = shutil.which("jfr") or sys.exit("jfr_profile: no `jfr` tool on PATH")
    out = os.path.abspath(a.out or tempfile.mkdtemp(prefix="jfr_profile."))
    os.makedirs(out, exist_ok=True)
    rec = (f"-XX:StartFlightRecording=delay={a.delay}s,settings=profile,"
           f"dumponexit=true,filename={out}")
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " " + rec).strip())
    run = subprocess.run([sys.executable, "etlbench/run.py", "--workload", a.workload,
                          "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", "0"],
                         env=env, stdout=subprocess.PIPE, text=True)
    lines = run.stdout.strip().splitlines()
    if run.returncode != 0 or not lines:
        sys.exit(f"jfr_profile: benchmark exited with {run.returncode}")
    exported = os.path.join(out, "samples.json")
    with open(exported, "w") as f:
        subprocess.run([jfr, "print", "--json", "--stack-depth", "96", "--events",
                        "jdk.ExecutionSample,jdk.ThreadStart",
                        harness_recording(jfr, out)], stdout=f, check=True)
    samples = {"driver": collections.Counter(), "executor": collections.Counter()}
    starts = collections.Counter()
    times = []
    for ev in events(exported):
        v = ev["values"]
        if ev["type"] == "jdk.ExecutionSample":
            cls = thread_class((v.get("sampledThread") or {}).get("javaName") or "")
            samples[cls][cause(v.get("stackTrace"))] += 1
            times.append(v["startTime"])
        elif ev["type"] == "jdk.ThreadStart":
            name = (v.get("thread") or {}).get("javaName") or "?"
            starts[re.sub(r"\d+", "N", name) + " <- " + starter(v.get("stackTrace"))] += 1
    print(json.dumps({
        "bench": json.loads(lines[-1]),
        "recorded_s": _span_s(times),
        "driver_samples": dict(samples["driver"].most_common(), total=sum(samples["driver"].values())),
        "executor_samples": dict(samples["executor"].most_common(),
                                 total=sum(samples["executor"].values())),
        "thread_starts": dict(starts.most_common(), total=sum(starts.values())),
        "recording": out}))


def _span_s(times):
    """Seconds between the first and the last sample time (ISO 8601,
    fraction of any length; the zone is the same on every sample)."""
    from datetime import datetime
    secs = []
    for t in times:
        m = re.match(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(\.\d+)?", t)
        if m:
            secs.append(datetime.fromisoformat(m.group(1)).timestamp()
                        + float(m.group(2) or 0))
    return round(max(secs) - min(secs), 3) if secs else 0.0


if __name__ == "__main__":
    main()
