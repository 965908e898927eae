#!/usr/bin/env python3
"""Repository benchmark: two workloads driven through the engine's
public entry points by a harness that lives outside the engine.

    python3 etlbench/run.py --workload <etl_ticks|report_serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source into .bench_build/. The last line of standard
output is one JSON object: correct, attempted, failed and the metrics
(end-to-end ones untraced, per-layer ones traced); the line before it
is the host-noise fingerprint of the run. See etlbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import urllib.parse

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Spark local[2], two GC threads and the C1 compiler only (JVM_FLAGS):
# the JVM leaves headroom on a 4-core host, and the JIT's work shrinks
# to a small floor within the first ticks instead of running on through
# the timed region (see README.md, "Noise design")
CPUS = min(2, os.cpu_count() or 1)
HEAP = "3g"
DEADLINE_S = 170
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2"]

# etl_ticks: ticks run before timing starts (the slowest, first tick of
# a fresh JVM; LEDGER.md shows the rest of the curve), and the seconds
# per timed tick that turn --seconds into a fixed tick count
WARM_TICKS = 1
TICK_BUDGET_S = 2.0
# report_serve: fixed arrival rate (below saturation), client threads,
# parameter sets per report, and warm-up requests (one at a time, from
# a pool of their own)
RATE_PER_S = 3.5
CLIENTS = 4
POOL_SIZE = 12
WARM_REQUESTS = 15

END_TO_END = [("setup_s", "s"), ("op_p50_ms", "ms"), ("cpu_ms_per_op", "ms"),
              ("heap_live_mb", "MB"), ("store_mb", "MB")]
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def spark_jars():
    """The Spark distribution's jars: the engine's runtime classpath and
    the Scala compiler the build uses."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def fail(msg):
    print(f"etlbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------- build

def build(root):
    """Compile engine + harness with the Scala compiler that ships in the
    Spark distribution; reuse the classes while the sources are unchanged."""
    engine = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not engine:
        fail("no engine sources under src/main/scala: run from the repository root")
    harness = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    h = hashlib.sha256()
    for f in engine + harness:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, ".bench_build", "etlbench")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    shutil.rmtree(base, ignore_errors=True)
    tmp = out + f".tmp{os.getpid()}"
    os.makedirs(tmp)
    jars = spark_jars()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-Ybackend-parallelism", str(CPUS), "-d", tmp,
           "-classpath", f"{jars}/*"] + engine + harness
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    open(os.path.join(tmp, "ok"), "w").close()
    os.rename(tmp, out)
    return out


# ------------------------------------------------------- report schedule

def request_pool(snap, rng, size):
    """Distinct parameterized requests for the three reports, drawn from
    the generated data: {report_id: [params, ...]}."""
    enc = pq.read_table(f"{snap}/encounter.parquet").to_pydict()
    person = pq.read_table(f"{snap}/person.parquet").to_pydict()
    uuid_of = dict(zip(person["person_id"], person["uuid"]))
    anc = sorted({uuid_of[p] for p, t in zip(enc["patient_id"], enc["encounter_type"])
                  if t == 1})
    months = [f"{2023 + m // 12}-{m % 12 + 1:02d}" for m in range(gen.MONTHS)]
    pool = {"anc_hiv_status": [], "total_encounters": [], "anc_clients": []}
    for _ in range(size):
        pool["anc_hiv_status"].append({"person_uuid": rng.choice(anc)})
        a, b = sorted(rng.sample(range(gen.MONTHS), 2))
        pool["total_encounters"].append({
            "etype_uuid": f"et-{rng.choice([1, 2, 3]):04d}",
            "date_from": f"{months[a]}-{rng.randint(1, 28):02d}",
            "date_to": f"{months[b]}-{rng.randint(1, 28):02d}"})
        a, b = sorted(rng.sample(range(gen.MONTHS), 2))
        pool["anc_clients"].append({
            "month_from": months[a], "month_to": months[b],
            "gender_code": rng.choice(["F", "M"]),
            "min_weight": str(rng.randint(40, 80))})
    return pool


def request_key(report_id, params):
    return report_id + "?" + "&".join(f"{k}={v}" for k, v in sorted(params.items()))


def request(report_id, params):
    """(key, URL query) of one report request."""
    return (request_key(report_id, params),
            urllib.parse.urlencode([("report_id", report_id)] + sorted(params.items())))


def schedule(pool, rng, n, rate, mix=(("anc_hiv_status", 0.5),
                                      ("total_encounters", 0.25),
                                      ("anc_clients", 0.25))):
    """Open-loop schedule: request i is due i / rate seconds after the
    start (all at the start for rate 0, which makes the client threads
    a closed loop); each picks a report by `mix` and a parameter set
    from its pool. Returns [(due offset ms, key, url query)]."""
    ids, weights = zip(*mix)
    out = []
    for i in range(n):
        rid = rng.choices(ids, weights)[0]
        due = 1000.0 * i / rate if rate else 0.0
        out.append((due,) + request(rid, rng.choice(pool[rid])))
    return out


def write_schedule(path, reqs):
    with open(path, "w") as f:
        for due, key, query in reqs:
            f.write(f"{due:.3f}\t{key}\t{query}\n")


# --------------------------------------------------------------------- run

def prepare(workload, seed, seconds, run_dir, rate=RATE_PER_S):
    """Generate the workload's inputs (untimed, outside setup_s) and
    return the harness arguments plus what the checks need."""
    args, ctx = {}, {}
    if workload in ("etl_ticks", "report_serve"):
        ticks = max(1, round(seconds / TICK_BUDGET_S)) if workload == "etl_ticks" else 0
        warm = WARM_TICKS if workload == "etl_ticks" else 0
        manifest = gen.generate(os.path.join(run_dir, "snaps"), seed, warm + ticks)
        args.update(snaps=os.path.join(run_dir, "snaps"), store=os.path.join(run_dir, "store"),
                    types=",".join(map(str, gen.FLAT_TYPES)), warm=warm, ops=ticks)
        ctx.update(final_snap=manifest["paths"][-1],
                   user_bytes=sum(manifest["delta_bytes"][warm + 1:]) / max(1, ticks))
    if workload == "report_serve":
        rng = random.Random(seed)
        snap0 = os.path.join(run_dir, "snaps", "snap_000")
        pool = request_pool(snap0, rng, POOL_SIZE)
        warm_rng = random.Random(seed + 1)
        warm_pool = request_pool(snap0, warm_rng, POOL_SIZE)
        n = int(RATE_PER_S * seconds)
        write_schedule(os.path.join(run_dir, "requests.tsv"), schedule(pool, rng, n, rate))
        write_schedule(os.path.join(run_dir, "warmup.tsv"),
                       schedule(warm_pool, warm_rng, WARM_REQUESTS, 0))
        args.update(reports=os.path.join(HERE, "reports.json"), clients=CLIENTS,
                    requests=os.path.join(run_dir, "requests.tsv"),
                    warmup=os.path.join(run_dir, "warmup.tsv"))
    return args, ctx


def launch(classes, root, run_dir, workload, trace, args, started):
    """Run the harness JVM, killing it if the run (counted from `started`,
    after any build) would overrun; returns (spawn time, raw record)."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += JVM_FLAGS + [f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g", "-XX:MaxMetaspaceSize=2g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
            f"-Dspark.local.dir={run_dir}/local", f"-Djava.io.tmpdir={run_dir}/tmp",
            f"-Dderby.system.home={run_dir}",
            "-cp", f"{classes}:{root}/src/main/resources:{spark_jars()}/*",
            "etlbench.Harness", f"workload={workload}", f"run={run_dir}",
            f"cpus={CPUS}", f"trace={trace}"] + [f"{k}={v}" for k, v in args.items()]
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    log = open(os.path.join(run_dir, "harness.log"), "w")
    spawn = time.time() * 1000.0
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=DEADLINE_S - (time.time() - started))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("harness timed out; see " + log.name)
    log.close()
    result = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result):
        with open(log.name) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(result) as f:
        return spawn, json.load(f)


def summarize(rec, problems, trace, gen_s, spawn_ms, user_bytes=0):
    """The result line: a failed op counts in `failed` and makes the run
    incorrect, as does any failed correctness check."""
    ops = rec["ops"]
    attempted, n_failed = len(ops), stats.failed(ops)
    done = attempted - n_failed
    if trace:
        values, units = stats.ledger(rec, gen_s, user_bytes), stats.PER_LAYER_UNITS
    else:
        values = stats.end_to_end(rec, done) if done else {}
        values["setup_s"] = (rec["before"]["t_ms"] - spawn_ms) / 1000.0
        units = dict(END_TO_END)
    return {"correct": not problems and n_failed == 0 and done > 0,
            "attempted": attempted, "failed": n_failed,
            "metrics": {k: {"value": values[k], "unit": units[k]}
                        for k in units if k in values}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_ticks", "report_serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--rate", type=float, default=RATE_PER_S,
                    help="report_serve arrival rate in requests/s (the same requests "
                         "are sent); 0 sends them closed-loop to measure saturation")
    a = ap.parse_args()
    root = os.getcwd()
    classes = build(root)
    started = time.time()
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        args, ctx = prepare(a.workload, a.seed, a.seconds, run_dir, a.rate)
        gen_s = time.time() - started
        spawn, rec = launch(classes, root, run_dir, a.workload, a.trace, args, started)
        if a.workload == "etl_ticks":
            problems = checks.check_store(args["store"], ctx["final_snap"], gen.FLAT_TYPES)
        else:
            problems = checks.check_reports(args["store"], rec["responses"])
        for p in problems:
            print(f"etlbench: incorrect: {p}", file=sys.stderr)
        for o in rec["ops"]:
            if not o["ok"]:
                print(f"etlbench: op {o['key']} failed: {o['err']}", file=sys.stderr)
        print(json.dumps({"fingerprint": dict(stats.fingerprint(rec), cpus=CPUS,
                                              gen_s=round(gen_s, 3))}))
        print(json.dumps(summarize(rec, problems, a.trace, gen_s, spawn,
                                   ctx.get("user_bytes", 0))))
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
