"""The benchmark's own tests: its arithmetic, its accounting of failed
ops, and that each correctness check fails on an injected defect.

    python3 -m unittest discover -s etlbench -p 'test_*.py'

They need DuckDB and pyarrow but neither the JVM nor the engine.
"""
import json
import os
import random
import statistics
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


def op(due, start, end, ok=True, key="k"):
    return {"key": key, "due_ms": due, "start_ms": start, "end_ms": end, "ok": ok,
            "err": "" if ok else "boom", "parts": {}, "counters": {}}


def record(ops):
    snap = {"t_ms": 0.0, "cpu_ms": 0.0, "gc_ms": 0.0, "jit_ms": 0.0, "compile_ms": 0.0,
            "compiles": 0.0, "steal_jiffies": 0.0, "procs": 0.0}
    return {"ops": ops, "before": dict(snap, t_ms=2000.0),
            "after": dict(snap, cpu_ms=300.0), "heap_live_mb": 100.0,
            "store_bytes": 1048576, "task_ms": 0, "events": []}


class Arithmetic(unittest.TestCase):

    def test_percentile_matches_inclusive_quantiles(self):
        xs = [7.0, 1.0, 4.0, 9.0, 2.0, 8.0, 3.0, 6.0, 10.0, 5.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.percentile(xs, 25), q1)
        self.assertAlmostEqual(stats.percentile(xs, 50), q2)
        self.assertAlmostEqual(stats.percentile(xs, 75), q3)
        self.assertAlmostEqual(stats.percentile(xs, 90), 9.1)
        self.assertEqual(stats.percentile([3.0], 99), 3.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_latency_counts_from_due_time(self):
        # sent 40 ms late and served in 60 ms: the user waited 100 ms
        ops = [op(1000, 1040, 1100), op(1200, 1200, 1230)]
        self.assertEqual(stats.latencies_ms(ops), [100, 30])
        self.assertEqual(stats.late_ms(ops), [40, 0])

    def test_failed_ops_have_no_latency(self):
        ops = [op(0, 0, 10), op(0, 0, 50, ok=False)]
        self.assertEqual(stats.latencies_ms(ops), [10])
        self.assertEqual(stats.failed(ops), 1)

    def test_backlog(self):
        # due at 0, 10, 20 but the second and third go out at 30: when
        # the second is sent, the third is waiting too
        ops = [op(0, 0, 5), op(10, 30, 40), op(20, 30, 45)]
        self.assertEqual(stats.backlog_max(ops), 1)
        self.assertEqual(stats.backlog_max([op(0, 0, 5), op(10, 10, 15)]), 0)

    def test_schedule_is_seeded_and_evenly_spaced(self):
        pool = {"anc_hiv_status": [{"person_uuid": "a"}, {"person_uuid": "b"}],
                "total_encounters": [{"etype_uuid": "x", "date_from": "2023-01-01",
                                      "date_to": "2023-02-01"}],
                "anc_clients": [{"month_from": "2023-01", "month_to": "2023-05",
                                 "gender_code": "F", "min_weight": "50"}]}
        a = run.schedule(pool, random.Random(3), 20, 4.0)
        self.assertEqual(a, run.schedule(pool, random.Random(3), 20, 4.0))
        self.assertEqual([d for d, _, _ in a[:3]], [0.0, 250.0, 500.0])
        self.assertTrue(all(q.startswith("report_id=") for _, _, q in a))
        # rate 0 (the saturation measurement): the same requests, all due
        # at the start
        closed = run.schedule(pool, random.Random(3), 20, 0)
        self.assertEqual([r[1:] for r in closed], [r[1:] for r in a])
        self.assertEqual({d for d, _, _ in closed}, {0.0})

    def test_union_and_self_times_partition_the_op(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(stats.union_ms([(0, 10), (5, 20)], 8, 12), 4)
        o = {"start_ms": 0.0, "end_ms": 100.0}
        jobs = [{"start": 10, "end": 30}, {"start": 50, "end": 60}]
        sqls = [{"start": 5, "end": 70,
                 "query": {"phases": {"analysis": [2, 5], "planning": [5, 9]}}}]
        st = stats.self_times(o, jobs, sqls)
        self.assertEqual(st, {"jobs": 30, "catalyst": 7, "sql": 31, "driver": 32})
        self.assertEqual(sum(st.values()), 100)

    def test_reconcile_holds_when_every_span_lies_in_a_window(self):
        spans = [(1010, 1300), (1400, 1900), (2050, 2080)]
        windows = [(1000, 2000), (2040, 2100)]
        self.assertEqual(stats.reconcile(spans, (0, 3000), windows), (0.0, 0))
        # spans outside the timed region do not count
        self.assertEqual(stats.reconcile(spans + [(-500, -100)], (0, 3000), windows),
                         (0.0, 0))

    def test_reconcile_counts_a_span_that_starts_before_its_op(self):
        # the first job's span starts 100 ms before the op window opens
        spans = [(900, 1300), (1400, 1900)]
        pct, crossing = stats.reconcile(spans, (0, 3000), [(1000, 2000)])
        self.assertAlmostEqual(pct, 100.0 * 99 / 900)
        self.assertEqual(crossing, 1)

    def test_reconcile_counts_span_time_between_windows(self):
        pct, crossing = stats.reconcile([(1100, 1200), (2200, 2300)], (0, 3000),
                                        [(1000, 2000)])
        self.assertEqual((pct, crossing), (50.0, 0))

    def test_the_ledger_reconciles_against_the_timed_region(self):
        rec = record([dict(op(2100, 2100, 2500),
                           counters={"compile_ms": 0, "compiles": 0, "procs": 0})])
        rec["after"]["t_ms"] = 3000.0
        rec["untimed"] = [[2000.0, 2090.0]]
        rec["events"] = [
            {"ev": "job_start", "job": 0, "t": 2010, "site": "", "details": "",
             "stages": [], "exec": None},
            {"ev": "job_end", "job": 0, "t": 2080},
            {"ev": "job_start", "job": 1, "t": 2200, "site": "", "details": "",
             "stages": [], "exec": None},
            {"ev": "job_end", "job": 1, "t": 2300}]
        m = stats.ledger(rec, 0.1, 0)
        self.assertEqual((m["trace.reconcile_pct"], m["trace.crossing_spans"]), (0.0, 0))
        self.assertEqual(m["scheduler.jobs"], 1)
        # without the landing window the landing job is unaccounted for
        del rec["untimed"]
        m = stats.ledger(rec, 0.1, 0)
        self.assertAlmostEqual(m["trace.reconcile_pct"], 100.0 * 70 / 170)


class Accounting(unittest.TestCase):

    def test_a_failing_op_is_counted_in_failed(self):
        rec = record([op(0, 0, 10), op(20, 20, 35, ok=False), op(40, 40, 52)])
        out = run.summarize(rec, [], trace=0, gen_s=0.1, spawn_ms=0.0)
        self.assertEqual((out["attempted"], out["failed"], out["correct"]), (3, 1, False))
        self.assertEqual(out["metrics"]["cpu_ms_per_op"]["value"], 150.0)
        self.assertEqual(out["metrics"]["setup_s"]["value"], 2.0)

    def test_a_clean_run_reports_every_end_to_end_metric(self):
        out = run.summarize(record([op(0, 0, 10), op(20, 20, 40)]), [], 0, 0.1, 0.0)
        self.assertTrue(out["correct"])
        with open(os.path.join(run.HERE, "..", "BENCHMARK.json")) as f:
            declared = {m["name"]: m["unit"] for m in json.load(f)["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, declared)

    def test_the_ledger_matches_benchmark_json(self):
        with open(os.path.join(run.HERE, "..", "BENCHMARK.json")) as f:
            declared = [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]
        self.assertEqual(declared, [(k, stats.PER_LAYER_UNITS[k]) for k in stats.PER_LAYER])

    def test_a_failed_check_makes_the_run_incorrect(self):
        out = run.summarize(record([op(0, 0, 10)]), ["store differs"], 0, 0.1, 0.0)
        self.assertEqual((out["failed"], out["correct"]), (0, False))


class Checks(unittest.TestCase):
    """Each check passes on a correct output and fails on one altered
    value."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.root = cls.tmp.name
        cls.snap = gen.generate(os.path.join(cls.root, "snaps"), seed=5, ticks=2,
                                n_persons=30, n_encounters=60,
                                changed=4, voided=1, new=3)["paths"][-1]

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _store(self, name):
        """A store laid out as the engine lays it out, from the plain-SQL
        pivot itself."""
        store = os.path.join(self.root, name)
        con = checks._connect()
        cols = checks.flat_columns(con, self.snap, 1)
        os.makedirs(store)
        con.execute(f"COPY ({checks.expected_flat_sql(self.snap, 1, cols)}) TO "
                    f"'{store}/mamba_flat_encounter_1' (FORMAT PARQUET, "
                    f"PARTITION_BY (visit_month))")
        con.execute(f"""COPY (SELECT person_id, uuid, gender, birthdate
                      FROM read_parquet('{self.snap}/person.parquet') WHERE voided = 0)
                      TO '{store}/mamba_dim_person' (FORMAT PARQUET, PER_THREAD_OUTPUT)""")
        con.execute(f"""COPY (SELECT e.encounter_id, e.encounter_type,
                        t.uuid AS encounter_type_uuid, e.encounter_datetime
                      FROM read_parquet('{self.snap}/encounter.parquet') e
                      JOIN read_parquet('{self.snap}/encounter_type.parquet') t
                        ON e.encounter_type = t.encounter_type_id WHERE e.voided = 0)
                      TO '{store}/mamba_dim_encounter' (FORMAT PARQUET, PER_THREAD_OUTPUT)""")
        return store

    @staticmethod
    def _alter_one_value(table_dir, column, fn):
        path = sorted(os.path.join(d, f) for d, _, fs in os.walk(table_dir)
                      for f in fs if f.endswith(".parquet"))[0]
        t = pq.read_table(path)
        values = t.column(column).to_pylist()
        i = next(i for i, v in enumerate(values) if v is not None)
        values[i] = fn(values[i])
        t = t.set_column(t.schema.get_field_index(column), column,
                         pa.array(values, t.schema.field(column).type))
        pq.write_table(t, path)

    def test_store_check_fails_on_an_altered_store_row(self):
        store = self._store("store_row")
        self.assertEqual(checks.check_store(store, self.snap, [1]), [])
        self._alter_one_value(os.path.join(store, "mamba_flat_encounter_1"),
                              "weight_kg_", lambda v: v + 0.5)
        self.assertEqual(len(checks.check_store(store, self.snap, [1])), 1)

    def test_report_check_fails_on_an_altered_response_body(self):
        store = self._store("store_reports")
        con = duckdb.connect()
        uuid = con.execute(f"""SELECT p.uuid FROM read_parquet('{self.snap}/person.parquet') p
            JOIN read_parquet('{self.snap}/encounter.parquet') e ON e.patient_id = p.person_id
            WHERE e.encounter_type = 1 AND e.voided = 0 ORDER BY 1 LIMIT 1""").fetchone()[0]
        key = run.request_key("anc_hiv_status", {"person_uuid": uuid})
        rows = checks._connect().execute(f"""
            SELECT f.encounter_id, f.hiv_test_result,
                   strftime(f.encounter_datetime, '%Y-%m-%d') AS visit_date
            FROM read_parquet('{store}/mamba_flat_encounter_1/**/*.parquet') f
            JOIN read_parquet('{self.snap}/person.parquet') p ON f.patient_id = p.person_id
            WHERE p.uuid = ?""", [uuid]).fetchall()
        self.assertTrue(rows)
        results = [{k: v for k, v in zip(("encounter_id", "hiv_test_result", "visit_date"), r)
                    if v is not None} for r in rows]
        body = {"report_id": "anc_hiv_status", "row_count": len(results), "results": results}
        count_key = run.request_key("total_encounters", {
            "etype_uuid": "et-0001", "date_from": "2023-01-01", "date_to": "2024-12-31"})
        total = checks._connect().execute(f"""SELECT count(*) FROM read_parquet(
            '{store}/mamba_dim_encounter/*.parquet') WHERE encounter_type = 1""").fetchone()[0]
        count_body = {"report_id": "total_encounters", "row_count": 1,
                      "results": [{"total_encounters": total}]}
        good = {key: json.dumps(body), count_key: json.dumps(count_body)}
        self.assertEqual(checks.check_reports(store, good), [])
        results[0]["encounter_id"] += 1
        self.assertEqual(len(checks.check_reports(store, dict(good, **{key: json.dumps(body)}))), 1)
        count_body["results"][0]["total_encounters"] += 1
        self.assertEqual(len(checks.check_reports(
            store, dict(good, **{count_key: json.dumps(count_body)}))), 1)


class Inputs(unittest.TestCase):

    def test_same_seed_same_inputs(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.generate(os.path.join(d, "a"), 9, 2, n_persons=20, n_encounters=40)
            b = gen.generate(os.path.join(d, "b"), 9, 2, n_persons=20, n_encounters=40)
            for pa_, pb in zip(a["paths"], b["paths"]):
                for n in ("person", "encounter", "obs"):
                    self.assertTrue(pq.read_table(f"{pa_}/{n}.parquet").equals(
                        pq.read_table(f"{pb}/{n}.parquet")))
            self.assertEqual(a["delta_bytes"], b["delta_bytes"])


if __name__ == "__main__":
    unittest.main()
