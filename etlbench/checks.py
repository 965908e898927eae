"""Correctness checks, made after the timed region from what the run
left on disk. Each returns a list of failure descriptions (empty when
the outputs are correct). None of them uses engine code: the store and
the served reports are checked against plain SQL evaluated by DuckDB.
"""
import json
import os
import re

import duckdb


def _connect():
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def label(concept_name):
    """Flat column label of a concept (the reference's rule)."""
    return re.sub(r"[^a-z0-9]+", "_", concept_name.lower())


VALUE_COLUMN = {"Numeric": "value_numeric", "Coded": "value_coded", "Text": "value_text"}


def expected_flat_sql(snap, et, columns):
    """Plain-SQL pivot of one encounter type from a source snapshot:
    latest live obs per (encounter, concept), one column per concept,
    joined to the encounter's live row."""
    cases = ",\n".join(
        f'max(CASE WHEN concept_id = {cid} THEN {VALUE_COLUMN[dtype]} END) AS "{lab}"'
        for cid, lab, dtype in columns)
    ids = ", ".join(str(cid) for cid, _, _ in columns)
    return f"""
      WITH ranked AS (
        SELECT *, row_number() OVER (PARTITION BY encounter_id, concept_id
                                     ORDER BY obs_datetime DESC, obs_id DESC) AS rn
        FROM read_parquet('{snap}/obs.parquet')
        WHERE voided = 0 AND concept_id IN ({ids})),
      flat AS (SELECT encounter_id, {cases} FROM ranked WHERE rn = 1 GROUP BY encounter_id)
      SELECT p.*, e.patient_id, e.encounter_datetime,
             strftime(e.encounter_datetime, '%Y-%m') AS visit_month
      FROM flat p JOIN read_parquet('{snap}/encounter.parquet') e USING (encounter_id)
      WHERE e.voided = 0 AND e.encounter_type = {et}"""


def flat_columns(con, snap, et):
    rows = con.execute(f"""
      SELECT DISTINCT c.concept_id, c.name, c.datatype
      FROM read_parquet('{snap}/obs.parquet') o
      JOIN read_parquet('{snap}/encounter.parquet') e USING (encounter_id)
      JOIN read_parquet('{snap}/concept.parquet') c USING (concept_id)
      WHERE o.voided = 0 AND e.voided = 0 AND e.encounter_type = {et}""").fetchall()
    return sorted(((cid, label(name), dtype) for cid, name, dtype in rows),
                  key=lambda c: c[1])


def check_store(store, snap, types):
    """The ticked store's flat tables equal a from-scratch pivot of the
    final sources."""
    con = _connect()
    failures = []
    for et in types:
        cols = flat_columns(con, snap, et)
        path = os.path.join(store, f"mamba_flat_encounter_{et}")
        actual = (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
                  f"hive_types = {{'visit_month': VARCHAR}})")
        want = [lab for _, lab, _ in cols] + [
            "encounter_id", "patient_id", "encounter_datetime", "visit_month"]
        have = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {actual}").fetchall()]
        if sorted(have) != sorted(want):
            failures.append(f"type {et}: columns {sorted(have)} != {sorted(want)}")
            continue
        # timestamps compare as epoch micros: Spark writes INT96, the
        # generator UTC-adjusted micros
        sel = ", ".join(f'epoch_us("{c}")' if c == "encounter_datetime" else f'"{c}"'
                        for c in sorted(want))
        exp = expected_flat_sql(snap, et, cols)
        missing, extra = con.execute(f"""
          WITH a AS (SELECT {sel} FROM {actual}), x AS (SELECT {sel} FROM ({exp}))
          SELECT (SELECT count(*) FROM (SELECT * FROM x EXCEPT ALL SELECT * FROM a)),
                 (SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM x))
          """).fetchone()
        if missing or extra:
            failures.append(f"type {et}: {missing} expected rows missing, "
                            f"{extra} unexpected rows in the store")
    return failures


# ------------------------------------------------------------------ reports

# Independent DuckDB evaluation of each report in reports.json, over the
# same store tables, with the declared parameters bound as $name.
REPORT_ORACLE = {
    "anc_hiv_status": """
      SELECT f.encounter_id, f.hiv_test_result,
             strftime(f.encounter_datetime, '%Y-%m-%d') AS visit_date
      FROM mamba_flat_encounter_1 f JOIN mamba_dim_person p ON f.patient_id = p.person_id
      WHERE p.uuid = $person_uuid""",
    "total_encounters": """
      SELECT count(*) AS total_encounters FROM mamba_dim_encounter e
      WHERE e.encounter_type_uuid = $etype_uuid
        AND CAST(e.encounter_datetime AS DATE)
            BETWEEN CAST($date_from AS DATE) AND CAST($date_to AS DATE)""",
    "anc_clients": """
      SELECT count(DISTINCT f.patient_id) AS total_clients
      FROM mamba_flat_encounter_1 f JOIN mamba_dim_person p ON f.patient_id = p.person_id
      WHERE f.visit_month BETWEEN $month_from AND $month_to
        AND p.gender = $gender_code AND f.weight_kg_ >= $min_weight""",
}
INT_PARAMS = {"min_weight"}


def _norm(v):
    if isinstance(v, bool) or v is None or isinstance(v, str):
        return v
    return float(v)


def _canon_rows(rows):
    """Multiset of rows as sorted (column, value) tuples; SQL NULLs are
    dropped, as the server's JSON rendering drops them."""
    return sorted(tuple(sorted((k, _norm(v)) for k, v in r.items() if v is not None))
                  for r in rows)


def parse_key(key):
    """'report_id?a=1&b=x' -> (report_id, {a: '1', b: 'x'})."""
    rid, _, q = key.partition("?")
    params = dict(kv.split("=", 1) for kv in q.split("&") if kv)
    return rid, params


def check_reports(store, responses):
    """Every distinct request's served rows equal the DuckDB evaluation."""
    con = _connect()
    for name in os.listdir(store):
        path = os.path.join(store, name)
        partitioned = any(d.startswith("visit_month=") for d in os.listdir(path))
        src = (f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, "
               f"hive_types = {{'visit_month': VARCHAR}})" if partitioned
               else f"read_parquet('{path}/*.parquet')")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    failures = []
    for key, body in sorted(responses.items()):
        rid, params = parse_key(key)
        bound = {k: int(v) if k in INT_PARAMS else v for k, v in params.items()}
        cur = con.execute(REPORT_ORACLE[rid], bound)
        names = [d[0] for d in cur.description]
        want = _canon_rows(dict(zip(names, r)) for r in cur.fetchall())
        got = json.loads(body)
        if got.get("row_count") != len(got.get("results", [])) or \
                _canon_rows(got["results"]) != want:
            failures.append(f"{key}: served {got.get('row_count')} rows, "
                            f"plain SQL gives {len(want)} (or values differ)")
    return failures
