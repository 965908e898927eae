"""Seeded OpenMRS-shaped source generator for the etl_ticks and
report_serve workloads.

Writes, under `out_dir`, one complete source snapshot per tick:
`snap_000/` is the install state and `snap_<k>/` is the state after the
k-th delta has landed. Each snapshot holds person, encounter_type,
encounter, concept and obs as single parquet files, so the engine reads
a tick's sources without any merge work of its own.

A delta is what an OpenMRS deployment changes between two scheduled
runs: some live encounters get obs voided and replaced (OpenMRS never
edits an obs in place), a few encounters are voided together with all
their obs, and new encounters arrive with their obs. Every row a delta
touches gets `obs_datetime` = the tick's timestamp, which is what the
engine's bookmark (`obs_datetime > previous tick`) keys on.

The first `len(concepts)` encounters of each flattened type carry every
concept of that type and are never touched, so the auto-configured
column set of each flat table is the same at every tick.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FLAT_TYPES = [1]
ENCOUNTER_TYPES = [(1, "ANC"), (2, "HTS"), (3, "Lab Order")]
# (concept_id, name, datatype, encounter type)
CONCEPTS = (
    [(1001, "Weight (kg)", "Numeric", 1), (1002, "Height (cm)", "Numeric", 1),
     (1003, "Systolic BP", "Numeric", 1), (1004, "Diastolic BP", "Numeric", 1),
     (1005, "Gestational Age", "Numeric", 1), (1006, "Parity", "Numeric", 1),
     (1007, "HIV Test Result", "Coded", 1), (1008, "Syphilis Result", "Coded", 1),
     (1009, "Danger Signs", "Coded", 1), (1010, "Clinical Notes", "Text", 1),
     (1011, "Next Visit Plan", "Text", 1), (1012, "Hemoglobin", "Numeric", 1)]
    + [(2001, "Weight (kg)", "Numeric", 2), (2002, "Test Result", "Coded", 2),
       (2003, "Entry Point", "Coded", 2), (2004, "Partner Tested", "Coded", 2),
       (2005, "Counselor Notes", "Text", 2), (2006, "Times Tested", "Numeric", 2),
       (2007, "Risk Score", "Numeric", 2), (2008, "Referral Site", "Text", 2)]
    + [(3001, "Viral Load", "Numeric", 3), (3002, "CD4 Count", "Numeric", 3),
       (3003, "Sample Type", "Coded", 3)]
    # defined but never observed: the concept dim is larger than its use
    + [(9001, "Unused Concept A", "Numeric", 0),
       (9002, "Unused Concept B", "Text", 0)])
CODED_ANSWERS = [664, 703, 1065, 1066, 1067, 1118]
TEXT_ANSWERS = ["follow up", "referred", "stable", "review in two weeks",
                "counselled", "no complaints"]

T0 = dt.datetime(2025, 1, 1, tzinfo=dt.timezone.utc)
FIRST_MONTH = dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc)
MONTHS = 24


def tick_time(k):
    """Timestamp every row landed by delta k carries (k >= 1)."""
    return T0 + dt.timedelta(hours=k)


class Source:
    """Mutable column arrays of one OpenMRS source; `snapshot` writes
    them out as they stand."""

    def __init__(self, rng, n_persons, n_encounters):
        self.rng = rng
        self.persons = n_persons
        self.concepts_of = {}
        for cid, _, dtype, et in CONCEPTS:
            if et:
                self.concepts_of.setdefault(et, []).append((cid, dtype))
        ids = np.arange(1, n_persons + 1, dtype=np.int64)
        self.person = {
            "person_id": ids,
            "uuid": np.array([f"p-{rng.integers(1 << 62):016x}-{i}" for i in ids]),
            "gender": rng.choice(np.array(["F", "M"]), n_persons, p=[0.7, 0.3]),
            "birthdate": (np.datetime64("1960-01-01")
                          + rng.integers(0, 365 * 45, n_persons)).astype("datetime64[D]"),
            "voided": np.zeros(n_persons, dtype=np.int32),
        }
        self.enc = {k: [] for k in ("encounter_id", "uuid", "encounter_type",
                                    "patient_id", "encounter_datetime", "voided")}
        self.obs = {k: [] for k in ("obs_id", "encounter_id", "concept_id",
                                    "value_numeric", "value_text", "value_coded",
                                    "obs_datetime", "voided")}
        self.protected = set()
        # anchors first: one per concept of each flattened type, all concepts
        for et in FLAT_TYPES:
            for _ in range(len(self.concepts_of[et])):
                e = self._new_encounter(et, self._base_time(), full=True)
                self.protected.add(e)
        types = rng.choice(np.array([1, 2, 3]), n_encounters, p=[0.45, 0.4, 0.15])
        for et in types:
            self._new_encounter(int(et), self._base_time())
        self._to_arrays()

    def _base_time(self):
        minutes = int(self.rng.integers(0, MONTHS * 30 * 24 * 60))
        return FIRST_MONTH + dt.timedelta(minutes=minutes)

    def _value(self, dtype):
        if dtype == "Numeric":
            return (round(float(self.rng.normal(60, 15)), 1), None, None)
        if dtype == "Coded":
            return (None, None, int(self.rng.choice(CODED_ANSWERS)))
        return (None, str(self.rng.choice(TEXT_ANSWERS)), None)

    def _add_obs(self, enc_id, cid, dtype, when):
        vn, vt, vc = self._value(dtype)
        o = self.obs
        o["obs_id"].append(len(o["obs_id"]) + 1)
        o["encounter_id"].append(enc_id)
        o["concept_id"].append(cid)
        o["value_numeric"].append(vn)
        o["value_text"].append(vt)
        o["value_coded"].append(vc)
        o["obs_datetime"].append(when)
        o["voided"].append(0)

    def _new_encounter(self, et, when, full=False, obs_time=None):
        e = self.enc
        enc_id = len(e["encounter_id"]) + 1
        e["encounter_id"].append(enc_id)
        e["uuid"].append(f"e-{enc_id:08d}")
        e["encounter_type"].append(et)
        e["patient_id"].append(int(self.rng.integers(1, self.persons + 1)))
        e["encounter_datetime"].append(when)
        e["voided"].append(0)
        concepts = self.concepts_of[et]
        if full:
            chosen = concepts
        else:
            k = int(self.rng.integers(3, len(concepts) + 1))
            chosen = [concepts[i] for i in
                      sorted(self.rng.choice(len(concepts), k, replace=False))]
        for cid, dtype in chosen:
            at = obs_time or when + dt.timedelta(minutes=int(self.rng.integers(1, 90)))
            self._add_obs(enc_id, cid, dtype, at)
        return enc_id

    def _to_arrays(self):
        """The columns deltas edit in place (voided flags, obs times) move to
        arrays; the append lists keep install-time values of those two
        columns and grow with new rows, which `_grow` copies over."""
        self.enc_voided = np.array(self.enc["voided"], dtype=np.int32)
        self.obs_voided = np.array(self.obs["voided"], dtype=np.int32)
        self.obs_time = list(self.obs["obs_datetime"])
        self.obs_enc = np.array(self.obs["encounter_id"], dtype=np.int64)

    def land_delta(self, k, changed, voided, new):
        """Apply delta k: `changed` live encounters get 1-2 obs voided
        and replaced, `voided` encounters are voided with all their obs,
        and `new` encounters arrive dated in the last two months."""
        when = tick_time(k)
        n_obs = len(self.obs["obs_id"])
        live = [i for i in range(1, len(self.enc["encounter_id"]) + 1)
                if self.enc_voided[i - 1] == 0 and i not in self.protected]
        picks = self.rng.choice(len(live), changed + voided, replace=False)
        touched = [live[i] for i in picks]
        for enc_id in touched[:changed]:
            rows = np.flatnonzero((self.obs_enc == enc_id) & (self.obs_voided == 0))
            for r in self.rng.choice(rows, min(len(rows), int(self.rng.integers(1, 3))),
                                     replace=False):
                self.obs_voided[r] = 1
                self.obs_time[r] = when
                cid = self.obs["concept_id"][r]
                dtype = next(d for c, d in self.concepts_of[
                    self.enc["encounter_type"][enc_id - 1]] if c == cid)
                self._add_obs(enc_id, cid, dtype, when)
        for enc_id in touched[changed:]:
            self.enc_voided[enc_id - 1] = 1
            rows = np.flatnonzero((self.obs_enc == enc_id) & (self.obs_voided == 0))
            self.obs_voided[rows] = 1
            for r in rows:
                self.obs_time[r] = when
        recent = FIRST_MONTH + dt.timedelta(days=MONTHS * 30 - 60)
        for _ in range(new):
            et = int(self.rng.choice(np.array([1, 2, 3]), p=[0.45, 0.4, 0.15]))
            at = recent + dt.timedelta(minutes=int(self.rng.integers(0, 60 * 24 * 58)))
            self._new_encounter(et, at, obs_time=when)
        self._grow()
        # obs rows this delta wrote: every row it voided plus every new row
        voided_now = sum(1 for t in self.obs_time[:n_obs] if t == when)
        return voided_now + len(self.obs["obs_id"]) - n_obs

    def _grow(self):
        n_enc, n_obs = len(self.enc["encounter_id"]), len(self.obs["obs_id"])
        self.enc_voided = np.concatenate(
            [self.enc_voided, np.zeros(n_enc - len(self.enc_voided), np.int32)])
        added = n_obs - len(self.obs_voided)
        self.obs_voided = np.concatenate([self.obs_voided, np.zeros(added, np.int32)])
        self.obs_time.extend(self.obs["obs_datetime"][-added:] if added else [])
        self.obs_enc = np.array(self.obs["encounter_id"], dtype=np.int64)

    def snapshot(self, path):
        os.makedirs(path, exist_ok=True)
        ts = pa.timestamp("us", tz="UTC")
        tables = {
            "person": pa.table({
                "person_id": pa.array(self.person["person_id"], pa.int64()),
                "uuid": pa.array(self.person["uuid"].tolist(), pa.string()),
                "gender": pa.array(self.person["gender"].tolist(), pa.string()),
                "birthdate": pa.array(self.person["birthdate"], pa.date32()),
                "voided": pa.array(self.person["voided"], pa.int32())}),
            "encounter_type": pa.table({
                "encounter_type_id": pa.array([t for t, _ in ENCOUNTER_TYPES], pa.int32()),
                "uuid": pa.array([f"et-{t:04d}" for t, _ in ENCOUNTER_TYPES]),
                "name": pa.array([n for _, n in ENCOUNTER_TYPES])}),
            "concept": pa.table({
                "concept_id": pa.array([c[0] for c in CONCEPTS], pa.int64()),
                "name": pa.array([c[1] for c in CONCEPTS]),
                "datatype": pa.array([c[2] for c in CONCEPTS])}),
            "encounter": pa.table({
                "encounter_id": pa.array(self.enc["encounter_id"], pa.int64()),
                "uuid": pa.array(self.enc["uuid"], pa.string()),
                "encounter_type": pa.array(self.enc["encounter_type"], pa.int32()),
                "patient_id": pa.array(self.enc["patient_id"], pa.int64()),
                "encounter_datetime": pa.array(self.enc["encounter_datetime"], ts),
                "voided": pa.array(self.enc_voided, pa.int32())}),
            "obs": pa.table({
                "obs_id": pa.array(self.obs["obs_id"], pa.int64()),
                "encounter_id": pa.array(self.obs["encounter_id"], pa.int64()),
                "concept_id": pa.array(self.obs["concept_id"], pa.int64()),
                "value_numeric": pa.array(self.obs["value_numeric"], pa.float64()),
                "value_text": pa.array(self.obs["value_text"], pa.string()),
                "value_coded": pa.array(self.obs["value_coded"], pa.int64()),
                "obs_datetime": pa.array(self.obs_time, ts),
                "voided": pa.array(self.obs_voided, pa.int32())}),
        }
        for name, table in tables.items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))


def generate(out_dir, seed, ticks, n_persons=1500, n_encounters=5000,
             changed=30, voided=3, new=20):
    """Write snap_000 .. snap_<ticks> under out_dir. Returns their paths
    and, per delta, the bytes of user data it landed (obs rows written
    times the snapshot's bytes per obs row)."""
    src = Source(np.random.default_rng(seed), n_persons, n_encounters)
    paths, delta_bytes = [], [0]
    for k in range(ticks + 1):
        rows = src.land_delta(k, changed, voided, new) if k else 0
        p = os.path.join(out_dir, f"snap_{k:03d}")
        src.snapshot(p)
        paths.append(p)
        if k:
            per_row = os.path.getsize(os.path.join(p, "obs.parquet")) / len(src.obs["obs_id"])
            delta_bytes.append(rows * per_row)
    return {"paths": paths, "delta_bytes": delta_bytes}
