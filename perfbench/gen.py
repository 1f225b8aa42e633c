"""Seeded input generators for the benchmark workloads.

Every byte written here derives from ``numpy.random.default_rng(seed)``
(or ``random.Random(seed)``), so one seed always yields the same files.
Each generator also keeps the *model* the outputs are checked against:
the expected task state after every poll and the bronze FHIR records the
search requests run over.
"""

from __future__ import annotations

import json
import os
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str) -> None:
    # fixed writer settings: identical tables give identical bytes
    pq.write_table(table, path, compression="snappy")


def _choice(rng, values, n):
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)].tolist(), pa.string())


def _dates(rng, start: str, days: int, n: int) -> pa.Array:
    """Midnight timestamps on ``n`` random days from ``start``."""
    off = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(np.datetime64(start, "us") + off, pa.timestamp("us"))


# ---------------------------------------------------------------------------
# star schema + corpus tables (the layout ``sources.tables.load_tables`` reads)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "red", "hot", "old", "large", "small", "green", "dark"]
PART_NOUN = ["anvil", "ring", "plate", "rod", "bolt", "gizmo", "widget", "gear"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "signup", "purchase", "error"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def star_schema(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten ``sources.tables.TABLES`` parquet files at scale ``sf``
    (lineitem ~ 6M x sf rows), shaped like the TPC-H-ish tables the
    registry's analytics and corpus queries are written against."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 10), int(50_000 * sf)

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS)}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    }), f"{out_dir}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    }), f"{out_dir}/supplier.parquet")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _choice(rng, names, n_part),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    }), f"{out_dir}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
        "o_orderdate": _dates(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    }), f"{out_dir}/orders.parquet")
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    _write(pa.table({
        "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _choice(rng, ["F", "O"], n_line),
        "l_shipdate": _dates(rng, "1995-01-02", 2500, n_line),
    }), f"{out_dir}/lineitem.parquet")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _choice(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    }), f"{out_dir}/events.parquet")

    # documents: random token streams, ~5% near-duplicates of an earlier
    # document (the original plus trailing " dup" tokens) so dedup and
    # similarity queries always find pairs
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]
            texts.append(" ".join(words.tolist()))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n_docs),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), f"{out_dir}/documents.parquet")

    # embeddings: 64-d unit vectors around 10 weak label centroids
    labels = rng.integers(0, 10, n_docs)
    centroids = rng.standard_normal((10, 64)) * 0.15
    vecs = centroids[labels] + rng.standard_normal((n_docs, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n_docs * 64 + 1, 64, dtype=np.int32)),
        pa.array(vecs.astype(np.float32).ravel()),
    )
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    }), f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# FHIR bronze store (``sources.fhir`` resources layout) + search requests

_GENDERS = ["female", "male", "other", "unknown"]
_COND_CODES = ["44054006", "38341003", "55822004", "73211009", "195967001", "271737000"]
_OBS_CODES = ["29463-7", "8302-2", "39156-5", "2093-3", "72514-3"]
_TASK_STATUS = ["accepted", "in-progress", "completed", "requested"]


def fhir_bronze(path: str, seed: int, n_patients: int) -> dict[str, list[dict]]:
    """Write a bronze ``resources`` parquet (Patient, Condition,
    Observation, Organization, Task) and return the per-type field records
    the ``fhir.views`` projections should derive from it."""
    rnd = random.Random(seed)
    rows, model = [], {"Patient": [], "Condition": [], "Observation": [],
                       "Organization": [], "Task": []}
    t0 = datetime(2025, 1, 1)

    def add(rtype: str, rid: str, res: dict, fields: dict) -> None:
        res = {"resourceType": rtype, "id": rid, **res}
        rows.append({
            "id": len(rows), "key": f"{rtype}/{rid}", "resource_type": rtype,
            "resource_string": json.dumps(res, separators=(",", ":")),
            "last_updated": t0 + timedelta(seconds=rnd.randrange(200 * 86400)),
            "version_id": rnd.randint(1, 3),
        })
        model[rtype].append({"_id": rid, "key": f"{rtype}/{rid}", **fields})

    for i in range(n_patients):
        birth = f"{rnd.randint(1930, 2015)}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"
        gender = rnd.choice(_GENDERS)
        country = rnd.choice(["GB", "US"])
        nhs = f"{rnd.randrange(10**9):09d}"
        add("Patient", str(i), {
            "identifier": [{"system": "https://fhir.nhs.uk/Id/nhs-number", "value": nhs}],
            "gender": gender, "birthDate": birth, "address": [{"country": country}],
        }, {"identifier": f"https://fhir.nhs.uk/Id/nhs-number|{nhs}", "birthdate": birth,
            "gender": gender, "address_country": country})
    for i in range(n_patients * 2):
        code, pat = rnd.choice(_COND_CODES), f"Patient/{rnd.randrange(n_patients)}"
        onset = f"{rnd.randint(1990, 2024)}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}"
        add("Condition", str(i), {
            "code": {"coding": [{"system": "http://snomed.info/sct", "code": code}]},
            "subject": {"reference": pat}, "onsetDateTime": onset,
        }, {"patient": pat, "code": f"{code},http://snomed.info/sct|{code}",
            "onset_date_start": onset})
    for i in range(n_patients * 4):
        code, pat = rnd.choice(_OBS_CODES), f"Patient/{rnd.randrange(n_patients)}"
        value = round(rnd.uniform(1, 200), 2)
        eff = f"{rnd.randint(2010, 2024)}-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}T10:00:00+00:00"
        add("Observation", str(i), {
            "status": "final",
            "code": {"coding": [{"system": "http://loinc.org", "code": code}]},
            "subject": {"reference": pat}, "effectiveDateTime": eff,
            "valueQuantity": {"value": value, "unit": "mg/dL"},
        }, {"patient": pat, "code": f"{code},http://loinc.org|{code}", "date_start": eff,
            "vq_value": value, "vq_unit": "mg/dL"})
    for i in range(max(n_patients // 4, 10)):
        ods = f"{chr(65 + i % 26)}{i:05d}"
        country = rnd.choice(["GB", "GB", "IE"])
        add("Organization", str(i), {
            "identifier": [{"system": "https://fhir.nhs.uk/Id/ods-organization-code", "value": ods}],
            "name": f"Practice {i}",
            "type": [{"coding": [{"system": "https://fhir.nhs.uk/CodeSystem/organisation-role",
                                  "code": "76"}]}],
            "address": [{"country": country}],
        }, {"identifier": f"https://fhir.nhs.uk/Id/ods-organization-code|{ods}",
            "address_country": country})
    for i in range(max(n_patients // 2, 10)):
        status = rnd.choice(_TASK_STATUS)
        authored = t0 + timedelta(seconds=rnd.randrange(300 * 86400))
        version = rnd.randint(1, 1200)
        tid = f"task-{i:06d}"
        add("Task", tid, {
            "status": status, "authoredOn": authored.strftime("%Y-%m-%dT%H:%M:%S+00:00"),
            "meta": {"versionId": str(version)},
        }, {"status": status, "authored_on": authored, "version_id": version})
    # Task rows keep the task id itself (task_view projects it as ``id``)
    for r in model["Task"]:
        r["id"] = r["_id"]
    _write(pa.Table.from_pylist(rows, schema=pa.schema([
        ("id", pa.int64()), ("key", pa.string()), ("resource_type", pa.string()),
        ("resource_string", pa.string()), ("last_updated", pa.timestamp("us")),
        ("version_id", pa.int32()),
    ])), path)
    return model


def search_requests(seed: int, model: dict[str, list[dict]], n: int) -> list[tuple[str, dict]]:
    """``n`` seeded (resource type, FHIR search-param dict) requests in the
    shapes the reference issues (cohort filters, code lookups, Task polls)."""
    rnd = random.Random(seed * 7919 + 1)
    out = []
    shapes = ["patient", "condition", "observation", "organization", "task"]
    for i in range(n):
        shape = shapes[i % len(shapes)]
        if shape == "patient":
            out.append(("Patient", {
                "gender": rnd.choice(_GENDERS[:2]),
                "birthdate": f"gt{rnd.randint(1940, 2000)}-01-01",
                "_sort": "-birthdate,_id", "_count": "20"}))
        elif shape == "condition":
            out.append(("Condition", {
                "code": ",".join(rnd.sample(_COND_CODES, 2)),
                "patient": f"Patient/{rnd.randrange(len(model['Patient']))}",
                "_sort": "onset-date-start,_id"}))
        elif shape == "observation":
            out.append(("Observation", {
                "code": rnd.choice(_OBS_CODES),
                "vq-value": f"ge{rnd.randint(50, 190)}",
                "_sort": "-date-start,_id", "_count": "50"}))
        elif shape == "organization":
            org = rnd.choice(model["Organization"])
            out.append(("Organization", {"identifier": org["identifier"].split("|")[1]}))
        else:
            out.append(("Task", {
                "status": "accepted", "authored-on": f"gt2025-0{rnd.randint(1, 9)}-01",
                "_sort": "-authored-on", "_count": "5"}))
    return out


def search_expected(model: dict[str, list[dict]], rtype: str, params: dict) -> list[str]:
    """Reference evaluation of ``search.params.compile_search`` semantics
    over the generator's records: the ordered list of matching ids."""
    rows = model[rtype]
    idcol = "id" if rtype == "Task" else "_id"

    def col(p):
        return p.replace("-", "_")

    def match(r, p, v):
        val = r[col(p)]
        if v[:2] in ("gt", "ge", "lt", "le", "ne") and len(v) > 2:
            lit = v[2:]
            if isinstance(val, datetime):
                lit = datetime.fromisoformat(lit)
            elif isinstance(val, float):
                lit = float(lit)
            return {"gt": val > lit, "ge": val >= lit, "lt": val < lit,
                    "le": val <= lit, "ne": val != lit}[v[:2]]
        if col(p) in ("identifier", "code", "type"):
            return v in val
        return val == v

    out = [r for r in rows
           if all(any(match(r, p, v) for v in str(vs).split(","))
                  for p, vs in params.items() if not p.startswith("_"))]
    if "_sort" in params:
        out.sort(key=lambda r: r[idcol])
        for k in reversed(params["_sort"].split(",")):
            desc = k.startswith("-")
            out.sort(key=lambda r, c=col(k.lstrip("-")): r[c], reverse=desc)
    if "_count" in params:
        out = out[: int(params["_count"])]
    return [r[idcol] for r in out]


# ---------------------------------------------------------------------------
# Task poll files (``streaming.tasks.TASK_SCHEMA``) + the state-machine model

TASK_TERMINAL = ("completed", "failed", "cancelled", "rejected")
TASK_NEXT = {"accepted": "in-progress", "in-progress": "completed"}
TASK_RUNAWAY = 1000
TASK_ARROW_SCHEMA = pa.schema([
    ("id", pa.string()), ("status", pa.string()), ("authored_on", pa.timestamp("us")),
    ("version_id", pa.int32()), ("focus_identifier_system", pa.string()),
    ("focus_identifier_value", pa.string()), ("note", pa.string()),
    ("output", pa.string()), ("resource_string", pa.string()),
])


class TaskFeed:
    """Generates one parquet file of Tasks per poll and advances the model
    of ``streaming.tasks.TaskStateMachine``'s state table alongside.

    A poll file holds ``n_new`` new accepted tasks, ~20% redeliveries of
    earlier tasks (some twice in one file at different versions), a few
    versions above the runaway guard and a few tasks that arrive terminal."""

    def __init__(self, seed: int, n_new: int):
        self.rnd = random.Random(seed)
        self.n_new = n_new
        self.next_id = 0
        self.polls = 0
        # id -> (status, authored_on, version_id, n_transitions)
        self.state: dict[str, tuple] = {}
        self.seen: list[str] = []
        self.last_redelivered: set[str] = set()

    def _task(self, tid: str, status: str, authored: datetime, version: int) -> dict:
        return {
            "id": tid, "status": status, "authored_on": authored, "version_id": version,
            "focus_identifier_system": "https://fhir.virtually.healthcare/Id/Encounter",
            "focus_identifier_value": f"ENC-{tid[2:]}", "note": None, "output": "[]",
            "resource_string": json.dumps({"resourceType": "Task", "id": tid, "status": status,
                                           "meta": {"versionId": str(version)}}),
        }

    def next_poll(self, path: str) -> None:
        r = self.rnd
        base = datetime(2025, 7, 1) + timedelta(hours=self.polls)
        batch = []
        for _ in range(self.n_new):
            tid = f"T-{self.next_id:08d}"
            self.next_id += 1
            status = "accepted"
            roll = r.random()
            if roll < 0.02:
                status = r.choice(TASK_TERMINAL)  # arrives already terminal
            version = r.randint(1001, 1100) if 0.02 <= roll < 0.04 else r.randint(1, 20)
            batch.append(self._task(tid, status, base + timedelta(seconds=r.randrange(3600)), version))
            self.seen.append(tid)
        n_redeliver = len(batch) // 5 if self.polls else 0
        old = self.seen[: len(self.seen) - self.n_new]
        self.last_redelivered = set(r.sample(old, n_redeliver)) if n_redeliver else set()
        for tid in sorted(self.last_redelivered):
            version = r.randint(1, 30)
            batch.append(self._task(tid, r.choice(["accepted", "in-progress"]),
                                    base - timedelta(days=1), version))
            if r.random() < 0.1:  # the same task twice in one file
                batch.append(self._task(tid, "accepted", base - timedelta(days=1), version + 1))
        r.shuffle(batch)
        self._apply(batch)
        self.polls += 1
        tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
        _write(pa.Table.from_pylist(batch, schema=TASK_ARROW_SCHEMA), tmp)
        os.rename(tmp, path)

    def _apply(self, batch: list[dict]) -> None:
        latest: dict[str, dict] = {}
        for t in batch:
            if t["id"] not in latest or t["version_id"] > latest[t["id"]]["version_id"]:
                latest[t["id"]] = t
        for tid, t in latest.items():
            if t["version_id"] > TASK_RUNAWAY:
                continue
            st = self.state.get(tid)
            status, authored, version, n = st if st else (t["status"], t["authored_on"],
                                                          t["version_id"], 0)
            if status in TASK_TERMINAL:
                continue
            self.state[tid] = (TASK_NEXT.get(status, status), authored, version + 1, n + 1)

    def expected(self) -> dict[str, tuple]:
        return dict(self.state)
