"""Output checks.  Each returns a list of problems; empty means correct."""

from __future__ import annotations

import decimal
import hashlib
import json
import math

from gen import TASK_TERMINAL


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def canonical(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, then rows sorted: an order-insensitive form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_cell(r[i]) for i in order) for r in rows]
    out.sort(key=repr)
    return [cols[i] for i in order], out


def digest(cols: list[str], rows: list[tuple]) -> str:
    c, r = canonical(cols, rows)
    return hashlib.md5(repr((c, r)).encode()).hexdigest()


def compare_rows(name: str, got_cols, got_rows, want_cols, want_rows) -> list[str]:
    """Row count, column names and every value, order-insensitive."""
    if sorted(got_cols) != sorted(want_cols):
        return [f"{name}: columns {sorted(got_cols)} != {sorted(want_cols)}"]
    if len(got_rows) != len(want_rows):
        return [f"{name}: {len(got_rows)} rows != {len(want_rows)}"]
    _, g = canonical(got_cols, got_rows)
    _, w = canonical(want_cols, want_rows)
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if bad:
        i = bad[0]
        return [f"{name}: {len(bad)}/{len(g)} rows differ, first {g[i]!r} != {w[i]!r}"]
    return []


def compare_keyed(name: str, got: dict, want: dict) -> list[str]:
    """Key-by-key comparison of a table against the generator's model."""
    problems = []
    missing = want.keys() - got.keys()
    extra = got.keys() - want.keys()
    if missing:
        problems.append(f"{name}: {len(missing)} keys missing, e.g. {sorted(missing)[0]}")
    if extra:
        problems.append(f"{name}: {len(extra)} unexpected keys, e.g. {sorted(extra)[0]}")
    wrong = sorted(k for k in want.keys() & got.keys() if got[k] != want[k])
    if wrong:
        k = wrong[0]
        problems.append(f"{name}: {len(wrong)} keys differ, e.g. {k}: {got[k]!r} != {want[k]!r}")
    return problems


def task_state_rows(table) -> dict[str, tuple]:
    """State table (pyarrow) -> id -> (status, authored_on, version_id,
    number of audit notes), the shape ``gen.TaskFeed.expected`` returns."""
    out = {}
    for r in table.to_pylist():
        notes = json.loads(r["note"]) if r["note"] else []
        out[r["id"]] = (r["status"], r["authored_on"], r["version_id"], len(notes))
    return out


def task_invariants(before: dict, after: dict, redelivered: set[str]) -> list[str]:
    """Terminal tasks never regress; a task transitions at most once per
    poll, redelivered or not."""
    problems = []
    for tid, (status, _, version, notes) in after.items():
        prev = before.get(tid)
        if prev is None:
            continue
        if prev[0] in TASK_TERMINAL and (status, version) != (prev[0], prev[2]):
            problems.append(f"terminal task {tid} regressed {prev[0]} -> {status}")
        if notes - prev[3] > 1:
            tag = " (redelivered)" if tid in redelivered else ""
            problems.append(f"task {tid}{tag} transitioned {notes - prev[3]} times in one poll")
    return problems[:5]
