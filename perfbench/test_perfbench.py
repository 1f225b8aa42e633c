"""Tests of the benchmark itself: seeded inputs, output checkers, exact
counts and the command-line contract.

    python3 -m pytest perfbench -q

The exact-count tests start Spark (up to a minute per run).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
from datetime import datetime

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def _same_tree(a: str, b: str) -> bool:
    files = sorted(f for f in os.listdir(a) if os.path.isfile(os.path.join(a, f)))
    assert files == sorted(f for f in os.listdir(b) if os.path.isfile(os.path.join(b, f)))
    assert files
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    return not mismatch and not errors


def _inputs(out: str, seed: int) -> None:
    gen.star_schema(os.path.join(out, "sf"), seed, 0.002)
    gen.fhir_bronze(os.path.join(out, "resources.parquet"), seed, 50)
    tasks = gen.TaskFeed(seed, 50)
    for i in range(3):
        tasks.next_poll(os.path.join(out, f"poll-{i}.parquet"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for d, seed in (("a", 7), ("b", 7), ("c", 8)):
        os.makedirs(tmp_path / d)
        _inputs(str(tmp_path / d), seed)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert _same_tree(tmp_path / "a" / "sf", tmp_path / "b" / "sf")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_row_checker_rejects_a_corrupted_result():
    cols, rows = ["k", "v"], [(1, 0.5), (2, "x"), (3, None)]
    assert check.compare_rows("q", cols, rows, ["v", "k"], [("x", 2), (None, 3), (0.5, 1)]) == []
    bad = [(1, 0.5), (2, "y"), (3, None)]
    assert check.compare_rows("q", cols, bad, cols, rows)
    assert check.compare_rows("q", cols, rows[:2], cols, rows)
    assert check.digest(cols, rows) != check.digest(cols, bad)


def test_table_checker_rejects_a_corrupted_table(tmp_path):
    feed = gen.TaskFeed(5, 100)
    for i in range(3):
        feed.next_poll(str(tmp_path / f"poll-{i}.parquet"))
    want = feed.expected()
    assert check.compare_keyed("t", dict(want), want) == []
    k = sorted(want)[0]
    corrupted = dict(want)
    corrupted[k] = ("failed",) + corrupted[k][1:]
    assert check.compare_keyed("t", corrupted, want)
    dropped = dict(want)
    del dropped[k]
    assert check.compare_keyed("t", dropped, want)


def test_task_checker_rejects_regressions_and_double_transitions():
    t = datetime(2025, 7, 1)
    before = {"a": ("completed", t, 3, 2), "b": ("accepted", t, 1, 0)}
    good = {"a": ("completed", t, 3, 2), "b": ("in-progress", t, 2, 1)}
    assert check.task_invariants(before, good, {"b"}) == []
    regressed = {"a": ("in-progress", t, 4, 3), "b": ("in-progress", t, 2, 1)}
    assert check.task_invariants(before, regressed, set())
    twice = {"a": ("completed", t, 3, 2), "b": ("completed", t, 3, 2)}
    assert check.task_invariants(before, twice, {"b"})


def test_search_reference_orders_and_limits():
    model = {"Patient": [
        {"_id": "1", "gender": "female", "birthdate": "1990-01-01"},
        {"_id": "2", "gender": "female", "birthdate": "1995-01-01"},
        {"_id": "3", "gender": "male", "birthdate": "1999-01-01"},
        {"_id": "0", "gender": "female", "birthdate": "1995-01-01"},
    ]}
    params = {"gender": "female", "birthdate": "gt1980-01-01", "_sort": "-birthdate,_id",
              "_count": "2"}
    assert gen.search_expected(model, "Patient", params) == ["0", "2"]


def _run(workload: str, seed: int, cwd: str = ROOT, env=None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1"],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=300)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = _run("task_poll", 1, cwd=str(tmp_path), env=env)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


EXACT = {
    "task_poll": "streaming.state_rows",
    "clinical_query": "scratch.materializations_per_pass",
}


@pytest.mark.parametrize("workload", sorted(EXACT))
def test_exact_counts_repeat_between_runs(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        per_layer = {m["name"] for m in json.load(f)["per_layer"]}
    seen = []
    for _ in range(2):
        proc = _run(workload, 11)
        assert proc.returncode == 0, proc.stderr[-2000:]
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0
        assert set(out["metrics"]) == per_layer
        seen.append(out["metrics"][EXACT[workload]]["value"])
    assert seen[0] == seen[1] > 0
