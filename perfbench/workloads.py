"""The benchmark workloads.

Every workload is a closed loop with one client: the next operation is
sent only after the previous one has committed, because every caller in
the reference (an analyst's notebook, the 1-minute Task poll) waits for
its reply.  A workload exposes

* ``unit()``   - one closed-loop unit (a query pass or a poll),
  appending one latency per operation to ``lat``;
* ``setup()``  - ``WARMUP_UNITS`` units run before measuring: JIT and
  codegen, the Python worker pool and the streaming state store warm up
  there and are timed into ``setup_s``, never into the steady state;
* ``check()``  - compare outputs with the reference, outside any timing;
* ``layer_metrics()`` - the counts only this workload can observe.

Inputs come only from ``gen`` and the seed; the program sees the files.
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import check
import gen

from data_engineering_examples_spark.fhir import views
from data_engineering_examples_spark.functions.fhirpath import register_fhirpath_udfs
from data_engineering_examples_spark.plans import all_specs
from data_engineering_examples_spark.search.params import compile_search
from data_engineering_examples_spark.sources.fhir import load_fhir_tables
from data_engineering_examples_spark.sources.tables import TABLES
from data_engineering_examples_spark.streaming.tasks import TaskStateMachine

now = time.perf_counter


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _files(path: str) -> list[str]:
    return [f for f in os.listdir(path) if f.endswith(".parquet")]


class Workload:
    name = ""
    WARMUP_UNITS = 1

    def __init__(self, spark, tracer, seed: int, work: str):
        self.spark, self.tr, self.seed, self.work = spark, tracer, seed, work
        self.rnd = random.Random(seed)
        self.lat: list[float] = []          # steady-state op latencies
        self.traced_lat: list[float] = []   # the same, from the traced half
        self.program_s = 0.0                # program time inside the window
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.measuring = False              # False during setup()
        self.log: list[str] = []            # labelled latencies, for stderr

    def _attempt(self, fn, *args):
        """Run one operation.  While measuring, a failure is counted,
        logged and survived; during set-up it aborts the run."""
        if not self.measuring:
            return fn(*args)
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the loop must keep running
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None

    def record(self, seconds: float, label: str = "") -> None:
        if self.measuring:
            (self.traced_lat if self.tr.enabled else self.lat).append(seconds)
            self.program_s += seconds
            self.log.append(f"{label}{seconds:.3f}")

    def setup(self) -> None:
        for _ in range(self.WARMUP_UNITS):
            self.unit()

    def layer_metrics(self) -> dict:
        return {}


# ---------------------------------------------------------------------------


class ClinicalQuery(Workload):
    """Analyst queries: the fhir-tagged registry queries over the FHIR
    fixtures, FHIR search requests compiled over the ``fhir.views``
    projections of a generated bronze store, and star-schema analytics
    queries.  One of the fhir queries, q131 patient linkage, runs
    ``operators.graph.connected_components``, which writes every round
    through ``scratch.materialize``.  Read only: no sink, no streaming,
    no substrate cache."""

    name = "clinical_query"
    WARMUP_UNITS = 3   # the first pass is 4-5x a steady one, the next two about 1.2x
    SF = 0.05
    N_PATIENTS = 1000
    N_SEARCH = 5
    QUERIES = (
        "q11_diabetes_cohort", "q14_race_ethnicity", "q41_patient_silver_from_bronze",
        "q131_patient_linkage", "q266_order_count_distribution", "q271_priority_late_orders",
    )
    VIEWS = {
        "Patient": views.patient_view, "Condition": views.condition_view,
        "Observation": views.observation_view, "Organization": views.organization_view,
        "Task": views.task_view,
    }

    def __init__(self, *a):
        super().__init__(*a)
        self.sf_dir = os.path.join(self.work, "sf")
        self.fhir_dir = os.path.join(self.work, "fhir")
        os.makedirs(self.fhir_dir)
        gen.star_schema(self.sf_dir, self.seed, self.SF)
        self.model = gen.fhir_bronze(os.path.join(self.fhir_dir, "resources.parquet"),
                                     self.seed, self.N_PATIENTS)
        self.requests = gen.search_requests(self.seed, self.model, self.N_SEARCH)
        self.specs = {n: all_specs()[n] for n in self.QUERIES}
        self.ops = [("query", n) for n in self.QUERIES] + [
            ("search", i) for i in range(len(self.requests))]
        self.results: dict = {}   # op -> (cols, rows) of its first run
        self.digests: dict = {}   # op -> digest of every later run
        self.materializations: list[int] = []   # per traced pass

    def _query(self, name: str):
        t0 = now()
        with self.tr.span("plans.build", query=name):
            df = self.specs[name].fn(self.spark, self.sf_dir)
        with self.tr.span("plans.action", query=name) as span:
            rows = df.collect()
            span["rows"] = len(rows)
        return now() - t0, df.columns, rows

    def _search(self, i: int):
        rtype, params = self.requests[i]
        t0 = now()
        with self.tr.span("sources.read_bronze"):
            res = load_fhir_tables(self.spark, ["resources"], self.fhir_dir)["resources"]
        with self.tr.span("fhir.view", resource=rtype):
            view = self.VIEWS[rtype](res)
            if self.tr.enabled:
                _noop(view)
        with self.tr.span("search.compile", resource=rtype):
            df = compile_search(view, params)
        with self.tr.span("plans.action", search=rtype) as span:
            idcol = "id" if rtype == "Task" else "_id"
            rows = df.select(idcol).collect()
            span["rows"] = len(rows)
        return now() - t0, [idcol], rows

    def _op(self, op):
        kind, arg = op
        out = self._attempt(self._query if kind == "query" else self._search, arg)
        if out is None:
            return
        dt, cols, rows = out
        self.record(dt, f"{arg if kind == 'query' else self.requests[arg][0]}=")
        if op not in self.results:
            self.results[op] = (cols, rows)
        else:
            self.digests.setdefault(op, set()).add(check.digest(cols, rows))

    def _pass(self) -> None:
        order = self.ops[:]
        self.rnd.shuffle(order)
        n_spans = len(self.tr.spans)
        for op in order:
            self._op(op)
            self.tr.collect()
        if self.tr.enabled:
            self.materializations.append(sum(
                1 for s in self.tr.spans[n_spans:] if s["name"] == "scratch.materialize"))
            # the FHIRPath pandas UDF, materialised at the functions boundary
            register_fhirpath_udfs(self.spark)
            res = load_fhir_tables(self.spark, ["resources"], self.fhir_dir)["resources"]
            with self.tr.span("functions.fhirpath"):
                _noop(views.patient_view(res).select(
                    F.call_udf("fhirpath_one", F.col("resource_string"), F.lit("Patient.gender"))))
            self.tr.collect()

    def unit(self) -> None:
        self._pass()

    def check(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.sf_dir, t)}.parquet')")
        problems = []
        for op, (cols, rows) in self.results.items():
            kind, arg = op
            if kind == "query":
                rel = con.execute(self.specs[arg].oracle)
                problems += check.compare_rows(arg, cols, rows,
                                               [d[0] for d in rel.description], rel.fetchall())
            else:
                rtype, params = self.requests[arg]
                want = gen.search_expected(self.model, rtype, params)
                got = [r[0] for r in rows]
                if got != want:
                    problems.append(f"search {rtype} {params}: {got[:5]} != {want[:5]}")
            later = self.digests.get(op, set()) - {check.digest(cols, rows)}
            if later:
                problems.append(f"{op}: result changed between runs")
        return problems

    def layer_metrics(self) -> dict:
        return {"scratch.materializations_per_pass": _median(self.materializations)}


# ---------------------------------------------------------------------------


class _TracedStateMachine(TaskStateMachine):
    """Adds a span around each micro-batch of the state machine."""

    def __init__(self, tracer, *args, **kw):
        super().__init__(*args, **kw)
        self.tracer = tracer

    def process_batch(self, batch, batch_id):
        with self.tracer.span("streaming.process_batch"):
            super().process_batch(batch, batch_id)


class TaskPoll(Workload):
    """The consultation-writeback Task poll: the generator drops one
    parquet file of Tasks, then ``TaskStateMachine.run_available`` drains
    it (an ``availableNow`` trigger is one Airflow poll).  State grows
    through the run."""

    name = "task_poll"
    WARMUP_UNITS = 4   # poll times settle after the fourth poll
    N_NEW = 2000
    STATE_ROWS_AT_POLL = 2   # exact-count probe point (warm-up included)
    NOW = "2025-09-01 00:00:00"

    def __init__(self, *a):
        super().__init__(*a)
        self.feed = gen.TaskFeed(self.seed, self.N_NEW)
        self.inbox = os.path.join(self.work, "inbox")
        self.ckpt = os.path.join(self.work, "checkpoint")
        self.state_dir = os.path.join(self.work, "state")
        os.makedirs(self.inbox)
        self.sm = _TracedStateMachine(self.tr, self.spark, self.state_dir, now_utc=self.NOW)
        self.prev: dict = {}
        self.transitions: list[int] = []
        self.files: list[int] = []
        self.rewrite_ratio: list[float] = []
        self.state_rows = self.state_bytes = 0

    def _poll(self) -> float:
        t0 = now()
        with self.tr.span("streaming.run_available"):
            self.sm.run_available(self.inbox, self.ckpt)
        return now() - t0

    def _after_poll(self) -> None:
        state = check.task_state_rows(pq.read_table(self.state_dir))
        self.problems += check.task_invariants(self.prev, state, self.feed.last_redelivered)
        moved = sum(1 for k, v in state.items() if self.prev.get(k) != v)
        self.transitions.append(moved)
        if self.tr.enabled:
            self.files.append(len(_files(self.state_dir)))
            self.rewrite_ratio.append(len(state) / max(moved, 1))
        self.prev = state
        if self.feed.polls == self.STATE_ROWS_AT_POLL:
            self.state_rows = len(state)
            self.state_bytes = sum(os.path.getsize(os.path.join(self.state_dir, f))
                                   for f in _files(self.state_dir))

    def unit(self) -> None:
        self.feed.next_poll(os.path.join(self.inbox, f"poll-{self.feed.polls:05d}.parquet"))
        dt = self._attempt(self._poll)
        if dt is not None:
            self.record(dt)
        self._after_poll()
        self.tr.collect()

    def setup(self) -> None:
        super().setup()
        self.transitions.clear()

    def check(self) -> list[str]:
        got = check.task_state_rows(pq.read_table(self.state_dir))
        return self.problems + check.compare_keyed("task state", got, self.feed.expected())

    def layer_metrics(self) -> dict:
        return {
            "streaming.state_rows": self.state_rows,
            "streaming.state_bytes": self.state_bytes,
            "streaming.transitions_per_poll": _median(self.transitions),
            "sinks.files_written_per_op": _median(self.files),
            "sinks.rows_rewritten_per_row_changed": _median(self.rewrite_ratio),
        }


WORKLOADS = {w.name: w for w in (ClinicalQuery, TaskPoll)}
