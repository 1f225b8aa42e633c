"""Span recorder for the traced run.

A span is (name, start, end, parent) around one call from the benchmark
into a layer of the package.  Spans stay in memory and are written as one
JSON file when the run ends.  Each span also remembers the range of Spark
job ids that were submitted while it was open; after each operation the
recorder reads those jobs' stages from Spark's status store (which the
session keeps even with the UI disabled) and charges every stage to the
innermost span that submitted it, so the per-layer GC time, shuffle
fetch wait, spill and failed tasks are self figures, not inclusive ones.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# v1.StageData accessors summed per span; times are in ms
STAGE_FIELDS = (
    "executorRunTime", "jvmGcTime", "shuffleFetchWaitTime", "inputBytes",
    "inputRecords", "outputBytes", "memoryBytesSpilled", "diskBytesSpilled",
    "numFailedTasks", "numTasks",
)


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    so the untraced run pays nothing but a context-manager call."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._seen_stages: set[int] = set()
        self._sc = spark.sparkContext._jsc.sc() if enabled else None

    def _next_job(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "parent": parent["id"] if parent else None,
             "start": time.perf_counter(), "job0": self._next_job(),
             "children": [], **attrs}
        if parent:
            parent["children"].append(s)
        self.spans.append(s)
        self._pending.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["job1"] = self._next_job()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call."""
        def traced(*args, **kw):
            with self.span(name):
                return fn(*args, **kw)
        return traced

    def collect(self) -> None:
        """Attach self stage metrics to every span closed since the last
        call.  Call between operations, outside any timed window."""
        if self._sc is None or not self._pending:
            return
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        still_open = [s for s in self._pending if "job1" not in s]
        for s in self._pending:
            if "job1" not in s:
                continue
            own = set(range(s["job0"], s["job1"]))
            for c in s["children"]:
                own -= set(range(c["job0"], c["job1"]))
            stats = dict.fromkeys(STAGE_FIELDS, 0)
            stats["jobs"] = len(own)
            for jid in sorted(own):
                try:
                    stage_ids = store.job(jid).stageIds()
                except Py4JJavaError:  # job evicted or never registered: nothing to charge
                    continue
                for i in range(stage_ids.size()):
                    sid = stage_ids.apply(i)
                    if sid in self._seen_stages:
                        continue  # a reused shuffle stage is charged to its first job
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(sid)
                    for f in STAGE_FIELDS:
                        stats[f] += int(getattr(sd, f)())
            s["stats"] = stats
        self._pending = still_open

    def write(self, path: str) -> None:
        if self._sc is None:
            return
        with open(path, "w") as f:
            for s in self.spans:
                rec = {k: v for k, v in s.items() if k != "children"}
                f.write(json.dumps(rec) + "\n")

    def self_time(self, s: dict) -> float:
        """Span duration minus the part its children cover."""
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in s["children"])
