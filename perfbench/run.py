"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
                             [--cpus nproc|N] [--driver-memory 3g]

Run from the root of a checkout.  One run generates the workload's inputs
from ``--seed``, starts the session, sets up and warms up, then runs the
workload's closed loop for ``--seconds`` of steady state, checks every
output outside the timed window and prints one JSON object as the last
line of stdout.  With ``--trace 0`` the metrics are the end-to-end ones
listed in BENCHMARK.json; with ``--trace 1`` the run is split into an
untraced and a traced half, and the metrics are the per-layer ones (the
spans go to ``perfbench/.work/spans-<workload>-<seed>.jsonl``).

The environment the program runs in is pinned here: ``SPARK_GRAFT_CPUS``
is the number of CPUs this process may use (the program's default of 32
puts 32 task threads on a small machine), ``SPARK_DRIVER_MEMORY`` is
given on the command line, the checkout is on ``PYTHONPATH`` for the
Python workers, and every temporary file stays under ``perfbench/.work``.
All other settings are the program's defaults.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = ("session", "plans", "sources", "fhir", "search", "functions",
          "operators", "sinks", "streaming", "scratch")

now = time.perf_counter


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", default="nproc")
    p.add_argument("--driver-memory", default="3g")
    return p.parse_args(argv)


def pin_env(args, work: str) -> int:
    cpus = len(os.sched_getaffinity(0)) if args.cpus == "nproc" else int(args.cpus)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = args.driver_memory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # -XX:-UsePerfData: each JVM (the launcher's too) would otherwise keep
    # a counters file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-XX:-UsePerfData -Djava.io.tmpdir=' + tmp)}"
        " pyspark-shell")
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, ROOT)
    return cpus


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def end_to_end(wl, start_s: float, warmup_s: float) -> dict:
    return {
        "setup_s": start_s + warmup_s,
        "op_p50_s": _median(wl.lat),
        "ops_per_s": len(wl.lat) / wl.program_s if wl.program_s else 0.0,
        "ok_share": (wl.attempted - wl.failed) / max(wl.attempted, 1),
    }


def per_layer(wl, tr, n_setup: int, cpus: int, start_s: float, warmup_s: float,
              rss_mb: float) -> dict:
    spans = tr.spans[n_setup:]
    n_ops = max(len(wl.traced_lat), 1)

    def durs(name):
        return [s["end"] - s["start"] for s in spans if s["name"] == name]

    def total(field, layer=None, among=spans):
        return sum(s.get("stats", {}).get(field, 0) for s in among
                   if layer is None or s["name"].split(".")[0] == layer)

    m = {
        "session.start_s": start_s,
        "session.warmup_s": warmup_s,
        "session.jvm_peak_rss_mb": rss_mb,
        "plans.build_s": _median(durs("plans.build")),
        "plans.action_s": _median(durs("plans.action")),
        "plans.jobs_per_op": total("jobs") / n_ops,
        "plans.tasks_per_op": total("numTasks") / n_ops,
        "sources.input_bytes_per_op": total("inputBytes") / n_ops,
        "fhir.view_s": _median(durs("fhir.view")),
        "search.compile_s": _median(durs("search.compile")),
        "functions.udf_s": _median(durs("functions.fhirpath")),
        "operators.cc_s": _median(durs("operators.connected_components")),
        "scratch.materialize_s": _median(durs("scratch.materialize")),
        "sinks.merge_s": _median(durs("sinks.swap_write")),
        "sinks.bytes_written_per_op": total("outputBytes", "sinks") / n_ops,
        "streaming.run_available_s": _median(durs("streaming.run_available")),
        "streaming.process_batch_s": _median(durs("streaming.process_batch")),
        "trace.overhead_s": _median(wl.traced_lat) - _median(wl.lat),
    }
    actions = [s for s in spans if s["name"] == "plans.action"]
    wall = sum(s["end"] - s["start"] for s in actions)
    busy = total("executorRunTime", among=actions) / 1000.0
    m["plans.core_busy_ratio"] = busy / (wall * cpus) if wall else 0.0
    rows = sum(s.get("rows", 0) for s in spans)
    m["sources.rows_examined_per_row_returned"] = total("inputRecords") / rows if rows else 0.0
    m["streaming.trigger_overhead_s"] = _median([
        tr.self_time(s) for s in spans if s["name"] == "streaming.run_available"])
    for layer in LAYERS:
        among = tr.spans[:n_setup] if layer == "session" else spans
        per = 1 if layer == "session" else n_ops
        m[f"{layer}.gc_s"] = total("jvmGcTime", layer, among) / 1000.0 / per
        m[f"{layer}.fetch_wait_s"] = total("shuffleFetchWaitTime", layer, among) / 1000.0 / per
        m[f"{layer}.spill_bytes"] = (total("memoryBytesSpilled", layer, among)
                                     + total("diskBytesSpilled", layer, among)) / per
        m[f"{layer}.failed_tasks"] = total("numFailedTasks", layer, among)
    m.update(wl.layer_metrics())
    return m


def run(args, work: str) -> dict:
    cpus = pin_env(args, work)
    # the program is imported before anything else happens, so a checkout
    # without it fails here, before any output
    from data_engineering_examples_spark.operators import graph
    from data_engineering_examples_spark.session import get_spark
    from data_engineering_examples_spark.sources import layout
    from spans import Tracer
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    cls = WORKLOADS[args.workload]

    t0 = now()
    spark = get_spark("perfbench")
    start_s = now() - t0
    try:
        tr = Tracer(spark, enabled=bool(args.trace))
        if args.trace:
            # spans around the calls other layers make into these three;
            # the graph module calls scratch.materialize by its own name
            graph.connected_components = tr.wrap(
                "operators.connected_components", graph.connected_components)
            graph.materialize = tr.wrap("scratch.materialize", graph.materialize)
            layout.swap_write = tr.wrap("sinks.swap_write", layout.swap_write)
        wl = cls(spark, tr, args.seed, work)
        t0 = now()
        with tr.span("session.warmup"):
            wl.setup()
        warmup_s = now() - t0
        tr.collect()
        n_setup = len(tr.spans)

        wl.measuring = True
        halves = [False, True] if args.trace else [False]
        for traced in halves:
            tr.enabled = traced
            window = args.seconds / len(halves)
            t0 = now()
            units, last = 0, 0.0
            # whole units only: at least two, then none that would end
            # past the window
            while units < 2 or now() - t0 + last <= window:
                t1 = now()
                wl.unit()
                units, last = units + 1, now() - t1
        tr.enabled = False
        t0 = now()
        problems = wl.check()
        print(f"\nperfbench: {args.workload} seed={args.seed} start={start_s:.2f}s "
              f"warmup={warmup_s:.2f}s check={now() - t0:.2f}s latencies="
              f"{' '.join(wl.log)}", file=sys.stderr)
        for p in problems:
            print(f"CHECK FAILED: {p}", file=sys.stderr)
        if args.trace:
            tr.write(os.path.join(HERE, ".work", f"spans-{args.workload}-{args.seed}.jsonl"))
            got = per_layer(wl, tr, n_setup, cpus, start_s, warmup_s, jvm_peak_rss_mb(spark))
        else:
            got = end_to_end(wl, start_s, warmup_s)
    finally:
        stop_session(spark)
    unknown = set(got) - set(wanted)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return {
        "correct": not problems,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": float(got.get(n, 0.0)), "unit": u} for n, u in wanted.items()},
    }


def main(argv=None) -> None:
    args = parse(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
