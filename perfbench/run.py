"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One run:

1. generates the workload's inputs from ``--seed`` under
   ``perfbench/_work/`` (removed again at the end);
2. sets up: launches the JVM through ``get_spark`` and runs one
   untimed warm-up pass over the workload, checked against a reference
   (DuckDB oracle for queries, the pure-Python reference model for the
   pipeline); ``setup_s`` is this time without the check;
3. runs timed passes until ``--seconds`` have passed (at least one),
   sampling the driver's RSS and timing each stage or query on its own
   (wall, CPU without JIT compilation, stolen CPU; ``clock.py``);
4. prints ``# key: value`` notes and, as the last line, one JSON object
   with ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are the end-to-end ones. With
``--trace 1`` one untraced and one traced pass run, then the workload's
traced phase (``etl_staged`` drains its corpus through the streaming
pipeline); the metrics are the per-layer ones taken from the traced
spans, and the spans are written to ``perfbench/_traces/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("etl_staged", "queries_iterative")
# No timed pass starts once the run is this old, so that a run on a
# loaded host still ends well inside its time limit.
PASS_BEFORE_S = 110.0
LAYER_COUNTERS = {
    "operators.classify": (
        "requests",
        "batch_jobs",
        "transport_calls",
        "transport_s",
        "requests_per_distinct_term",
        "known_entity_skip_ratio",
    ),
    "sinks": ("nodes_rows", "edges_rows", "files_written", "bytes_written"),
    "streaming": ("batches", "docs_per_batch_p50", "backlog_files_max", "non_addbatch_s"),
    "queries": ("leaked_cached_blocks", "leaked_cached_bytes"),
}


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


class RssSampler(threading.Thread):
    """Peak resident set size of this process while running."""

    def __init__(self, interval: float = 0.05):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_event = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def sample(self) -> None:
        with open("/proc/self/statm", encoding="ascii") as f:
            self.peak = max(self.peak, int(f.read().split()[1]) * self._page)

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.sample()

    def stop(self) -> float:
        self._stop_event.set()
        self.join()
        self.sample()
        return self.peak / 2**20


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


@dataclass
class Pass:
    """One timed pass: the summed wall seconds of its operations, the
    CPU seconds of the driver and the JVM without and of the JIT
    compiler threads, CPU seconds stolen during them, and (op, seconds
    or None) per op."""

    traced: bool
    wall_s: float
    cpu_s: float
    jit_s: float
    stolen_s: float
    ops: list


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            " -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def _collect_garbage(spark) -> None:
    """Start a timed pass on collected heaps, so that no pass pays for
    the garbage an earlier one left behind."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, "perfbench", "_work", f"{args.workload}-{run_id}")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)
    try:
        return _run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


def _run(args, run_id: str, work: str) -> int:
    from oculus_data_pipeline_spark.session import get_spark

    from perfbench.clock import OpClock, compiler_threads, steal_s
    from perfbench.etl import EtlStaged
    from perfbench.mixes import QueryMix
    from perfbench.status import Delta, StatusStore
    from perfbench.trace import Tracer

    load_start, steal_start = os.getloadavg()[0], steal_s()
    phases = {"start": time.perf_counter()}
    cores = _cores()
    if args.workload == "etl_staged":
        workload = EtlStaged(work, args.seed)
    else:
        workload = QueryMix(args.workload, work, args.seed)

    phases["inputs"] = time.perf_counter()
    spark = None
    try:
        t0, wall0 = time.perf_counter(), time.time()
        spark = get_spark(f"perfbench-{args.workload}", cpus=cores, extra_conf=_session_conf(work))
        get_spark_end = time.time()
        setup_parts = [time.perf_counter() - t0]
        jvm = _jvm_pid()
        clock = OpClock((os.getpid(), jvm), compiler_threads(jvm))

        untraced = Tracer(run_id, None)
        tracer = Tracer(run_id, StatusStore(spark)) if args.trace else untraced
        if tracer.enabled:
            tracer.add("session.get_spark", wall0, get_spark_end, Delta())

        attempted, failed, problems, warm_s = workload.warm(spark, clock)
        setup_parts.append(warm_s)
        setup_s = sum(setup_parts)
        phases["setup"] = time.perf_counter()

        rss = RssSampler()
        rss.start()
        passes: list[Pass] = []
        start = time.perf_counter()
        while True:
            traced = bool(args.trace) and len(passes) == 1
            tracer.pass_no = len(passes) + 1
            _collect_garbage(spark)
            clock.begin_pass()
            ops = workload.run_pass(spark, tracer if traced else untraced, clock)
            wall = sum(t for _, t in ops if t is not None)
            passes.append(Pass(traced, wall, clock.cpu_s, clock.jit_s, clock.stolen_s, ops))
            attempted += len(ops)
            failed += sum(1 for _, t in ops if t is None)
            now = time.perf_counter()
            if args.trace:
                if len(passes) == 2:
                    break
            elif now - start >= args.seconds or now - phases["start"] >= PASS_BEFORE_S:
                break
        rss_peak_mb = rss.stop()
        phases["timed"] = time.perf_counter()
        problems += workload.errors
        last = workload.check_last_pass(spark)
        if last:
            failed += len(passes[-1].ops)
            problems += last
        if args.trace:
            tracer.pass_no = len(passes) + 1
            extra = workload.traced_extra(spark, tracer)
            attempted, failed, problems = attempted + extra[0], failed + extra[1], problems + extra[2]
        phases["check"] = time.perf_counter()
    finally:
        if spark is not None:
            _stop_jvm(spark)
    phases["stop"] = time.perf_counter()

    plain = [p for p in passes if not p.traced]
    run_s = statistics.median(p.wall_s for p in plain)
    by_op: dict[str, list[float]] = {}
    for p in plain:
        for name, t in p.ops:
            if t is not None:
                by_op.setdefault(name, []).append(t)
    op_times = [t for ts in by_op.values() for t in ts]
    slowest = max(by_op, key=lambda n: statistics.median(by_op[n])) if by_op else None

    notes = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "cpu_steal_s": round(steal_s() - steal_start, 2),
        "phase_s": {
            b: round(phases[b] - phases[a], 2) for a, b in zip(phases, list(phases)[1:])
        },
        "setup_parts_s": [round(t, 2) for t in setup_parts],
        "passes": len(passes),
        "pass_s": [round(p.wall_s, 2) for p in passes],
        "pass_cpu_s": [round(p.cpu_s, 2) for p in passes],
        "pass_jit_cpu_s": [round(p.jit_s, 2) for p in passes],
        "pass_stolen_s": [round(p.stolen_s, 2) for p in passes],
        "run_s": run_s,
        "traced_passes": sum(1 for p in passes if p.traced),
        "op_s": {n: round(statistics.median(ts), 3) for n, ts in by_op.items()},
        "op_s_p50": statistics.median(op_times) if op_times else None,
        "op_s_max": f"{statistics.median(by_op[slowest])} ({slowest})" if slowest else None,
        "error_rate": failed / attempted,
    }
    if args.workload == "etl_staged":
        notes["docs_per_s"] = workload.documents / run_s
    for p in problems:
        print(f"# problem: {p}")

    if not args.trace:
        metrics = {
            "setup_s": _metric(setup_s, "s"),
            "run_cpu_s": _metric(statistics.median(p.cpu_s for p in plain), "s"),
            "driver_rss_peak_mb": _metric(rss_peak_mb, "MB"),
        }
    else:
        per_layer = dict.fromkeys(per_layer_names(), 0.0)
        per_layer.update(tracer.boundary_metrics(cores))
        per_layer.update(tracer.self_times())
        per_layer.update(workload.layer_metrics())
        traced_passes = [i + 1 for i, p in enumerate(passes) if p.traced]
        per_layer["trace_overhead_s"] = statistics.median(
            tracer.overhead_s.get(i, 0.0) for i in traced_passes
        )
        per_layer["jvm.jit_cpu_s"] = statistics.median(p.jit_s for p in passes if p.traced)
        notes["traced_minus_untraced_run_s"] = (
            statistics.median(p.wall_s for p in passes if p.traced) - run_s
        )
        for name in _query_names():
            walls = [
                t for p in passes if p.traced for n, t in p.ops if n == name and t is not None
            ]
            if walls:
                per_layer[f"q.{name}.wall_s"] = statistics.median(walls)
        metrics = {name: _metric(value, _unit(name)) for name, value in per_layer.items()}
        trace_path = os.path.join(
            ROOT, "perfbench", "_traces", f"{args.workload}-seed{args.seed}-{run_id}.json"
        )
        tracer.write(trace_path)
        notes["trace_file"] = os.path.relpath(trace_path, ROOT)
    for k, v in notes.items():
        print(f"# {k}: {v}")
    print(
        json.dumps(
            {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _query_names() -> list[str]:
    from perfbench.mixes import MIXES

    return [q for mix in MIXES.values() for q in mix]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in output order; all are printed by every
    traced run, as 0 where the workload never enters that layer."""
    from perfbench.trace import BOUNDARIES, FAMILY, LAYERS

    names = [f"{b}.{k}" for b in BOUNDARIES for k in FAMILY]
    names += [f"layer.{layer}.self_s" for layer in LAYERS]
    names += [f"{layer}.{k}" for layer, ks in LAYER_COUNTERS.items() for k in ks]
    names += ["trace_overhead_s", "jvm.jit_cpu_s"]
    names += [f"q.{q}.wall_s" for q in _query_names()]
    return names


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_ratio") or name.endswith("_term"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
