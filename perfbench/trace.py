"""Spans around the benchmark's calls into the package.

A span records a boundary call: its name, start and end, the span it
ran inside, the run it belongs to, and what Spark ran during it (the
status-store delta, see ``status.py``). Spans stay in memory and are
written out once, when the run ends. With tracing off the tracer records
nothing and reads nothing from Spark.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from .status import Delta, StatusStore

#: Status-store figures reported for every boundary, in output order.
FAMILY = (
    "wall_s",
    "driver_only_s",
    "stages",
    "single_task_stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "input_bytes",
    "core_busy_ratio",
)

BOUNDARIES = (
    "session.get_spark",
    "plans.ingest_stage",
    "plans.classify_stage",
    "plans.uri_stage",
    "sinks.write_graph_parquet",
    "streaming.micro_batch",
    "queries.build",
    "queries.action",
)

#: Layers whose self time is reported; a span belongs to the longest
#: layer name its own name starts with.
LAYERS = ("session", "plans", "operators.classify", "sinks", "streaming", "queries")


@dataclass
class Span:
    name: str
    run_id: str
    span_id: int
    parent: int | None
    pass_no: int
    start: float
    end: float
    counts: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``store`` is given; otherwise does nothing."""

    def __init__(self, run_id: str, store: StatusStore | None):
        self.run_id = run_id
        self.store = store
        self.spans: list[Span] = []
        self.pass_no = 0
        self.overhead_s: dict[int, float] = {}
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.store is not None

    @contextmanager
    def span(self, name: str):
        if self.store is None:
            yield
            return
        t0 = time.perf_counter()
        mark = self.store.mark()
        self._charge(time.perf_counter() - t0)
        span = Span(
            name,
            self.run_id,
            len(self.spans),
            self._stack[-1] if self._stack else None,
            self.pass_no,
            time.time(),
            0.0,
        )
        self.spans.append(span)
        self._stack.append(span.span_id)
        try:
            yield
        finally:
            span.end = time.time()
            self._stack.pop()
            t0 = time.perf_counter()
            self.attach(span, self.store.since(mark))
            self._charge(time.perf_counter() - t0)

    def wrap(self, name: str, call):
        """``call`` run inside a span called ``name``."""

        def spanned():
            with self.span(name):
                call()

        return spanned

    def _charge(self, seconds: float) -> None:
        """Book time spent reading the status store against this pass."""
        self.overhead_s[self.pass_no] = self.overhead_s.get(self.pass_no, 0.0) + seconds

    def add(self, name: str, start: float, end: float, delta: Delta) -> None:
        """Record a span measured elsewhere, such as a micro-batch."""
        span = Span(
            name,
            self.run_id,
            len(self.spans),
            self._stack[-1] if self._stack else None,
            self.pass_no,
            start,
            end,
        )
        self.spans.append(span)
        self.attach(span, delta)

    @staticmethod
    def attach(span: Span, delta: Delta) -> None:
        span.counts = delta.counts()
        span.counts["driver_only_s"] = max(
            0.0, span.wall_s - delta.job_covered_s(span.start, span.end)
        )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump([asdict(s) for s in self.spans], f)

    # -- aggregation ----------------------------------------------------

    def boundary_metrics(self, cores: int) -> dict[str, float]:
        """Per boundary: each pass's total over its calls, median over passes."""
        out: dict[str, float] = {}
        for name in BOUNDARIES:
            per_pass: dict[int, dict[str, float]] = {}
            for s in self.spans:
                if s.name != name:
                    continue
                acc = per_pass.setdefault(s.pass_no, dict.fromkeys(FAMILY[:-1], 0.0))
                acc["wall_s"] += s.wall_s
                for k in FAMILY[1:-1]:
                    acc[k] += s.counts.get(k, 0)
            for k in FAMILY[:-1]:
                out[f"{name}.{k}"] = _median([p[k] for p in per_pass.values()])
            out[f"{name}.core_busy_ratio"] = _median(
                [
                    p["executor_run_s"] / (p["wall_s"] * cores) if p["wall_s"] else 0.0
                    for p in per_pass.values()
                ]
            )
        return out

    def self_times(self) -> dict[str, float]:
        """Per layer: span time not covered by child spans, per pass, median."""
        children: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                children[s.parent] = children.get(s.parent, 0.0) + s.wall_s
        out = {}
        for layer in LAYERS:
            per_pass: dict[int, float] = {}
            for s in self.spans:
                if _layer(s.name) == layer:
                    own = s.wall_s - children.get(s.span_id, 0.0)
                    per_pass[s.pass_no] = per_pass.get(s.pass_no, 0.0) + own
            out[f"layer.{layer}.self_s"] = _median(list(per_pass.values()))
        return out


def _layer(name: str) -> str | None:
    best = None
    for layer in LAYERS:
        if name == layer or name.startswith(layer + "."):
            if best is None or len(layer) > len(best):
                best = layer
    return best


def _median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
