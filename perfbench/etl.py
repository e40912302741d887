"""The ``etl_staged`` workload: the paper pipeline, one stage at a time.

Each pass runs the reference's four resumable stages over the seeded
XML corpus, as ``python -m oculus_data_pipeline_spark all`` does:
``plans.ingest_stage`` → ``plans.classify_stage`` → ``plans.uri_stage``
→ ``plans.graph_stage`` written by ``sinks.write_graph_parquet``, with a
JSON-lines directory between stages. Classification goes through
``OpenAIBatchClassifier`` over the benchmark's offline transport.

The untimed warm-up is one staged pass on the JVM's first, slowest
run of this code. Its graph and the last timed pass's graph are
compared with ``tests/ref_model.run_reference_model`` on the generated
documents. A traced run then drains the same corpus once through
``streaming.stream_pipeline_to_graph(available_now=True)``, where the
``streaming`` layer is measured; the drained graph is checked the same
way.
"""

from __future__ import annotations

import os
import statistics
import time
from datetime import datetime, timezone

import pyarrow.parquet as pq

from oculus_data_pipeline_spark.operators.classify import OpenAIBatchClassifier
from oculus_data_pipeline_spark.plans import stages
from oculus_data_pipeline_spark.sinks.graph_sink import write_graph_parquet
from oculus_data_pipeline_spark.sources.json_docs import read_documents_json
from oculus_data_pipeline_spark.streaming.ingest import stream_pipeline_to_graph
from tests.ref_model import run_reference_model

from .clock import OpClock
from .corpus import CorpusSpec, generate
from .status import Delta
from .trace import Tracer
from .transport import CountingTransport

CORPUS = CorpusSpec(n_docs=400, docs_per_file=25)
STAGES = ("plans.ingest_stage", "plans.classify_stage", "plans.uri_stage", "sinks.write_graph_parquet")


class _TracedClassifier:
    """Puts an ``operators.classify`` span around the wrapped classifier."""

    def __init__(self, inner, tracer: Tracer):
        self.inner = inner
        self.tracer = tracer

    def classify(self, terms):
        with self.tracer.span("operators.classify"):
            return self.inner.classify(terms)


class EtlStaged:
    def __init__(self, work: str, seed: int):
        self.work = work
        self.corpus = generate(CORPUS, seed)
        self.xml_dir = os.path.join(work, "xml")
        self.corpus.write(self.xml_dir)
        self.transport = CountingTransport()
        self.classifier = OpenAIBatchClassifier(
            transport=self.transport, sleep=lambda seconds: None
        )
        self.layer: dict[str, list[dict]] = {"classify": [], "sinks": []}
        self.stream: dict[str, float] = {}
        self.errors: list[str] = []
        self._last_ops: list[tuple[str, float | None]] = []
        self._reference = None

    @property
    def documents(self) -> int:
        return len(self.corpus.docs)

    def reference(self):
        if self._reference is None:
            self._reference = run_reference_model(self.corpus.docs)
        return self._reference

    # -- untimed warm-up and correctness gate -------------------------

    def warm(self, spark, clock: OpClock) -> tuple[int, int, list[str], float]:
        """The first pass, checked; returns attempted and failed stage
        calls, problems, and the pass's seconds without the check."""
        t0 = time.perf_counter()
        ops = self.run_pass(spark, Tracer("warm-up", None), clock)
        pass_s = time.perf_counter() - t0
        problems = self.errors + self.check_last_pass(spark)
        self.errors = []
        return len(ops), len(ops) if problems else 0, problems, pass_s

    def traced_extra(self, spark, tracer: Tracer) -> tuple[int, int, list[str]]:
        """Drain the corpus through the streaming pipeline (traced runs)."""
        out = os.path.join(self.work, "stream_graph")
        ckpt = os.path.join(self.work, "stream_ckpt")
        mark = tracer.store.mark()
        query = stream_pipeline_to_graph(
            spark, self.xml_dir, out, self.classifier, ckpt, available_now=True
        )
        query.awaitTermination()
        batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
        self._record_stream(tracer, batches, ckpt, tracer.store.since(mark))
        problems = self.check(spark, out, "stream")
        return len(batches), len(batches) if problems else 0, problems

    def _record_stream(self, tracer: Tracer, batches: list[dict], ckpt: str, delta: Delta) -> None:
        files_per_batch = []
        for p in batches:
            with open(os.path.join(ckpt, "sources", "0", str(p["batchId"])), encoding="utf-8") as f:
                files_per_batch.append(sum(1 for line in f.read().splitlines()[1:] if line.strip()))
        # a drain's data batches share one status-store delta
        start = min(_epoch(p["timestamp"]) for p in batches)
        busy = sum(p["durationMs"]["triggerExecution"] for p in batches) / 1000.0
        tracer.add("streaming.micro_batch", start, start + busy, delta)
        self.stream = {
            "streaming.batches": len(batches),
            "streaming.docs_per_batch_p50": statistics.median(
                n * CORPUS.docs_per_file for n in files_per_batch
            ),
            "streaming.backlog_files_max": max(files_per_batch),
            "streaming.non_addbatch_s": sum(
                p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
                for p in batches
            )
            / 1000.0,
        }

    def check(self, spark, graph_dir: str, what: str) -> list[str]:
        """Compare a written graph with the reference model.

        The sinks keep one row per (label, key) for nodes and per
        (src, dst, rel_type) for edges, as Cypher MERGE does; spellings
        that differ only in whitespace share a key, so a written node
        may carry any of the reference names for its key.
        """
        ref_nodes, ref_edges = self.reference()
        nodes = {tuple(r) for r in spark.read.parquet(f"{graph_dir}/nodes").collect()}
        edges = {tuple(r) for r in spark.read.parquet(f"{graph_dir}/edges").collect()}
        names: dict[tuple, set] = {}
        for label, key, name in ref_nodes:
            names.setdefault((label, key), set()).add(name)
        problems = []
        got_keys = {(label, key) for label, key, _ in nodes}
        if got_keys != set(names):
            problems.append(
                f"{what}: node keys differ: {len(got_keys - set(names))} extra, "
                f"{len(set(names) - got_keys)} missing, e.g. "
                f"{sorted(got_keys ^ set(names))[:3]}"
            )
        wrong = [n for n in nodes if n[2] not in names.get(n[:2], ())]
        if wrong:
            problems.append(f"{what}: {len(wrong)} node names not in the reference, e.g. {wrong[:3]}")
        if edges != ref_edges:
            problems.append(
                f"{what}: edges differ: {len(edges - ref_edges)} extra, "
                f"{len(ref_edges - edges)} missing, e.g. {sorted(edges ^ ref_edges)[:3]}"
            )
        return problems

    # -- timed pass ---------------------------------------------------

    def run_pass(self, spark, tracer: Tracer, clock: OpClock) -> list[tuple[str, float | None]]:
        """One staged pass; returns (stage, seconds or None if it failed)
        per stage call."""
        d = {k: os.path.join(self.work, "pass", k) for k in ("docs", "classified", "uris", "graph")}

        def read_enriched(path: str):
            return spark.read.schema(stages.ENRICHED_DOCUMENT_SCHEMA).json(path)

        before = self.transport.snapshot()
        classifier = _TracedClassifier(self.classifier, tracer) if tracer.enabled else self.classifier
        calls = (
            lambda: stages.ingest_stage(spark, self.xml_dir).write.mode("overwrite").json(d["docs"]),
            lambda: stages.classify_stage(
                read_documents_json(spark, d["docs"]), classifier
            ).write.mode("overwrite").json(d["classified"]),
            lambda: stages.uri_stage(read_enriched(d["classified"])).write.mode("overwrite").json(d["uris"]),
            lambda: write_graph_parquet(*stages.graph_stage(read_enriched(d["uris"])), d["graph"]),
        )
        times: list[tuple[str, float | None]] = []
        for name, call in zip(STAGES, calls):
            if any(t is None for _, t in times):
                times.append((name, None))  # its input stage failed
                continue
            try:
                times.append((name, clock.measure(tracer.wrap(name, call))))
            except Exception as e:  # counted as a failed operation
                times.append((name, None))
                self.errors.append(f"{name}: {type(e).__name__}: {e}")
        self._last_ops = times
        if tracer.enabled:
            after = self.transport.snapshot()
            used = {k: after[k] - before[k] for k in after}
            truth = self.corpus.truth
            used["requests_per_distinct_term"] = used["requests"] / truth["classifier_terms"]
            used["known_entity_skip_ratio"] = 1.0 - used["requests"] / truth["distinct_terms"]
            self.layer["classify"].append(used)
            self.layer["sinks"].append(_graph_files(d["graph"]))
        return times

    def check_last_pass(self, spark) -> list[str]:
        if any(t is None for _, t in self._last_ops):
            return []  # a failed stage is already counted; there is no graph to check
        return self.check(spark, os.path.join(self.work, "pass", "graph"), "staged")

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for prefix, key in (("operators.classify", "classify"), ("sinks", "sinks")):
            rows = self.layer[key]
            for k in rows[0] if rows else ():
                out[f"{prefix}.{k}"] = statistics.median(r[k] for r in rows)
        out.update(self.stream)
        return out


def _graph_files(graph_dir: str) -> dict[str, int]:
    out = {"files_written": 0, "bytes_written": 0}
    for table in ("nodes", "edges"):
        rows = 0
        for entry in os.scandir(os.path.join(graph_dir, table)):
            if entry.name.endswith(".parquet"):
                out["files_written"] += 1
                out["bytes_written"] += entry.stat().st_size
                rows += pq.ParquetFile(entry.path).metadata.num_rows
        out[f"{table}_rows"] = rows
    return out


def _epoch(timestamp: str) -> float:
    """Progress timestamps are ISO-8601 UTC with milliseconds."""
    return datetime.strptime(timestamp, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()

