"""Per-stage CLI — the reference's resumable stage invocation surface.

Mirrors README.md:54-75 of the reference (each pipeline script runnable
individually, plus the run_pipeline.py master command):

    python -m oculus_data_pipeline_spark ingest   XML_PATH   OUT_DIR
    python -m oculus_data_pipeline_spark classify DOCS_DIR   OUT_DIR [--classifier echo|mock] [--requests F --responses F]
    python -m oculus_data_pipeline_spark uri      DOCS_DIR   OUT_DIR
    python -m oculus_data_pipeline_spark graph    DOCS_DIR   OUT_DIR
    python -m oculus_data_pipeline_spark all      XML_PATH   OUT_DIR

Stage boundaries are splittable JSONL directories (canonical documents
after ``ingest``, the reference's updated-JSON shape after
``classify``/``uri``); ``graph`` writes nodes/edges parquet tables.
The fused single-DAG path (plans/pipeline.py run_pipeline) remains the
fast path when no intermediate checkpoints are needed — exactly the
reference's trade-off between run_pipeline.py and stage-by-stage runs.
"""

from __future__ import annotations

import argparse
import os
import sys

from .operators.classify import (
    EchoClassifier,
    MockReplayClassifier,
    OpenAIBatchClassifier,
)

# (stage, output subdirectory of OUT_DIR) in the order ``all`` runs them
ALL_STAGES = (
    ("ingest", "documents"),
    ("classify", "classified"),
    ("uri", "with_uris"),
    ("graph", "graph"),
)


def _make_classifier(args):
    if args.classifier == "echo":
        return EchoClassifier()
    if args.classifier == "mock":
        if not (args.requests and args.responses):
            raise SystemExit("--classifier mock requires --requests and --responses")
        return MockReplayClassifier(args.requests, args.responses)
    if args.classifier == "openai":
        return OpenAIBatchClassifier(
            model=args.model, audit_dir=args.audit_dir
        )
    raise SystemExit(f"unknown classifier {args.classifier!r}")


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        prog="python -m oculus_data_pipeline_spark",
        description="Run reference-pipeline stages on Spark.",
    )
    sub = parser.add_subparsers(dest="stage", required=True)

    def add(name: str, src_help: str):
        p = sub.add_parser(name)
        p.add_argument("src", help=src_help)
        p.add_argument("out", help="output directory")
        p.add_argument("--classifier", default="echo",
                       choices=["echo", "mock", "openai"])
        p.add_argument("--requests", help="mock: request JSONL fixture")
        p.add_argument("--responses", help="mock: response JSONL fixture")
        p.add_argument("--model", default="gpt-4o-mini")
        p.add_argument("--audit-dir", help="openai: K3/K4 audit JSONL directory")
        p.add_argument("--cpus", type=int, default=None)
        return p

    add("ingest", "XML file/dir/glob")
    add("classify", "canonical documents JSONL dir (ingest output)")
    add("uri", "enriched documents JSONL dir (classify output)")
    add("graph", "enriched+uri documents JSONL dir (uri output)")
    add("all", "XML file/dir/glob")
    args = parser.parse_args(argv)

    from .plans import stages
    from .session import get_spark
    from .sinks.graph_sink import write_graph_parquet
    from .sources.json_docs import read_documents_json

    spark = get_spark(f"oculus-stage-{args.stage}", cpus=args.cpus)

    def read_enriched(path: str):
        return spark.read.schema(stages.ENRICHED_DOCUMENT_SCHEMA).json(path)

    def run(stage: str, src: str, out: str) -> None:
        if stage == "ingest":
            stages.ingest_stage(spark, src).write.mode("overwrite").json(out)
        elif stage == "classify":
            docs = read_documents_json(spark, src)
            stages.classify_stage(docs, _make_classifier(args)).write.mode(
                "overwrite"
            ).json(out)
        elif stage == "uri":
            stages.uri_stage(read_enriched(src)).write.mode("overwrite").json(out)
        elif stage == "graph":
            nodes, edges = stages.graph_stage(read_enriched(src))
            write_graph_parquet(nodes, edges, out)

    if args.stage == "all":
        # the four stages in order, each reading the previous one's
        # output directory under OUT_DIR
        src = args.src
        for stage, subdir in ALL_STAGES:
            out = os.path.join(args.out, subdir)
            run(stage, src, out)
            src = out
    else:
        run(args.stage, args.src, args.out)
    print(f"stage {args.stage} complete → {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
