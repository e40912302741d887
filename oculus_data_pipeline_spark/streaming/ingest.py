"""Streaming sources + the streaming form of the reference pipeline.

The reference's directory mode (run_pipeline.py:97-102 — "process all
*.xml in the dir") maps exactly to a file-source stream; with
``trigger(availableNow=True)`` it drains the current directory and
stops — the reference's batch behavior — while the same query left
running is continuous ingest. The per-batch work reuses the batch DAG
via foreachBatch, so the LLM-classification operator (and its
distinct→anti-join→infer shape) is shared verbatim between modes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.classify import Classifier
from ..plans.pipeline import (
    build_document_graph,
    canonical_documents,
    classify_documents,
    xml_document_reader,
)
from ..sources.tables import normalize_events


def _parquet_file_stream(spark: SparkSession, path: str) -> DataFrame:
    """One-file-per-trigger parquet stream over ``path`` (a directory,
    or a file name / glob ending in ``.parquet``). A streaming file
    source needs an explicit schema, so it is probed from the parquet
    footer with a batch read (metadata-only)."""
    probe = spark.read.parquet(path)
    reader = spark.readStream.schema(probe.schema).option("maxFilesPerTrigger", 1)
    if path.endswith(".parquet"):
        # file source wants a directory; select the file(s) via glob
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.parquet(path)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of the events table, with ``ts`` normalized
    to session-time TIMESTAMP from either parquet encoding — the same
    contract as sources/tables.load_table."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events(_parquet_file_stream(spark, path))


def read_xml_stream(spark: SparkSession, landing_dir: str) -> DataFrame:
    """Streaming XML document source over a landing directory —
    the reference's ingest loop as a stream."""
    return canonical_documents(xml_document_reader(spark.readStream).load(landing_dir))


def stream_pipeline_to_graph(
    spark: SparkSession,
    landing_dir: str,
    out_dir: str,
    classifier: Classifier,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous (or drain-once) XML→graph ingest.

    foreachBatch runs the batch pipeline's classify and graph bodies
    per micro-batch and appends to the graph parquet tables;
    MERGE-style idempotency — including for a micro-batch retried
    after a partial write — comes from downstream dedup at
    read/compaction time, on (label, key) for nodes and (src, dst,
    rel_type) for edges, the same keys write_graph_parquet dedups on
    (Delta MERGE INTO when a transactional table format is available).

    The known-entity table (authors, recipients and places that take
    precedence over the classifier) is built per micro-batch, from that
    batch's documents only. An index term naming a person who is an
    author or recipient only in another batch's files is therefore
    sent to the classifier, so the streamed graph equals
    ``run_pipeline``'s only when the stream drains in one micro-batch.
    """
    docs_stream = read_xml_stream(spark, landing_dir)

    def process_batch(docs: DataFrame, epoch_id: int) -> None:
        if not docs.head(1):
            return
        docs = docs.cache()
        nodes, edges = build_document_graph(docs, classify_documents(docs, classifier))
        nodes.write.mode("append").parquet(f"{out_dir}/nodes")
        edges.write.mode("append").parquet(f"{out_dir}/edges")
        docs.unpersist()

    writer = (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_documents_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of the documents table (schema probed from
    the parquet footer). Stateless curation operators (PII scrub,
    quality scoring, lang-id, chunking) are narrow maps, so the SAME
    batch Column expressions run unchanged on this stream — pinned by
    the batch/stream parity tests."""
    return _parquet_file_stream(spark, path)
