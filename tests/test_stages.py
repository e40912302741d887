"""Stage CLI parity: the resumable stage-by-stage path (mirroring the
reference's per-script invocation, README.md:54-75) must produce the
same graph as the fused single-DAG pipeline, including through its
JSONL checkpoint round-trips."""

from __future__ import annotations

import pytest

from oculus_data_pipeline_spark.__main__ import main as cli_main
from oculus_data_pipeline_spark.operators.classify import EchoClassifier
from oculus_data_pipeline_spark.plans import stages
from oculus_data_pipeline_spark.plans.pipeline import run_pipeline
from oculus_data_pipeline_spark.sources.json_docs import read_documents_json

from .test_pipeline import XML


@pytest.fixture(scope="module")
def xml_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("stage_xml")
    (d / "corpus.xml").write_text(XML)
    return str(d)


def _graph_sets(nodes_df, edges_df):
    nodes = {(r["label"], r["key"], r["name"]) for r in nodes_df.collect()}
    edges = {(r["src"], r["dst"], r["rel_type"]) for r in edges_df.collect()}
    return nodes, edges


def test_stage_by_stage_matches_fused(spark, xml_dir, tmp_path):
    # fused single-DAG path
    exp_nodes, exp_edges = _graph_sets(
        *run_pipeline(spark, xml_dir, EchoClassifier())
    )

    # resumable path: every boundary is a JSONL write + read back
    docs_dir = str(tmp_path / "documents")
    stages.ingest_stage(spark, xml_dir).write.mode("overwrite").json(docs_dir)
    docs = read_documents_json(spark, docs_dir)

    enriched_dir = str(tmp_path / "classified")
    stages.classify_stage(docs, EchoClassifier()).write.mode("overwrite").json(
        enriched_dir
    )
    enriched = spark.read.schema(stages.ENRICHED_DOCUMENT_SCHEMA).json(enriched_dir)

    uri_dir = str(tmp_path / "with_uris")
    stages.uri_stage(enriched).write.mode("overwrite").json(uri_dir)
    with_uris = spark.read.schema(stages.ENRICHED_DOCUMENT_SCHEMA).json(uri_dir)

    got_nodes, got_edges = _graph_sets(*stages.graph_stage(with_uris))
    assert got_nodes == exp_nodes
    assert got_edges == exp_edges


def test_classify_stage_enriched_shape(spark, xml_dir):
    docs = stages.ingest_stage(spark, xml_dir)
    enriched = stages.classify_stage(docs, EchoClassifier())
    rows = {r["doc_id"]: r for r in enriched.collect()}

    d1 = rows["doc1"]
    # person names converted in place (json_classification.py:233-237)
    assert [a["name"] for a in d1["authors"]] == ["George Washington"]
    assert [r["name"] for r in d1["recipients"]] == ["John Adams"]
    # classification fills term/type but never uri (that's the uri stage)
    assert all(item["uri"] is None for item in d1["indexing"])
    assert {item["type"] for item in d1["indexing"]} >= {"person"}

    d2 = rows["doc2"]
    assert d2["recipients"] == []  # empty stays empty, not [null]
    assert d2["location"] is None


def test_uri_stage_fills_non_term_only(spark, xml_dir):
    docs = stages.ingest_stage(spark, xml_dir)
    enriched = stages.uri_stage(stages.classify_stage(docs, EchoClassifier()))
    for r in enriched.collect():
        for a in list(r["authors"]) + list(r["recipients"]):
            assert a["uri"] is not None
        if r["location"] is not None:
            assert r["location"]["uri"] is not None
        for item in r["indexing"]:
            for part in (item, item["midsub"], item["sub"]):
                if part is None or part["term"] is None:
                    continue
                if part["type"] == "term":
                    assert part["uri"] is None  # add_uri_if_needed skips 'term'
                else:
                    assert part["uri"] is not None


def test_cli_all_smoke(spark, xml_dir, tmp_path):
    out = str(tmp_path / "cli_out")
    assert cli_main(["all", xml_dir, out, "--cpus", "8"]) == 0
    nodes = spark.read.parquet(out + "/graph/nodes")
    edges = spark.read.parquet(out + "/graph/edges")
    exp_nodes, exp_edges = _graph_sets(*run_pipeline(spark, xml_dir, EchoClassifier()))
    # the parquet sink dedups on (label, key) — Cypher MERGE semantics —
    # so compare nodes on the MERGE key (which raw name survives a
    # same-key collision is MERGE-order-arbitrary in the reference too)
    got_nodes, got_edges = _graph_sets(nodes, edges)
    assert {(l, k) for l, k, _ in got_nodes} == {(l, k) for l, k, _ in exp_nodes}
    assert got_edges == exp_edges


def test_cli_single_stages_match_all(spark, xml_dir, tmp_path):
    """Running ingest, classify, uri and graph as four CLI invocations,
    each reading the previous one's output, writes the same graph as
    ``all``."""
    all_out = str(tmp_path / "all")
    assert cli_main(["all", xml_dir, all_out, "--cpus", "8"]) == 0

    src = xml_dir
    for stage in ("ingest", "classify", "uri", "graph"):
        out = str(tmp_path / stage)
        assert cli_main([stage, src, out, "--cpus", "8"]) == 0
        src = out

    for table in ("nodes", "edges"):
        got = spark.read.parquet(f"{src}/{table}")
        exp = spark.read.parquet(f"{all_out}/graph/{table}")
        assert got.schema == exp.schema
        assert sorted(got.collect(), key=repr) == sorted(exp.collect(), key=repr)


def _fused_graph_from_docs(docs, classifier):
    from oculus_data_pipeline_spark.plans.pipeline import (
        build_document_graph,
        classify_documents,
    )

    return build_document_graph(docs, classify_documents(docs, classifier))


def test_null_author_json_ingest_parity(spark, tmp_path):
    """JSON ingest can carry literal nulls the XML reader never makes
    (from_xml yields '' for empty tags): a NULL name element, and a
    NULL authors ARRAY next to real recipients. The reference crashes
    on both (convert_name / normalize_term on None), so the engine
    policy is drop-the-null — and the fused and staged paths must agree
    on it (r10 review: fused previously emitted a NULL-key Person node;
    known_entities_from_docs lost recipients to a NULL-propagating
    concat)."""
    import json

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    rows = [
        {
            "doc_id": "dN",
            "title": "NullName",
            "authors": [None, "Jay, John"],
            "recipients": [],
            "date_from": "1791-06-01",
            "indexing": [],
        },
        {
            "doc_id": "dA",
            "title": "NullArray",
            "authors": None,
            "recipients": ["Adams, John"],
            "indexing": [{"main": "adams, john"}],
        },
    ]
    (docs_dir / "part.jsonl").write_text(
        "\n".join(json.dumps(r) for r in rows)
    )
    docs = read_documents_json(spark, str(docs_dir))

    exp_nodes, exp_edges = _graph_sets(
        *_fused_graph_from_docs(docs, EchoClassifier())
    )
    enriched = stages.uri_stage(stages.classify_stage(docs, EchoClassifier()))
    got_nodes, got_edges = _graph_sets(*stages.graph_stage(enriched))

    assert got_nodes == exp_nodes
    assert got_edges == exp_edges
    # the null name is dropped, never a NULL-key node / NULL-src edge
    assert all(k is not None for _, k, _ in exp_nodes)
    assert all(s is not None and d is not None for s, d, _ in exp_edges)
    assert ("Person", "r12153955", "John Jay") in exp_nodes  # the real one

    # known entities survive a NULL authors array: 'adams, john' is a
    # known person (from dA's recipients), so dA's index term
    # classifies as person (uri-keyed node), not a plain Term
    from oculus_data_pipeline_spark.plans.pipeline import (
        known_entities_from_docs,
    )

    known = {
        r["norm_term"]
        for r in known_entities_from_docs(docs).collect()
    }
    assert "adams, john" in known
    assert None not in known
    assert not any(lbl == "Term" and n == "adams, john" for lbl, _, n in exp_nodes)


def test_empty_indexing_graph_stage_parity(spark, tmp_path):
    """A document with NO index terms: graph_stage's posexplode_outer
    emits a (doc_id, NULL pos, NULL item) row for the empty array —
    build_document_graph must treat it as 'no terms' (main.isNotNull
    filters), not a phantom Term; the golden fixture has no such doc,
    so this pins the path explicitly (r10 review)."""
    import json

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    (docs_dir / "part.jsonl").write_text(
        json.dumps(
            {
                "doc_id": "dE",
                "title": "NoTerms",
                "authors": ["Washington, George"],
                "recipients": [],
                "date_from": "1790-01-01",
                "indexing": [],
            }
        )
    )
    docs = read_documents_json(spark, str(docs_dir))

    exp_nodes, exp_edges = _graph_sets(
        *_fused_graph_from_docs(docs, EchoClassifier())
    )
    enriched = stages.uri_stage(stages.classify_stage(docs, EchoClassifier()))
    got_nodes, got_edges = _graph_sets(*stages.graph_stage(enriched))

    assert got_nodes == exp_nodes
    assert got_edges == exp_edges
    assert {lbl for lbl, _, _ in exp_nodes} == {"Document", "Person", "Date"}
    assert {r for _, _, r in exp_edges} == {"AUTHOR", "DATE_FROM"}
