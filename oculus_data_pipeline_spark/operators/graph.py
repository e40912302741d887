"""Property-graph construction — the reference's Neo4j sink re-expressed
as set-oriented DataFrame transforms.

Reference parity (/root/reference/json_to_db.py): the per-document loop
of ~13 serial Cypher MERGE transactions (:78-127) becomes two bulk
DataFrames — ``nodes(label, key, name)`` and ``edges(src, dst,
rel_type)`` — deduplicated before the write, which reproduces MERGE
idempotency set-wise (SURVEY.md §3.3). The dynamic f-string edge labels
(:47-51, :63-67) become a fixed rel_type column. Hot entities (popular
terms) are pre-aggregated by the dropDuplicates, so the sink never sees
per-mention write amplification — the 100 TB concern for graph sinks.

Node labels: Document/Person/Place/Organization/Term (json_to_db.py:
7-44); edge types HAS_PERSON/HAS_PLACE/HAS_ORGANIZATION/HAS_TERM
(:104-119).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import generate_uri

# The reference's type dispatch (json_to_db.py:104-119) is an
# if/elif over person/place/organization with an unconditional
# ``else`` that files the entity as a plain index term — so NULL and
# unknown labels are INDEX TERMS there, never a typed entity. The
# classify operator coalesces its output onto the four known labels,
# but callers feeding the builders directly (the bypass path) can
# carry NULL or unknown labels; canonical_label pins the reference
# policy AT this boundary: anything outside the three typed labels —
# 'term', an unknown string, or NULL — is 'term'. Every graph builder
# (build_nodes/build_edges here, build_document_graph in plans) goes
# through entity_node/entity_edge below, the one place that decides
# node label, key and edge direction.
TYPED_LABELS = ("person", "place", "organization")


def canonical_label(label_col: F.Column) -> F.Column:
    """NULL-safe label canonicalization to the reference's dispatch
    domain: person/place/organization pass through, everything else
    (including NULL and unknown labels) is a plain index 'term' —
    json_to_db.py:104-119's ``else`` branch."""
    return F.when(label_col.isin(*TYPED_LABELS), label_col).otherwise(
        F.lit("term")
    )


def entity_key(term_col, label_col, uri_col=None) -> F.Column:
    """Entity surrogate key: reference URIs for the typed entities
    (generate_uri.py:43-45), the term text itself for plain terms
    (which get no URI in the reference). NULL/unknown labels are
    plain terms (see canonical_label). A stored ``uri_col`` (the
    staged JSON's) wins where it is set; on the engine's own output it
    equals the derived uri, since generate_uri is deterministic."""
    uri = generate_uri(term_col)
    if uri_col is not None:
        uri = F.coalesce(uri_col, uri)
    return F.when(canonical_label(label_col) == "term", term_col).otherwise(uri)


def entity_node(term_col, label_col, uri_col=None) -> list[F.Column]:
    """``(label, key, name)`` node columns for a classified entity:
    Person/Place/Organization/Term (json_to_db.py:7-44)."""
    return [
        F.initcap(canonical_label(label_col)).alias("label"),
        entity_key(term_col, label_col, uri_col).alias("key"),
        term_col.alias("name"),
    ]


def entity_edge(doc_col, term_col, label_col, uri_col=None) -> list[F.Column]:
    """``(src, dst, rel_type)`` edge columns with reference directions
    (json_to_db.py): typed entities point AT the document —
    (e)-[:HAS_PERSON|HAS_PLACE|HAS_ORGANIZATION]->(d) via
    create_relationship (:46-52) — while plain terms hang off it —
    (d)-[:HAS_TERM]->(t) via relate_index_term (:54-60)."""
    canon = canonical_label(label_col)
    key = entity_key(term_col, label_col, uri_col)
    is_term = canon == "term"
    return [
        F.when(is_term, doc_col).otherwise(key).alias("src"),
        F.when(is_term, key).otherwise(doc_col).alias("dst"),
        F.concat(F.lit("HAS_"), F.upper(canon)).alias("rel_type"),
    ]


def build_nodes(doc_ids: DataFrame, classified_terms: DataFrame) -> DataFrame:
    """``nodes(label, key, name)`` from documents + classified terms.

    ``doc_ids``: one row per document with a ``doc_id`` column.
    ``classified_terms``: (doc_id, norm_term, label).
    """
    # Document name mirrors the reference's `d.title` property
    # (json_to_db.py:7-15): the title when the source carries one,
    # else the document id — same coalesce the XML pipeline path uses
    # (plans/pipeline.py build_document_graph).
    name_col = (
        F.coalesce(F.col("title"), F.col("doc_id").cast("string"))
        if "title" in doc_ids.columns
        else F.col("doc_id").cast("string")
    )
    doc_nodes = doc_ids.select(
        F.lit("Document").alias("label"),
        F.col("doc_id").cast("string").alias("key"),
        name_col.alias("name"),
    )
    entity_nodes = classified_terms.select(
        *entity_node(F.col("norm_term"), F.col("label"))
    )
    # Full-row distinct here; the MERGE-idempotent sink dedups on
    # (label, key) at write time. Keeping all 3 columns makes the
    # result deterministic under URI hash collisions.
    return doc_nodes.unionByName(entity_nodes).distinct()


def build_edges(classified_terms: DataFrame, dedup: bool = True) -> DataFrame:
    """``edges(src, dst, rel_type)`` from classified terms
    (doc_id, norm_term, label), directed as in entity_edge.

    ``dedup=False`` skips the final distinct — a whole shuffle stage of
    the full edge set. Safe whenever ``classified_terms`` is already
    (doc_id, norm_term)-distinct (the classification operator's output
    contract): the edge map is then 1:1, and MERGE idempotency is
    still guaranteed by the sink's (src, dst, rel_type) dedup at write
    time — the same division of labor build_nodes documents for
    (label, key)."""
    edges = classified_terms.select(
        *entity_edge(
            F.col("doc_id").cast("string"), F.col("norm_term"), F.col("label")
        )
    )
    return edges.distinct() if dedup else edges
