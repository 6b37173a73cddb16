"""repoint_edges: the int-coded aggregation must be row-identical to a
string-grouped aggregation of the re-pointed occurrences on ANY input,
including foreign inputs the pipeline never produces (docstring
contract of ``repoint_edges``):

* endpoints absent from the cluster linkmap (kept as raw strings),
* NULL endpoints (`subj != obj` null semantics drop them),
* a raw endpoint string equal to a cluster_id it does not map to
  (string grouping merges it into the coded group; a mapped endpoint
  decoding to the same string as the other side's raw makes a
  self-loop),
* a cluster_id present as an entity_id mapping to a DIFFERENT cluster
  (the identity-augment must not override the given mapping).

``materialize_graph`` derives its stats key table from ``edges``; its
node stats must equal degrees and communities recomputed from the
reference key set, for both raw-triple input shapes.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import transcripts_df
from graphrag_rs_spark.operators.assembly import assemble_documents
from graphrag_rs_spark.operators.canonicalize import canonicalize_entities
from graphrag_rs_spark.operators.chunking import chunk_documents
from graphrag_rs_spark.operators.extraction import (
    edges_partial_table,
    edges_raw_table,
    entities_raw_table,
    extract_chunks,
)
from graphrag_rs_spark.operators.materialize import (
    materialize_graph,
    repoint_edges,
    repointed_occurrences,
)


def reference_edges(edges_raw, clusters):
    """String-grouped dedupe of the re-pointed occurrence rows: max
    confidence, sorted distinct contexts."""
    return repointed_occurrences(edges_raw, clusters).groupBy(
        "subj", "pred", "obj"
    ).agg(
        F.max("confidence").alias("confidence"),
        F.array_sort(F.collect_set("context_chunk")).alias("context"),
    )


def _rows(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], round(r["confidence"], 6),
         tuple(r["context"]))
        for r in df.collect()
    )


def _run_both(spark, edges_rows, cluster_rows):
    edges_raw = spark.createDataFrame(
        edges_rows,
        "subj string, pred string, obj string, confidence double, "
        "context_chunk string",
    )
    clusters = spark.createDataFrame(
        cluster_rows, "entity_id string, cluster_id string"
    )
    return (
        _rows(reference_edges(edges_raw, clusters)),
        _rows(repoint_edges(edges_raw, clusters)),
    )


class TestIntCodedPathParity:
    def test_pipeline_shaped_input(self, spark):
        ref, coded = _run_both(
            spark,
            [
                ("e1", "knows", "e2", 0.9, "c1"),
                ("e1", "knows", "e2", 0.8, "c2"),
                ("e2", "near", "e3", 0.7, "c1"),
                ("e1", "knows", "e3", 0.6, "c3"),  # merged -> self-loop
            ],
            [("e1", "e1"), ("e2", "e2"), ("e3", "e1")],
        )
        assert ref == coded
        assert ref  # non-trivial

    def test_unmapped_and_null_endpoints(self, spark):
        ref, coded = _run_both(
            spark,
            [
                ("ghost", "knows", "e2", 0.9, "c1"),   # subj unmapped
                ("e1", "knows", "phantom", 0.8, "c2"),  # obj unmapped
                (None, "knows", "e2", 0.7, "c3"),       # null subj: dropped
                ("e1", "knows", None, 0.6, "c4"),       # null obj: dropped
                ("ghost", "knows", "ghost", 0.5, "c5"),  # raw self-loop
            ],
            [("e1", "e1"), ("e2", "e2")],
        )
        assert ref == coded
        subjs = {r[0] for r in ref}
        assert "ghost" in subjs and None not in subjs

    def test_raw_string_collides_with_cluster_id(self, spark):
        # "CLU" is a cluster_id but NOT an entity_id in the linkmap.
        # String grouping puts a raw "CLU" endpoint WITH rows decoded to
        # "CLU" (one output row, contexts unioned) and drops the decoded
        # self-loop (e1 -> raw CLU repoints to CLU -> CLU).
        ref, coded = _run_both(
            spark,
            [
                ("e1", "knows", "e2", 0.9, "c1"),    # CLU -> e2
                ("CLU", "knows", "e2", 0.4, "c2"),   # raw CLU -> e2: merges
                ("e1", "knows", "CLU", 0.8, "c3"),   # CLU -> CLU self-loop
            ],
            [("e1", "CLU"), ("e2", "e2")],
        )
        assert ref == coded
        assert ref == [("CLU", "knows", "e2", 0.9, ("c1", "c2"))]

    def test_identity_augment_does_not_override_mapping(self, spark):
        # Foreign input where cluster_id "X" also exists as an entity_id
        # mapped to a DIFFERENT cluster "Y": the given mapping must win
        # and no duplicate linkmap rows may fan the join out.
        ref, coded = _run_both(
            spark,
            [
                ("X", "knows", "e2", 0.9, "c1"),
                ("e1", "knows", "e2", 0.7, "c2"),
            ],
            [("e1", "X"), ("e2", "e2"), ("X", "Y"), ("q", "Y")],
        )
        assert ref == coded
        assert ref == [
            ("X", "knows", "e2", 0.7, ("c2",)),
            ("Y", "knows", "e2", 0.9, ("c1",)),
        ]


def _expected_node_stats(node_ids, keys):
    """Degree and connected-component community (min member id, size)
    of every node, from a (subj, pred, obj) key set, in plain Python."""
    keys = [(s, o) for s, _, o in keys if s in node_ids and o in node_ids]
    degree = Counter()
    parent = {n: n for n in node_ids}

    def find(n):
        while parent[n] != n:
            parent[n] = parent[parent[n]]
            n = parent[n]
        return n

    for s, o in keys:
        degree[s] += 1
        degree[o] += 1
        rs, ro = find(s), find(o)
        if rs != ro:
            parent[max(rs, ro)] = min(rs, ro)
    root = {n: find(n) for n in node_ids}
    size = Counter(root.values())
    return sorted((n, degree[n], root[n], size[root[n]]) for n in node_ids)


@pytest.mark.parametrize("table", ["edges_raw_table", "edges_partial_table"])
def test_node_stats_match_reference_key_set(spark, table):
    cfg = PipelineConfig()
    docs = assemble_documents(transcripts_df(spark, 8, seed=5))
    extraction = extract_chunks(chunk_documents(docs, cfg), cfg).cache()
    entities_raw = entities_raw_table(extraction)
    clusters = canonicalize_entities(entities_raw, cfg).cache()
    occurrences = edges_raw_table(extraction, cfg.relationship_confidence)
    edges_raw = (
        occurrences if table == "edges_raw_table"
        else edges_partial_table(extraction)
    )

    nodes, edges, node_stats = materialize_graph(
        edges_raw, clusters, entities_raw, cfg, cache_intermediate=True
    )
    node_ids = {r["cluster_id"] for r in nodes.collect()}
    reference = reference_edges(occurrences, clusters).collect()
    expected = _expected_node_stats(
        node_ids, [(r["subj"], r["pred"], r["obj"]) for r in reference]
    )
    got = sorted(
        (r["cluster_id"], r["degree"], r["community_id"], r["community_size"])
        for r in node_stats.collect()
    )
    assert got == expected
    assert any(d > 0 for _, d, _, _ in got)  # the corpus has edges
    spark.catalog.clearCache()
