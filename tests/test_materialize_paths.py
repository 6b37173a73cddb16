"""edges_table: the int-coded re-point/integrity join must be row-identical
to a plain string-keyed reference on ANY occurrence rows, including
foreign inputs the pipeline never produces:

* endpoints absent from the cluster linkmap (kept as their own id, so
  they survive only when that id is a node),
* NULL endpoints (dropped),
* a raw endpoint string equal to a cluster_id it does not map to
  (string grouping merges it into that cluster's group; a mapped endpoint
  decoding to the same string as the other side's raw makes a
  self-loop),
* a cluster_id present as an entity_id mapping to a DIFFERENT cluster
  (the identity rows must not override the given mapping),
* a NULL cluster_id (maps nothing),
* a cluster that is not a node (its members' edges are dropped),
* an entity in two clusters (its edges fan out to both).

``materialize_graph`` derives its stats key table from ``edges``; its
node stats must equal degrees and communities recomputed from the
reference key set.
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
    edges_raw_table,
    entities_raw_table,
    extract_chunks,
)
from graphrag_rs_spark.operators.materialize import edges_table, materialize_graph


def reference_edges(edges_raw, clusters, nodes):
    """String-keyed stage F: left-join re-point (an endpoint with no
    non-NULL cluster keeps its raw string), drop NULL endpoints and
    self-loops, group on the strings, then keep edges whose endpoints are
    both node ids."""
    links = clusters.where(F.col("cluster_id").isNotNull())

    def repoint(df, side):
        link = links.select(F.col("entity_id").alias(side), F.col("cluster_id").alias("_c"))
        return df.join(link, side, "left").withColumn(side, F.coalesce("_c", side)).drop("_c")

    repointed = repoint(repoint(edges_raw, "subj"), "obj").where(
        F.col("subj") != F.col("obj")
    )
    node_ids = nodes.select("cluster_id")
    return (
        repointed.groupBy("subj", "pred", "obj").agg(
            F.max("confidence").alias("confidence"),
            F.array_sort(F.collect_set("context_chunk")).alias("context"),
        )
        .join(node_ids.withColumnRenamed("cluster_id", "subj"), "subj", "left_semi")
        .join(node_ids.withColumnRenamed("cluster_id", "obj"), "obj", "left_semi")
    )


def _rows(df):
    return sorted(
        (r["subj"], r["pred"], r["obj"], round(r["confidence"], 6),
         tuple(r["context"]))
        for r in df.collect()
    )


def _coded_rows(spark, edges_rows, cluster_rows, node_ids=None):
    """Coded vs reference rows; asserts they are equal and returns them.
    ``node_ids`` defaults to the distinct cluster ids."""
    if node_ids is None:
        node_ids = sorted({c for _, c in cluster_rows if c is not None})
    clusters = spark.createDataFrame(
        cluster_rows, "entity_id string, cluster_id string"
    )
    nodes = spark.createDataFrame([(n,) for n in node_ids], "cluster_id string")
    edges_raw = spark.createDataFrame(
        edges_rows,
        "subj string, pred string, obj string, confidence double, "
        "context_chunk string",
    )
    coded = _rows(edges_table(edges_raw, clusters, nodes))
    assert coded == _rows(reference_edges(edges_raw, clusters, nodes))
    return coded


class TestIntCodedPathParity:
    def test_pipeline_shaped_input(self, spark):
        ref = _coded_rows(
            spark,
            [
                ("e1", "knows", "e2", 0.9, "c1"),
                ("e1", "knows", "e2", 0.8, "c2"),
                ("e2", "near", "e3", 0.7, "c1"),
                ("e1", "knows", "e3", 0.6, "c3"),  # merged -> self-loop
            ],
            [("e1", "e1"), ("e2", "e2"), ("e3", "e1")],
        )
        assert ref == [
            ("e1", "knows", "e2", 0.9, ("c1", "c2")),
            ("e2", "near", "e1", 0.7, ("c1",)),
        ]

    def test_unmapped_and_null_endpoints(self, spark):
        ref = _coded_rows(
            spark,
            [
                ("ghost", "knows", "e2", 0.9, "c1"),   # subj unmapped node
                ("e1", "knows", "phantom", 0.8, "c2"),  # obj not a node
                (None, "knows", "e2", 0.7, "c3"),       # null subj: dropped
                ("e1", "knows", None, 0.6, "c4"),       # null obj: dropped
                ("ghost", "knows", "ghost", 0.5, "c5"),  # raw self-loop
            ],
            [("e1", "e1"), ("e2", "e2")],
            node_ids=["e1", "e2", "ghost"],
        )
        assert ref == [("ghost", "knows", "e2", 0.9, ("c1",))]

    def test_raw_string_collides_with_cluster_id(self, spark):
        # "CLU" is a cluster_id but NOT an entity_id in the linkmap.
        # String grouping puts a raw "CLU" endpoint WITH rows decoded to
        # "CLU" (one output row, contexts unioned) and drops the decoded
        # self-loop (e1 -> raw CLU repoints to CLU -> CLU).
        ref = _coded_rows(
            spark,
            [
                ("e1", "knows", "e2", 0.9, "c1"),    # CLU -> e2
                ("CLU", "knows", "e2", 0.4, "c2"),   # raw CLU -> e2: merges
                ("e1", "knows", "CLU", 0.8, "c3"),   # CLU -> CLU self-loop
            ],
            [("e1", "CLU"), ("e2", "e2")],
        )
        assert ref == [("CLU", "knows", "e2", 0.9, ("c1", "c2"))]

    def test_identity_augment_does_not_override_mapping(self, spark):
        # Foreign input where cluster_id "X" also exists as an entity_id
        # mapped to a DIFFERENT cluster "Y": the given mapping must win
        # and no duplicate linkmap rows may fan the join out.
        ref = _coded_rows(
            spark,
            [
                ("X", "knows", "e2", 0.9, "c1"),
                ("e1", "knows", "e2", 0.7, "c2"),
            ],
            [("e1", "X"), ("e2", "e2"), ("X", "Y"), ("q", "Y")],
        )
        assert ref == [
            ("X", "knows", "e2", 0.7, ("c2",)),
            ("Y", "knows", "e2", 0.9, ("c1",)),
        ]

    def test_null_cluster_id_maps_nothing(self, spark):
        # e3's only cluster is NULL and e3 is a node id (e4's cluster), so
        # it stands for itself; e5's NULL row is ignored beside its e2 row;
        # e7 has only a NULL cluster and is not a node. The NULL node id
        # (a NULL cluster_id group in nodes) never becomes an endpoint.
        ref = _coded_rows(
            spark,
            [
                ("e1", "knows", "e3", 0.9, "c1"),
                ("e5", "knows", "e1", 0.8, "c2"),
                ("e7", "knows", "e1", 0.7, "c3"),
                ("e1", "near", "e4", 0.6, "c4"),
            ],
            [("e1", "e1"), ("e2", "e2"), ("e3", None), ("e4", "e3"),
             ("e5", None), ("e5", "e2"), ("e7", None)],
            node_ids=["e1", "e2", "e3", None],
        )
        assert ref == [
            ("e1", "knows", "e3", 0.9, ("c1",)),
            ("e1", "near", "e3", 0.6, ("c4",)),
            ("e2", "knows", "e1", 0.8, ("c2",)),
        ]

    def test_cluster_outside_nodes(self, spark):
        # e2's cluster K is not a node: every edge touching e2, or a raw
        # "K" endpoint, is dropped by integrity
        ref = _coded_rows(
            spark,
            [
                ("e1", "knows", "e2", 0.9, "c1"),
                ("K", "knows", "e1", 0.8, "c2"),
                ("e1", "knows", "e3", 0.7, "c3"),
            ],
            [("e1", "e1"), ("e2", "K"), ("e3", "e3")],
            node_ids=["e1", "e3"],
        )
        assert ref == [("e1", "knows", "e3", 0.7, ("c3",))]

    def test_entity_in_two_clusters(self, spark):
        # e1 is listed under clusters A and B: each edge fans out to
        # both, and the fan-out to its own cluster is a self-loop
        ref = _coded_rows(
            spark,
            [
                ("e1", "knows", "e2", 0.9, "c1"),
                ("e1", "near", "A", 0.8, "c2"),
            ],
            [("e1", "A"), ("e1", "B"), ("e2", "e2")],
        )
        assert ref == [
            ("A", "knows", "e2", 0.9, ("c1",)),
            ("B", "knows", "e2", 0.9, ("c1",)),
            ("B", "near", "A", 0.8, ("c2",)),
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


# one raw-edge shape is left: the build's occurrence rows
@pytest.mark.parametrize("table", ["edges_raw_table"])
def test_node_stats_match_reference_key_set(spark, table):
    cfg = PipelineConfig()
    docs = assemble_documents(transcripts_df(spark, 8, seed=5))
    extraction = extract_chunks(chunk_documents(docs, cfg), cfg).cache()
    entities_raw = entities_raw_table(extraction)
    clusters = canonicalize_entities(entities_raw, cfg).cache()
    edges_raw = edges_raw_table(extraction, cfg.relationship_confidence)

    nodes, edges, node_stats = materialize_graph(
        edges_raw, clusters, entities_raw, cfg, cache_intermediate=True
    )
    node_ids = {r["cluster_id"] for r in nodes.collect()}
    reference = reference_edges(edges_raw, clusters, nodes).collect()
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
