"""Stage F — graph materialization: re-point edges, build nodes/edges tables.

* Edge re-pointing — every raw triple's subj/obj is replaced by its cluster's
  canonical id (the consumer side of the linker's links map,
  graphrag-rs string_similarity_linker.rs:66-71). Hub entities make the
  re-point join the pipeline's skew hot spot: the linkmap side is small
  relative to edges, so we BROADCAST it and no reducer owns a hub.
* Referential integrity — both endpoints must exist in nodes
  (core/mod.rs:291-306: add_relationship requires both endpoints). The
  linkmap only holds endpoints that re-point to a node, so the same
  inner join that re-points an endpoint drops an edge to a non-node.
* Self-loops created by merging near-duplicate endpoints are dropped.
* Edge dedupe — key (subj, obj, pred), keep max confidence, union contexts
  (gleaning_extractor.rs:418-435).
* Node stats — degree (graph/analytics.rs:69-89) and connected-component
  communities with sizes (analytics.rs:97-176, leiden.rs:106-120).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.functions import tune_object_agg
from graphrag_rs_spark.operators.graph import communities, degrees


def nodes_table(clusters: DataFrame, entities_raw: DataFrame) -> DataFrame:
    """One row per canonical entity: name/type/confidence + roll-ups."""
    enriched = clusters.join(
        entities_raw.select("entity_id", "mention_count", "aliases"), "entity_id"
    )
    return enriched.groupBy("cluster_id").agg(
        F.first("canonical_name").alias("name"),
        F.first("entity_type").alias("entity_type"),
        F.max("confidence").alias("confidence"),
        F.sum("mention_count").alias("mention_count"),
        F.count(F.lit(1)).alias("member_count"),
        F.array_sort(F.array_distinct(F.flatten(F.collect_list("aliases")))).alias("aliases"),
    )


def edges_table(
    edges_raw: DataFrame,
    clusters: DataFrame,
    nodes: DataFrame,
) -> DataFrame:
    """Re-pointed, deduped edges whose endpoints both exist in ``nodes``:
    edges(subj, pred, obj, confidence, context array<string>), from the
    occurrence rows (subj, obj, pred, confidence, context_chunk) of
    ``edges_raw_table``: max confidence, sorted distinct chunk ids.

    Every node id gets a LONG code. The linkmap maps each entity to the
    code of its cluster, and each node id that is not a clustered entity
    to its own code; an entity whose cluster is not a node maps nowhere,
    and a NULL cluster_id maps nothing. One broadcast inner join per
    endpoint therefore re-points, int-codes and integrity-filters at
    once. The dedupe exchange is the build's largest shuffle, and it
    groups on the code pair instead of two ~22-byte strings; a broadcast
    decode restores the ids afterwards. Two codes are equal exactly when
    their ids are, so the output equals grouping on the id strings.

    The context-carrying edge table is deliberately NEVER memory-cached:
    Spark's in-memory columnar encoder is pathological on array columns
    (measured 255 s to cache 4.2M context-carrying rows that took 31 s to
    COMPUTE), so persisting it costs ~8x the recompute it saves. Callers
    who rescan ``edges`` repeatedly should checkpoint it to parquet
    (plans/checkpoint.py), which encodes arrays natively."""
    tune_object_agg(edges_raw.sparkSession)
    codes = (
        nodes.select("cluster_id")
        .distinct()
        .withColumn("_code", F.monotonically_increasing_id())
        # encode and decode MUST see the same code assignment;
        # monotonically_increasing_id is partition-dependent, so pin one
        # materialized snapshot for both scans
        .localCheckpoint(eager=False)
    )
    links = clusters.select("entity_id", "cluster_id").where(
        F.col("cluster_id").isNotNull()
    )
    identity = codes.select(
        F.col("cluster_id").alias("entity_id"), "_code"
    ).join(links.select("entity_id"), "entity_id", "left_anti")
    linkmap = F.broadcast(
        links.join(codes, "cluster_id").select("entity_id", "_code")
        .unionByName(identity)
    )

    def encode(side: str, code: str) -> DataFrame:
        return linkmap.select(F.col("entity_id").alias(side), F.col("_code").alias(code))

    coded = (
        edges_raw.join(encode("subj", "_scode"), "subj")
        .join(encode("obj", "_ocode"), "obj")
        .where(F.col("_scode") != F.col("_ocode"))  # merged endpoints
    )

    def decode(code: str, side: str) -> DataFrame:
        return F.broadcast(
            codes.select(F.col("_code").alias(code), F.col("cluster_id").alias(side))
        )

    return (
        coded.groupBy("_scode", "pred", "_ocode").agg(
            F.max("confidence").alias("confidence"),
            F.array_sort(F.collect_set("context_chunk")).alias("context"),
        )
        .join(decode("_scode", "subj"), "_scode")
        .join(decode("_ocode", "obj"), "_ocode")
        .select("subj", "pred", "obj", "confidence", "context")
    )


def node_stats_table(nodes: DataFrame, edge_keys: DataFrame) -> DataFrame:
    """Degree and connected-component community per node.

    ``edge_keys`` is the (subj, pred, obj) projection of ``edges_table``
    itself, so stats and edges can never disagree. Over an unpersisted
    ``edges`` plan, column pruning drops the ``max``/``collect_set``
    buffers from that projection's aggregate, leaving a plain distinct
    over the grouping keys."""
    deg = degrees(edge_keys, src="subj", dst="obj")
    comm = communities(edge_keys, src="subj", dst="obj")
    return (
        nodes.select("cluster_id")
        .join(deg, nodes["cluster_id"] == deg["id"], "left")
        .drop("id")
        .join(comm, nodes["cluster_id"] == comm["id"], "left")
        .drop("id")
        .select(
            "cluster_id",
            F.coalesce("degree", F.lit(0)).alias("degree"),
            F.coalesce("community_id", F.col("cluster_id")).alias("community_id"),
            F.coalesce("community_size", F.lit(1)).alias("community_size"),
        )
    )


def materialize_graph(
    edges_raw: DataFrame,
    clusters: DataFrame,
    entities_raw: DataFrame,
    config: PipelineConfig | None = None,
    cache_intermediate: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (nodes, edges, node_stats): ``nodes_table``, ``edges_table``
    and ``node_stats_table`` composed.

    ``cache_intermediate`` caches the SLIM tables that multiple consumers
    scan (nodes; the edge key table). The key table is not returned:
    callers that need to release it use ``spark.catalog.clearCache()``,
    or compose the three steps themselves. Stage F reads no setting, so
    ``config`` is unused."""
    nodes = nodes_table(clusters, entities_raw)
    if cache_intermediate:
        # nodes feeds edges_table's code table AND the output
        nodes = nodes.cache()
    edges = edges_table(edges_raw, clusters, nodes)
    edge_keys = edges.select("subj", "pred", "obj")
    if cache_intermediate:
        edge_keys = edge_keys.cache()
    return nodes, edges, node_stats_table(nodes, edge_keys)

