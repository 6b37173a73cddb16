"""Stage E — graph materialization: re-point edges, build nodes/edges tables.

* Edge re-pointing — every raw triple's subj/obj is replaced by its cluster's
  canonical id (the consumer side of the linker's links map,
  graphrag-rs string_similarity_linker.rs:66-71). Hub entities make the
  re-point join the pipeline's skew hot spot: the linkmap side is small
  relative to edges, so we BROADCAST it and no reducer owns a hub.
* Self-loops created by merging near-duplicate endpoints are dropped.
* Edge dedupe — key (subj, obj, pred), keep max confidence, union contexts
  (gleaning_extractor.rs:418-435).
* Referential integrity — both endpoints must exist in nodes
  (core/mod.rs:291-306: add_relationship requires both endpoints).
* Node stats — degree (graph/analytics.rs:69-89) and connected-component
  communities with sizes (analytics.rs:97-176, leiden.rs:106-120).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.functions import tune_object_agg
from graphrag_rs_spark.operators.graph import communities, degrees


def repoint_edges(
    edges_raw: DataFrame,
    clusters: DataFrame,
    relationship_confidence: float = 0.5,
) -> DataFrame:
    """Map subj/obj to canonical cluster ids and dedupe.

    Accepts EITHER shape of raw triples:

    * occurrence-level rows (subj, pred, obj, confidence, context_chunk)
      from ``edges_raw_table``, or
    * per-partition pre-combined rows (subj, pred, obj, contexts,
      n_occurrences) from ``edges_partial_table`` — ~30× fewer rows reach
      the joins and the final aggregation merges partial context sets
      (associative, bit-identical result).

    Returns edges(subj, pred, obj, confidence, context array<string>).

    Occurrence-level rows are aggregated on integer codes. The dedupe
    exchange is the build's largest shuffle: tens of millions of
    occurrence rows, which would be keyed by two ~22-byte canonical-id
    strings. The same broadcast join that re-points an endpoint also
    attaches a per-cluster LONG code (built once from the distinct
    cluster ids, materialized so the encode and decode sides read one
    snapshot), the aggregation groups on the code pair (~45% fewer
    shuffle bytes, long comparisons instead of string), and a broadcast
    decode restores the canonical-id strings afterwards — the output is
    IDENTICAL row-for-row to grouping on the strings. Endpoints absent
    from the linkmap (impossible in the pipeline, where every entity
    maps to a cluster — singletons to themselves — but legal for foreign
    inputs) keep their raw string in the group key, so correctness does
    not depend on coverage.
    """
    if "contexts" in edges_raw.columns:
        repointed = repointed_occurrences(edges_raw, clusters)
        # occurrence rows all carry the constant config confidence
        # (edges_raw_table semantics, config/mod.rs:887-889), so max == lit
        return (
            repointed.groupBy("subj", "pred", "obj")
            .agg(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("contexts")))
                ).alias("context"),
            )
            .select(
                "subj",
                "pred",
                "obj",
                F.lit(relationship_confidence).cast("float").alias("confidence"),
                "context",
            )
        )

    codes = (
        clusters.select("cluster_id")
        .distinct()
        .withColumn("_code", F.monotonically_increasing_id())
        # encode and decode MUST see the same code assignment;
        # monotonically_increasing_id is partition-dependent, so pin one
        # materialized snapshot for both scans
        .localCheckpoint(eager=False)
    )
    # Identity rows for cluster_ids that are NOT themselves mapped
    # entity_ids: a raw endpoint string equal to such a cluster_id must
    # land in the SAME group as rows coded to that cluster (as it would
    # when grouping on decoded strings). Pipeline-
    # produced clusters always contain their representative, so this
    # anti-join is empty there; it only fires on foreign inputs.
    identity = (
        codes.select(
            F.col("cluster_id").alias("entity_id"), "cluster_id", "_code"
        )
        .join(clusters.select("entity_id"), "entity_id", "left_anti")
    )
    linkmap = F.broadcast(
        clusters.select("entity_id", "cluster_id")
        .join(codes, "cluster_id")
        .unionByName(identity)
    )

    coded = (
        edges_raw.join(
            linkmap.select(
                F.col("entity_id").alias("subj"),
                F.col("_code").alias("_scode"),
            ),
            "subj",
            "left",
        )
        .join(
            linkmap.select(
                F.col("entity_id").alias("obj"),
                F.col("_code").alias("_ocode"),
            ),
            "obj",
            "left",
        )
        .select(
            "_scode",
            # raw string rides in the key ONLY when no code exists
            F.when(F.col("_scode").isNull(), F.col("subj")).alias("_sraw"),
            "pred",
            "_ocode",
            F.when(F.col("_ocode").isNull(), F.col("obj")).alias("_oraw"),
            "confidence",
            "context_chunk",
        )
        # merged endpoints → self-loop → drop (null-safe on both parts)
        .where(
            ~(
                F.col("_scode").eqNullSafe(F.col("_ocode"))
                & F.col("_sraw").eqNullSafe(F.col("_oraw"))
            )
        )
    )
    agg = coded.groupBy("_scode", "_sraw", "pred", "_ocode", "_oraw").agg(
        F.max("confidence").alias("confidence"),
        F.array_sort(F.collect_set("context_chunk")).alias("context"),
    )
    sdec = F.broadcast(
        codes.select(
            F.col("_code").alias("_scode"), F.col("cluster_id").alias("_sdec")
        )
    )
    odec = F.broadcast(
        codes.select(
            F.col("_code").alias("_ocode"), F.col("cluster_id").alias("_odec")
        )
    )
    return (
        agg.join(sdec, "_scode", "left")
        .join(odec, "_ocode", "left")
        .select(
            F.coalesce("_sdec", "_sraw").alias("subj"),
            "pred",
            F.coalesce("_odec", "_oraw").alias("obj"),
            "confidence",
            "context",
        )
        # The pre-agg coded filter is conservative: it cannot see a
        # MAPPED endpoint whose cluster_id string equals the other
        # side's UNMAPPED raw string (code vs raw compare), and it keeps
        # rows with NULL endpoints that `subj != obj` null semantics
        # drop. Finish both on the decoded (post-agg, small) rows, so the
        # output equals a string-grouped aggregation on any input.
        .where(F.col("subj") != F.col("obj"))
    )


def repointed_occurrences(edges_raw: DataFrame, clusters: DataFrame) -> DataFrame:
    """Raw triples (either shape ``repoint_edges`` accepts) with endpoints
    re-pointed to cluster ids, self-loops dropped, not yet deduped."""
    linkmap = F.broadcast(clusters.select("entity_id", "cluster_id"))
    carry = ["contexts", "n_occurrences"] if "contexts" in edges_raw.columns else [
        "confidence", "context_chunk"
    ]
    return (
        edges_raw.join(
            linkmap.select(
                F.col("entity_id").alias("subj"), F.col("cluster_id").alias("subj_c")
            ),
            "subj",
            "left",
        )
        .join(
            linkmap.select(
                F.col("entity_id").alias("obj"), F.col("cluster_id").alias("obj_c")
            ),
            "obj",
            "left",
        )
        .select(
            F.coalesce("subj_c", "subj").alias("subj"),
            F.col("pred"),
            F.coalesce("obj_c", "obj").alias("obj"),
            *carry,
        )
        .where(F.col("subj") != F.col("obj"))  # merged endpoints → self-loop → drop
    )


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


def materialize_graph(
    edges_raw: DataFrame,
    clusters: DataFrame,
    entities_raw: DataFrame,
    config: PipelineConfig | None = None,
    cache_intermediate: bool = False,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (nodes, edges, node_stats).

    The stats key table feeding degrees and communities is the
    (subj, pred, obj) projection of ``edges`` itself, so the two can
    never disagree. Column pruning drops the ``max``/``collect_set``
    buffers from that projection's aggregate, leaving a plain distinct
    over the grouping keys.

    ``cache_intermediate`` caches the SLIM tables that multiple consumers
    scan (nodes; the key table). The context-carrying edge table itself
    is deliberately NEVER memory-cached: Spark's in-memory columnar
    encoder is pathological on array columns (measured 255 s to cache
    4.2M context-carrying rows that took 31 s to COMPUTE), so persisting
    it costs ~8× the recompute it saves. Callers who rescan `edges`
    repeatedly should checkpoint it to parquet (plans/checkpoint.py),
    which encodes arrays natively."""
    config = config or PipelineConfig()
    tune_object_agg(edges_raw.sparkSession)
    nodes = nodes_table(clusters, entities_raw)
    if cache_intermediate:
        # nodes feeds the integrity-filter broadcast AND the output
        nodes = nodes.cache()
    edges = repoint_edges(
        edges_raw, clusters,
        relationship_confidence=config.relationship_confidence,
    )

    # referential integrity (core/mod.rs:291-306): drop edges with unknown
    # endpoints — left-semi joins prune without widening rows
    node_ids = F.broadcast(nodes.select(F.col("cluster_id").alias("_nid")))
    edges = edges.join(node_ids, edges["subj"] == F.col("_nid"), "left_semi")
    edges = edges.join(node_ids, edges["obj"] == F.col("_nid"), "left_semi")
    edge_keys = edges.select("subj", "pred", "obj")
    if cache_intermediate:
        edge_keys = edge_keys.cache()

    deg = degrees(edge_keys, src="subj", dst="obj")
    comm = communities(edge_keys, src="subj", dst="obj")

    node_stats = (
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
    return nodes, edges, node_stats


def graph_statistics(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Per-type entity counts + global counts (graph/mod.rs:316-373)."""
    by_type = nodes.groupBy("entity_type").agg(F.count(F.lit(1)).alias("n"))
    totals = nodes.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("__total_nodes").alias("entity_type"), "n"
    )
    edge_total = edges.agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("__total_edges").alias("entity_type"), "n"
    )
    return by_type.unionByName(totals).unionByName(edge_total)
