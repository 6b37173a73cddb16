"""Physical-plan audit: `.explain("formatted")` the key operator plans and
assert/record the properties that matter at 100 TB scale:

* parquet scans show column pruning (ReadSchema) + pushed filters,
* small-side joins broadcast (BroadcastHashJoin / BroadcastExchange),
* extraction is a NARROW map after the assembly shuffle (no extra Exchange),
* relational stages run inside WholeStageCodegen.

Writes PLANS.md at the repo root with the evidence extracts.
"""

from __future__ import annotations

import io
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from contextlib import redirect_stdout

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict:
    # count only the numbered operator detail lines "(N) OpName", not the
    # ASCII tree (every node appears twice in formatted output)
    ops = re.findall(r"^\(\d+\) ([A-Za-z]+)", plan, re.MULTILINE)
    return {
        "exchanges": sum(o == "Exchange" for o in ops),
        "broadcast_joins": sum(
            o in ("BroadcastHashJoin", "BroadcastNestedLoopJoin") for o in ops
        ),
        "sortmerge_joins": sum(o == "SortMergeJoin" for o in ops),
        "codegen_spans": len(set(re.findall(r"\[codegen id : (\d+)\]", plan))),
        "python_stages": sum(
            o in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")
            for o in ops
        ),
        "pushed_filters": re.findall(r"PushedFilters: \[[^\]]*\]", plan)[:3],
        "read_schemas": re.findall(r"ReadSchema: [^\n]*", plan)[:3],
    }


def main() -> None:
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-audit")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import transcripts_df
    from graphrag_rs_spark.operators.assembly import assemble_documents
    from graphrag_rs_spark.operators.chunking import chunk_documents
    from graphrag_rs_spark.operators.dedup import exact_dedup
    from graphrag_rs_spark.operators.extraction import edges_raw_table, extract_chunks
    from graphrag_rs_spark.operators.materialize import edges_table
    from graphrag_rs_spark.operators.similarity_search import brute_force_knn

    cfg = PipelineConfig()
    transcripts = transcripts_df(spark, 20, seed=42)
    docs = assemble_documents(transcripts)
    chunks = chunk_documents(docs, cfg)
    extraction = extract_chunks(chunks, cfg)
    edges_raw = edges_raw_table(extraction)

    documents = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    sections: list[tuple[str, str, object, str]] = []

    p = plan_of(extraction)
    sections.append((
        "assembly → chunking → extraction",
        "One Exchange total (the groupBy conv_id in assembly); chunking and "
        "extraction are narrow MapInPandas stages on top of it — extraction "
        "never reshuffles.",
        summarize(p), p,
    ))

    clusters = spark.createDataFrame(
        [("e1", "c1")], "entity_id string, cluster_id string"
    )
    p = plan_of(edges_table(edges_raw, clusters, clusters.select("cluster_id")))
    sections.append((
        "edge re-pointing (hub-entity hot spot)",
        "Linkmap joins must be BroadcastHashJoin (small side broadcast; no "
        "shuffle of the big edge table) and also drop edges to non-nodes, so "
        "no LeftSemi integrity join; final dedupe groupBy does map-side "
        "partial aggregation.",
        summarize(p), p,
    ))

    from graphrag_rs_spark.operators.canonicalize import candidate_pairs
    from graphrag_rs_spark.operators.extraction import entities_raw_table

    # the pipeline caches entities_raw (pipeline.py) — mirror that here so
    # the plan shows the InMemoryTableScan reality, not a re-derivation of
    # the whole extraction chain per scan
    entities = entities_raw_table(extraction).cache()
    entities.count()
    p = plan_of(candidate_pairs(entities, cfg))
    sections.append((
        "candidate pair generation (blocking → expand → dedupe → meta)",
        "ONE wide exchange of the pair table (the (id1,id2) dedupe); the "
        "scorer meta attaches via two BroadcastHashJoins — shuffle-joining "
        "it would re-exchange the stage's largest table twice. The "
        "anchored/stranded probe re-scans only the CACHED entities (3 "
        "cheap blocking-UDF passes over an InMemoryTableScan); its joins "
        "are over the slim keys table and AQE broadcasts the tiny "
        "stranded side at runtime (static plan may show SortMergeJoin).",
        summarize(p), p,
    ))

    pruned = exact_dedup(documents.where(F.col("doc_id") > 100), "text", "doc_id")
    p = plan_of(pruned)
    sections.append((
        "exact dedup over parquet (filter + column pruning)",
        "Parquet scan must show PushedFilters [doc_id > 100] and a ReadSchema "
        "restricted to (doc_id, text) — not the full 5-column table.",
        summarize(p), p,
    ))

    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    p = plan_of(brute_force_knn(embeddings, qs, k=10))
    sections.append((
        "brute-force kNN (query side broadcast)",
        "The query set is broadcast (BroadcastNestedLoopJoin); the corpus "
        "never shuffles for scoring — only the per-query top-k Window "
        "exchanges on query_id.",
        summarize(p), p,
    ))

    from graphrag_rs_spark.operators.analytics import local_clustering
    from graphrag_rs_spark.operators.concepts import concept_phrases
    from graphrag_rs_spark.operators.retrieval import tfidf_keywords

    p = plan_of(concept_phrases(documents, text_col="text", id_col="doc_id"))
    sections.append((
        "concept phrase mining (pure Catalyst regex path)",
        "Zero Python stages: regexp_extract_all + higher-order filters run "
        "inside WholeStageCodegen; the only Exchange is the final distinct.",
        summarize(p), p,
    ))

    p = plan_of(tfidf_keywords(documents, top_k=5))
    sections.append((
        "TF-IDF keywords (two-aggregation shape)",
        "No Python stages; tokenize is narrow; term counts and document "
        "frequencies shuffle on term keys with partial aggregation; the "
        "per-doc top-k Window exchanges on doc_id only.",
        summarize(p), p,
    ))

    from graphrag_rs_spark.operators.retrieval import hybrid_search

    p = plan_of(hybrid_search(documents, "spark table scan", k_each=10, top_n=5))
    sections.append((
        "hybrid search (BM25 + vector + RRF, one call)",
        "Both branches scan the same doc table narrowly (BM25 postings "
        "filter on query terms BEFORE the shuffle; the embedding UDF is one "
        "ArrowEvalPython stage); the query vector is a literal — no collect "
        "of data rows; fusion is a union + one aggregation.",
        summarize(p), p,
    ))

    nation = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    band = (
        nation.select(
            F.col("n_regionkey").alias("g"),
            F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias("id"),
        )
    )
    band_edges = band.alias("a").join(band.alias("b"), "g").select(
        F.col("a.id").alias("src"), F.col("b.id").alias("dst")
    ).where(F.col("src") < F.col("dst"))
    p = plan_of(local_clustering(band_edges))
    sections.append((
        "clustering coefficient (wedge join triangle count)",
        "Triangle counting is two hash joins on edge keys + one aggregation "
        "— no per-node adjacency collection, no Python.",
        summarize(p), p,
    ))

    # ---- round-3 session-3 operators: corpus KG, bidirectional index,
    # fallback relations. Inputs shaped from the documents parquet so the
    # extracts show real scans, not LocalTableScan.
    from graphrag_rs_spark.operators.bidirectional_index import (
        co_occurring_entities,
    )
    from graphrag_rs_spark.operators.corpus import (
        corpus_relations,
        global_entities,
    )
    from graphrag_rs_spark.operators.fallback_relations import (
        extract_relationships_fallback,
    )

    members = documents.select(
        F.concat(F.lit("c"), (F.col("doc_id") % 40).cast("string")).alias(
            "cluster_id"
        ),
        F.concat(F.lit("n"), (F.col("doc_id") % 40).cast("string")).alias(
            "canonical_name"
        ),
        F.lit("PERSON").alias("entity_type"),
        F.concat(F.lit("d"), (F.col("doc_id") % 25).cast("string")).alias(
            "doc_id"
        ),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias(
            "entity_id"
        ),
        F.concat(F.lit("n"), (F.col("doc_id") % 60).cast("string")).alias(
            "name"
        ),
        F.lit(0.9).alias("confidence"),
    )
    p = plan_of(global_entities(members))
    sections.append((
        "corpus global entities (cluster roll-up)",
        "One aggregation keyed on cluster_id with partial (map-side) "
        "aggregation; no Python stages; collect_set fan-in is bounded by "
        "per-cluster membership, not corpus size.",
        summarize(p), p,
    ))

    p = plan_of(corpus_relations(members))
    sections.append((
        "corpus co-occurrence relations (doc_id self-join)",
        "The pair generator joins the distinct (doc, cluster) projection "
        "with itself on doc_id — the join and the pair aggregation are the "
        "only wide stages, keyed on doc_id / pair; per-document entity "
        "counts bound the blow-up, not corpus size. No Python stages.",
        summarize(p), p,
    ))

    mentions_shaped = documents.select(
        F.concat(F.lit("e"), (F.col("doc_id") % 60).cast("string")).alias(
            "entity_id"
        ),
        F.concat(F.lit("ch"), (F.col("doc_id") % 100).cast("string")).alias(
            "chunk_id"
        ),
    )
    p = plan_of(co_occurring_entities(mentions_shaped))
    sections.append((
        "bidirectional index co-occurrence (chunk_id self-join)",
        "Distinct projection then self-join on chunk_id + one pair "
        "aggregation; the index is the relation itself — no build step, no "
        "Python, scans pruned to the two key columns.",
        summarize(p), p,
    ))

    chunk_ents = documents.select(
        F.concat(F.lit("ch"), (F.col("doc_id") % 100).cast("string")).alias(
            "chunk_id"
        ),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias(
            "entity_id"
        ),
        F.substring("text", 1, 8).alias("name"),
        F.when(F.col("doc_id") % 3 == 0, "PERSON")
        .when(F.col("doc_id") % 3 == 1, "LOCATION")
        .otherwise("ORGANIZATION")
        .alias("entity_type"),
    )
    chunk_texts = documents.select(
        F.concat(F.lit("ch"), (F.col("doc_id") % 100).cast("string")).alias(
            "chunk_id"
        ),
        F.col("text").alias("content"),
    )
    p = plan_of(extract_relationships_fallback(chunk_ents, chunk_texts))
    sections.append((
        "fallback relationship extraction (when-cascade over pair join)",
        "Zero Python stages: the 9-arm type dispatch + keyword probes are "
        "one codegen'd CASE cascade; wide stages are the chunk_id pair "
        "self-join and the chunk-text join only.",
        summarize(p), p,
    ))

    from graphrag_rs_spark.operators.inference import infer_relationships_batch

    inf_chunks = documents.select(
        F.concat(F.lit("ch"), F.col("doc_id").cast("string")).alias("chunk_id"),
        "text",
        F.array(
            F.concat(F.lit("PERSON_e"), (F.col("doc_id") % 40).cast("string")),
            F.concat(F.lit("PERSON_e"), (F.col("doc_id") % 60).cast("string")),
        ).alias("entity_ids"),
    )
    inf_targets = spark.createDataFrame(
        [("PERSON_e1", "FRIENDS"), ("PERSON_e2", "FRIENDS")],
        "target_id string, relation_type string",
    )
    p = plan_of(infer_relationships_batch(inf_chunks, inf_targets))
    sections.append((
        "relationship inference (broadcast targets, one Arrow pass)",
        "Targets reach the chunk scan via BroadcastHashJoin/"
        "BroadcastNestedLoopJoin (array_contains), evidence scoring is ONE "
        "MapInPandas over the exploded pairs, and the normalize/threshold/"
        "top-k tail is two hash aggregations + a per-target window — no "
        "driver loop, no all-pairs stage.",
        summarize(p), p,
    ))

    from graphrag_rs_spark.plans.optimizer import GraphStatistics, QueryOptimizer
    from graphrag_rs_spark.plans.query_ops import (
        EntityScan as QEntityScan,
        GraphTables as QGraphTables,
        Join as QJoin,
    )

    q_nodes = documents.select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("cluster_id"),
        F.substring("text", 1, 8).alias("name"),
        F.when(F.col("doc_id") % 5 == 0, "ORGANIZATION")
        .otherwise("PERSON")
        .alias("entity_type"),
        F.lit(0.9).alias("confidence"),
    )
    q_edges = documents.select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("related_to").alias("pred"),
        F.concat(F.lit("n"), ((F.col("doc_id") + 1) % 1000).cast("string")).alias(
            "obj"
        ),
        F.lit(0.8).alias("confidence"),
    )
    stats = GraphStatistics.from_tables(q_nodes, q_edges)
    opt = QueryOptimizer(stats)
    p = plan_of(
        opt.plan(
            QJoin(QEntityScan("PERSON"), QEntityScan("ORGANIZATION"), "inner"),
            QGraphTables(q_nodes, q_edges),
        )
    )
    sections.append((
        "cost-optimized query-algebra join (cardinality-hinted broadcast)",
        "The optimizer's cardinality estimate hints broadcast() on the "
        "provably-small join side BEFORE execution, so the physical plan "
        "shows BroadcastHashJoin without waiting for an AQE shuffle "
        "materialization.",
        summarize(p), p,
    ))

    # -- semantic merger candidate edges (entity/semantic_merging.rs port)
    from graphrag_rs_spark.operators.semantic_merge import candidate_match_edges

    sm_entities = spark.range(20000).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("entity_id"),
        F.concat(
            F.lit("Entity "),
            (F.col("id") % 4000).cast("string"),
            F.when(F.col("id") % 3 == 0, F.lit(" Inc")).otherwise(F.lit("")),
        ).alias("name"),
        F.when(F.col("id") % 2 == 0, F.lit("ORGANIZATION"))
        .otherwise(F.lit("PERSON"))
        .alias("entity_type"),
        F.lit(0.9).alias("confidence"),
        F.col("id").alias("order"),
    )
    p = plan_of(candidate_match_edges(sm_entities, 0.7, all_pairs_gate=1000))
    sections.append((
        "semantic-merge candidate edges (blocked pair generation, JVM similarity)",
        "Above the all-pairs gate the pair space must come from token/prefix "
        "blocking (no cross join), the hot-block filter must broadcast the "
        "per-key counts, and the 0.7*name+0.3*type similarity must run in "
        "whole-stage codegen so only true match edges leave the stage "
        "(zero Python stages in this plan; the greedy replay downstream is "
        "a cogrouped Arrow pass by design).",
        summarize(p), p,
    ))

    out = ["# PLANS — physical-plan audit evidence",
           "",
           "Generated by `scripts/plan_audit.py` (`local[8]`, AQE on, sf0.01 "
           "inputs). For each key operator: the scale property the plan must "
           "have, the summary counts, and the `.explain(\"formatted\")` "
           "extract.", ""]
    for title, why, summary, plan in sections:
        out.append(f"## {title}\n")
        out.append(f"**Required property**: {why}\n")
        out.append(f"**Summary**: `{summary}`\n")
        out.append("```\n" + plan.strip()[:4000] + "\n```\n")

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    for title, why, summary, _ in sections:
        print(f"-- {title}: {summary}")
    spark.stop()


if __name__ == "__main__":
    main()
