"""Physical-plan shape regression tests.

The hot operator plans have properties each one must keep at 100 TB scale
(one exchange here, broadcast there, zero Python stages in a pure-Catalyst
path). This module pins the load-bearing ones on the operators' own plans,
so a refactor that silently adds a shuffle, a row-at-a-time Python stage,
or un-broadcasts a dimension join fails CI instead of surfacing as a 10x
regression on a real cluster.

Assertions are written with deliberate headroom: exact counts only where
the count IS the property (1 exchange between assembly and extraction,
zero Python stages in codegen'd paths), upper bounds or presence checks
where Catalyst/AQE has legitimate freedom. Broadcast presence is only
asserted for joins the source hints explicitly (F.broadcast), so the
checks measure the code, not the toy input's auto-broadcast threshold.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


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
        "cogroups": sum(o == "FlatMapCoGroupsInPandas" for o in ops),
        "python_stages": sum(
            o
            in (
                "MapInPandas",
                "ArrowEvalPython",
                "BatchEvalPython",
                "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas",
            )
            for o in ops
        ),
    }


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def extraction(spark):
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import transcripts_df
    from graphrag_rs_spark.operators.assembly import assemble_documents
    from graphrag_rs_spark.operators.chunking import chunk_documents
    from graphrag_rs_spark.operators.extraction import extract_chunks

    cfg = PipelineConfig()
    transcripts = transcripts_df(spark, 12, seed=42)
    return extract_chunks(chunk_documents(assemble_documents(transcripts), cfg), cfg)


def test_extraction_chain_is_one_exchange_two_arrow_stages(extraction):
    """assembly -> chunking -> extraction: exactly ONE exchange (the
    conv_id groupBy in assembly); chunking and extraction ride on top as
    narrow Arrow stages. A second exchange here re-shuffles every chunk of
    the corpus — at 100 TB that's the whole job's cost."""
    s = summarize(plan_of(extraction))
    assert s["exchanges"] == 1, s
    assert s["python_stages"] == 2, s
    assert s["sortmerge_joins"] == 0, s


def test_gleaning_is_one_extraction_pass(spark):
    """Gleaning rounds run per chunk inside the one extraction UDF: three
    rounds plan as many Python stages as one and run no more Spark jobs
    (a driver-side round loop re-plans the UDF per round and adds a
    frontier job each round)."""
    import uuid

    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import transcripts_df
    from graphrag_rs_spark.operators.assembly import assemble_documents
    from graphrag_rs_spark.operators.chunking import chunk_documents
    from graphrag_rs_spark.operators.extraction import extract_gleaning

    transcripts = transcripts_df(spark, 12, seed=42)
    sc = spark.sparkContext

    def shape(rounds: int) -> tuple[int, int]:
        cfg = PipelineConfig(max_gleaning_rounds=rounds, gleaning_entity_target=50)
        group = f"gleaning-{rounds}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            df = extract_gleaning(
                chunk_documents(assemble_documents(transcripts), cfg), cfg
            )
            df.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        return summarize(plan_of(df))["python_stages"], jobs

    one_stages, one_jobs = shape(1)
    three_stages, three_jobs = shape(3)
    assert three_stages == one_stages, (three_stages, one_stages)
    assert three_jobs <= one_jobs, (three_jobs, one_jobs)


def test_hybrid_extraction_is_one_pass(spark):
    """Hybrid extraction fuses each chunk's pattern rows inside the one LLM
    extraction UDF: over chunks it plans the algorithmic chain's shape,
    one exchange and two Python stages, with no join of two extraction
    passes on the chunk key."""
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import transcripts_df
    from graphrag_rs_spark.operators.assembly import assemble_documents
    from graphrag_rs_spark.operators.chunking import chunk_documents
    from graphrag_rs_spark.operators.llm_extraction import DeterministicStubClient
    from graphrag_rs_spark.plans.pipeline import extract_configured

    cfg = PipelineConfig(extraction_mode="hybrid")
    chunks = chunk_documents(assemble_documents(transcripts_df(spark, 12, seed=42)), cfg)
    plan = plan_of(extract_configured(chunks, cfg, DeterministicStubClient))
    s = summarize(plan)
    assert s["exchanges"] == 1, s
    assert s["python_stages"] == 2, s
    assert "Join" not in plan, plan


def test_edge_repoint_broadcasts_linkmap(spark, extraction):
    """Re-pointing 10^10 raw edges through the entity->cluster linkmap must
    broadcast the (small) linkmap, never shuffle the edge table for it; the
    same join drops edges to non-nodes, so no integrity semi-join remains."""
    from graphrag_rs_spark.operators.extraction import edges_raw_table
    from graphrag_rs_spark.operators.materialize import edges_table

    clusters = spark.createDataFrame(
        [("e1", "c1")], "entity_id string, cluster_id string"
    )
    nodes = clusters.select("cluster_id")
    plan = plan_of(edges_table(edges_raw_table(extraction), clusters, nodes))
    s = summarize(plan)
    assert s["broadcast_joins"] >= 2, s
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" not in plan
    # loose regression budget only: the static plan's SMJ-vs-hash choices on
    # the node-side aggregates swing with input size estimates (audited run
    # shows 6 exchanges, tiny-fixture test sessions up to 10); the property
    # under test is the broadcast hint above, not the agg join strategy
    assert s["exchanges"] <= 12, s


def test_exact_dedup_pushes_filter_and_prunes_columns(documents):
    """Predicate pushdown + column pruning must reach the parquet scan:
    a scan reading all 5 columns for a 2-column dedup is wrong at any
    scale, fatal at 100 TB."""
    from graphrag_rs_spark.operators.dedup import exact_dedup

    plan = plan_of(exact_dedup(documents.where(F.col("doc_id") > 100), "text", "doc_id"))
    assert "GreaterThan(doc_id,100)" in plan, plan[:2000]
    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all(sch == "struct<doc_id:bigint,text:string>" for sch in schemas), schemas
    s = summarize(plan)
    assert s["exchanges"] == 1 and s["python_stages"] == 0, s


def test_knn_broadcasts_queries_never_shuffles_corpus(documents, spark):
    """Brute-force kNN: the query set is hint-broadcast; the corpus is
    scored in place (one exchange total, for the per-query top-k window)."""
    from graphrag_rs_spark.operators.similarity_search import brute_force_knn

    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qs = embeddings.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    plan = plan_of(brute_force_knn(embeddings, qs, k=10))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    s = summarize(plan)
    assert s["exchanges"] == 1 and s["python_stages"] == 0, s


def test_concept_phrases_pure_catalyst(documents):
    """Concept mining is regexp_extract_all + higher-order filters: zero
    Python stages, one exchange (the final distinct)."""
    from graphrag_rs_spark.operators.concepts import concept_phrases

    s = summarize(plan_of(concept_phrases(documents, text_col="text", id_col="doc_id")))
    assert s["python_stages"] == 0, s
    assert s["exchanges"] == 1, s


def test_tfidf_keywords_no_python(documents):
    from graphrag_rs_spark.operators.retrieval import tfidf_keywords

    s = summarize(plan_of(tfidf_keywords(documents, top_k=5)))
    assert s["python_stages"] == 0, s
    assert s["exchanges"] <= 4, s


def test_hybrid_search_one_arrow_stage(documents):
    """BM25 + vector + RRF in one call: the only Python is the embedding
    UDF (one Arrow stage); everything else stays JVM-side."""
    from graphrag_rs_spark.operators.retrieval import hybrid_search

    s = summarize(plan_of(hybrid_search(documents, "spark table scan", k_each=10, top_n=5)))
    assert s["python_stages"] == 1, s
    assert s["exchanges"] <= 4, s


def test_fallback_relations_zero_python(documents):
    """The 9-arm type dispatch + ~34 keyword probes must stay one codegen'd
    CASE cascade — a Python stage here re-prices the whole pair table."""
    from graphrag_rs_spark.operators.fallback_relations import (
        extract_relationships_fallback,
    )

    chunk_ents = documents.select(
        F.concat(F.lit("ch"), (F.col("doc_id") % 100).cast("string")).alias("chunk_id"),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("entity_id"),
        F.substring("text", 1, 8).alias("name"),
        F.when(F.col("doc_id") % 3 == 0, "PERSON")
        .when(F.col("doc_id") % 3 == 1, "LOCATION")
        .otherwise("ORGANIZATION")
        .alias("entity_type"),
    )
    chunk_texts = documents.select(
        F.concat(F.lit("ch"), (F.col("doc_id") % 100).cast("string")).alias("chunk_id"),
        F.col("text").alias("content"),
    )
    s = summarize(plan_of(extract_relationships_fallback(chunk_ents, chunk_texts)))
    assert s["python_stages"] == 0, s


def test_corpus_and_bidir_index_zero_python(documents):
    from graphrag_rs_spark.operators.bidirectional_index import co_occurring_entities
    from graphrag_rs_spark.operators.corpus import corpus_relations, global_entities

    members = documents.select(
        F.concat(F.lit("c"), (F.col("doc_id") % 40).cast("string")).alias("cluster_id"),
        F.concat(F.lit("n"), (F.col("doc_id") % 40).cast("string")).alias("canonical_name"),
        F.lit("PERSON").alias("entity_type"),
        F.concat(F.lit("d"), (F.col("doc_id") % 25).cast("string")).alias("doc_id"),
        F.concat(F.lit("e"), F.col("doc_id").cast("string")).alias("entity_id"),
        F.concat(F.lit("n"), (F.col("doc_id") % 60).cast("string")).alias("name"),
        F.lit(0.9).alias("confidence"),
    )
    for df, max_ex in (
        (global_entities(members), 2),
        (corpus_relations(members), 3),
    ):
        s = summarize(plan_of(df))
        assert s["python_stages"] == 0 and s["exchanges"] <= max_ex, s

    mentions = documents.select(
        F.concat(F.lit("e"), (F.col("doc_id") % 60).cast("string")).alias("entity_id"),
        F.concat(F.lit("ch"), (F.col("doc_id") % 100).cast("string")).alias("chunk_id"),
    )
    s = summarize(plan_of(co_occurring_entities(mentions)))
    assert s["python_stages"] == 0 and s["exchanges"] <= 3, s


def test_inference_broadcasts_targets_one_arrow_pass(documents, spark):
    """Relationship inference: targets reach the chunk scan via an explicit
    broadcast; evidence scoring is exactly ONE Arrow stage."""
    from graphrag_rs_spark.operators.inference import infer_relationships_batch

    chunks = documents.select(
        F.concat(F.lit("ch"), F.col("doc_id").cast("string")).alias("chunk_id"),
        "text",
        F.array(
            F.concat(F.lit("PERSON_e"), (F.col("doc_id") % 40).cast("string")),
            F.concat(F.lit("PERSON_e"), (F.col("doc_id") % 60).cast("string")),
        ).alias("entity_ids"),
    )
    targets = spark.createDataFrame(
        [("PERSON_e1", "FRIENDS"), ("PERSON_e2", "FRIENDS")],
        "target_id string, relation_type string",
    )
    plan = plan_of(infer_relationships_batch(chunks, targets))
    s = summarize(plan)
    assert s["python_stages"] == 1, s
    assert s["broadcast_joins"] >= 1, s
    assert s["sortmerge_joins"] == 0, s


def test_optimizer_hints_broadcast_on_small_side(documents, spark):
    """The cost-based optimizer must hint broadcast() from its OWN
    cardinality estimate — the plan shows BroadcastHashJoin statically,
    without waiting for an AQE shuffle materialization."""
    from graphrag_rs_spark.plans.optimizer import GraphStatistics, QueryOptimizer
    from graphrag_rs_spark.plans.query_ops import (
        EntityScan,
        GraphTables,
        Join,
    )

    nodes = documents.select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("cluster_id"),
        F.substring("text", 1, 8).alias("name"),
        F.when(F.col("doc_id") % 5 == 0, "ORGANIZATION").otherwise("PERSON").alias("entity_type"),
        F.lit(0.9).alias("confidence"),
    )
    edges = documents.select(
        F.concat(F.lit("n"), F.col("doc_id").cast("string")).alias("subj"),
        F.lit("related_to").alias("pred"),
        F.concat(F.lit("n"), ((F.col("doc_id") + 1) % 1000).cast("string")).alias("obj"),
        F.lit(0.8).alias("confidence"),
    )
    opt = QueryOptimizer(GraphStatistics.from_tables(nodes, edges))
    plan = plan_of(
        opt.plan(
            Join(EntityScan("PERSON"), EntityScan("ORGANIZATION"), "inner"),
            GraphTables(nodes, edges),
        )
    )
    s = summarize(plan)
    assert s["broadcast_joins"] >= 1 and s["sortmerge_joins"] == 0, s


def test_semantic_merge_candidates_blocked_no_cross_join(spark):
    """Above the all-pairs gate: pair space from token/prefix blocking (no
    CartesianProduct), hot-block counts broadcast, similarity in codegen
    (zero Python stages)."""
    from graphrag_rs_spark.operators.semantic_merge import candidate_match_edges

    entities = spark.range(4000).select(
        F.concat(F.lit("e"), F.col("id").cast("string")).alias("entity_id"),
        F.concat(
            F.lit("Entity "),
            (F.col("id") % 800).cast("string"),
            F.when(F.col("id") % 3 == 0, F.lit(" Inc")).otherwise(F.lit("")),
        ).alias("name"),
        F.when(F.col("id") % 2 == 0, F.lit("ORGANIZATION"))
        .otherwise(F.lit("PERSON"))
        .alias("entity_type"),
        F.lit(0.9).alias("confidence"),
        F.col("id").alias("order"),
    )
    plan = plan_of(candidate_match_edges(entities, 0.7, all_pairs_gate=1000))
    s = summarize(plan)
    assert "CartesianProduct" not in plan
    assert s["python_stages"] == 0, s
    assert s["broadcast_joins"] >= 1, s


def test_repetition_scores_is_narrow_plan(spark):
    """The Gopher metrics must stay a narrow projection — zero exchanges,
    zero Python stages (repetition filtering costs one scan at 100 TB, not
    two gram-keyed shuffles)."""
    from graphrag_rs_spark.operators.text_analysis import repetition_scores

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    s = summarize(plan_of(repetition_scores(df)))
    assert s["exchanges"] == 0, s
    assert s["python_stages"] == 0, s


def test_benchmark_contamination_broadcasts(spark):
    """The benchmark gram set reaches the corpus grams as a broadcast join
    (eval suites are small, the corpus is not) and the only wide stage is
    the per-doc hit re-aggregation."""
    from graphrag_rs_spark.operators.dedup import benchmark_contamination

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n")], "doc_id long, text string"
    )
    bench = spark.createDataFrame(
        [("a b c d e f g h i j k l m",)], "text string"
    )
    plan = plan_of(benchmark_contamination(docs, bench, n=13))
    s = summarize(plan)
    assert s["broadcast_joins"] >= 1 or "BroadcastExchange" in plan, s
    # the totals⟕hits join keys two CORPUS-sized tables on doc_id — a
    # shuffle join THERE is the correct scale shape, so only the
    # benchmark-side broadcast is pinned, not total join strategy
    assert s["python_stages"] == 0, s


def test_clustering_coefficient_joins_only_no_python(spark):
    """Triangle counting is hash joins on edge keys + aggregation — no
    per-node adjacency collection, no Python stage anywhere in the plan."""
    from graphrag_rs_spark.operators.analytics import local_clustering

    edges = (
        spark.read.parquet(f"{SF_DIR}/nation.parquet")
        .select(
            F.col("n_nationkey").cast("string").alias("subj"),
            F.col("n_regionkey").cast("string").alias("obj"),
        )
    )
    s = summarize(plan_of(local_clustering(edges, src="subj", dst="obj")))
    assert s["python_stages"] == 0, s


def test_candidate_pair_stage_broadcast_meta_no_sortmerge(extraction):
    """The scorer meta attaches to the pair table via BroadcastHashJoins
    (shuffle-joining it would re-exchange the stage's largest table twice);
    the stranded-probe side may plan static SMJs that AQE converts at
    runtime."""
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.operators.canonicalize import (
        candidate_pairs,
        score_pairs,
    )
    from graphrag_rs_spark.operators.extraction import entities_raw_table

    cfg = PipelineConfig()
    er = entities_raw_table(extraction)
    plan = plan_of(score_pairs(candidate_pairs(er, cfg), cfg))
    s = summarize(plan)
    assert s["broadcast_joins"] >= 2, s
    # the stranded-probe joins may plan as static SortMergeJoin and get
    # AQE-converted at runtime — only the meta broadcast
    # and a loose stage budget are pinned
    assert s["exchanges"] <= 12, s


def test_greedy_replay_runs_once_in_clusters_plan(extraction):
    """The cluster roll-up is a window over the replay's output, not a
    groupBy joined back onto it: a self-join there scans the cogroup
    twice and runs the greedy-replay UDF twice."""
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.operators.canonicalize import canonicalize_entities
    from graphrag_rs_spark.operators.extraction import entities_raw_table

    cfg = PipelineConfig()
    s = summarize(
        plan_of(canonicalize_entities(entities_raw_table(extraction), cfg)))
    assert s["cogroups"] == 1, s
