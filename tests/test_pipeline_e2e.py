"""End-to-end parity: Spark pipeline vs the single-process oracle.

The triple P/R ≥ 0.95 criterion (BASELINE.json north rule) is measured here
on seeded synthetic transcripts: the oracle runs the reference's greedy
O(n²) clustering; Spark runs blocking + pair scoring + connected components.
"""

import pytest

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import generate_transcripts
from graphrag_rs_spark.oracle import precision_recall, run_oracle
from graphrag_rs_spark.plans.pipeline import build_graph

N_CONVS = 60


@pytest.fixture(scope="module")
def built(spark):
    rows = generate_transcripts(N_CONVS, seed=42, mega_every=25, mega_turns=80)
    config = PipelineConfig()
    tdf = spark.createDataFrame(
        rows,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    tables = build_graph(spark, tdf, config)
    oracle = run_oracle(rows, config)
    return tables, oracle


def test_chunks_match_oracle(built):
    tables, oracle = built
    got = {
        (r["chunk_id"], r["text"], r["start"], r["end"])
        for r in tables["chunks"].collect()
    }
    expected = {
        (c["chunk_id"], c["text"], c["start"], c["end"]) for c in oracle.chunks
    }
    assert got == expected


def test_entities_match_oracle(built):
    tables, oracle = built
    got = {
        r["entity_id"]: (r["entity_type"], round(r["confidence"], 5))
        for r in tables["entities_raw"].collect()
    }
    expected = {
        eid: (e["entity_type"], round(e["confidence"], 5))
        for eid, e in oracle.entities.items()
    }
    assert got == expected


def test_mention_counts_match_oracle(built):
    tables, oracle = built
    got = {
        r["entity_id"]: r["mention_count"] for r in tables["entities_raw"].collect()
    }
    expected = {eid: e["mention_count"] for eid, e in oracle.entities.items()}
    assert got == expected


def test_cluster_assignment_parity(built):
    """Blocking + CC must reproduce the oracle's greedy clusters (the
    fixture's near-dup groups are tight, so both algorithms agree)."""
    tables, oracle = built
    got = {r["entity_id"]: r["cluster_id"] for r in tables["clusters"].collect()}
    expected = {eid: oracle.links.get(eid, eid) for eid in oracle.entities}
    # compare cluster PARTITIONS (canonical choice may differ on ties)
    def partition(assign):
        groups = {}
        for eid, cid in assign.items():
            groups.setdefault(cid, set()).add(eid)
        return {frozenset(v) for v in groups.values()}

    got_parts = partition(got)
    exp_parts = partition(expected)
    inter = len(got_parts & exp_parts)
    union = len(got_parts | exp_parts)
    assert inter / union >= 0.95, (
        f"cluster partition jaccard {inter / union:.3f}; "
        f"spark-only={sorted(map(sorted, got_parts - exp_parts))[:5]} "
        f"oracle-only={sorted(map(sorted, exp_parts - got_parts))[:5]}"
    )


def test_triple_precision_recall(built):
    tables, oracle = built
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["edges"].collect()
    }
    p, r = precision_recall(got, oracle.triples)
    assert p >= 0.95, f"precision {p:.4f} < 0.95 ({len(got)} vs {len(oracle.triples)})"
    assert r >= 0.95, f"recall {r:.4f} < 0.95 ({len(got)} vs {len(oracle.triples)})"


def _odd_turn_rows():
    """A small generated corpus with one odd turn shape per conversation:
    a NULL turn, an empty turn, a duplicated (conv_id, turn_idx), a turn
    gap, and one more conversation of a single turn."""
    rows = generate_transcripts(6, seed=11)
    convs = sorted({r["conv_id"] for r in rows})
    turns = {c: [r for r in rows if r["conv_id"] == c] for c in convs}
    turns[convs[0]][1]["text"] = None
    turns[convs[1]][1]["text"] = ""
    dup = dict(turns[convs[2]][2], text=turns[convs[5]][0]["text"])
    for r in turns[convs[3]][2:]:
        r["turn_idx"] += 10
    single = dict(turns[convs[4]][0], conv_id="single", turn_idx=0)
    return [*rows, dup, single]


def test_odd_turns_through_full_build_match_oracle(spark):
    """Odd input has defined results through the whole build: chunks and
    entities equal the oracle's, and triple P/R clears 0.95."""
    from graphrag_rs_spark.fixtures import TRANSCRIPT_SCHEMA

    rows = _odd_turn_rows()
    config = PipelineConfig()
    tables = build_graph(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), config)
    oracle = run_oracle(rows, config)

    got_chunks = {
        (r["chunk_id"], r["text"], r["start"], r["end"])
        for r in tables["chunks"].collect()
    }
    assert got_chunks == {
        (c["chunk_id"], c["text"], c["start"], c["end"]) for c in oracle.chunks
    }
    assert any(c[0].startswith("single_") for c in got_chunks)
    got_entities = {
        r["entity_id"]: (r["entity_type"], round(r["confidence"], 5),
                         r["mention_count"])
        for r in tables["entities_raw"].collect()
    }
    assert got_entities == {
        eid: (e["entity_type"], round(e["confidence"], 5), e["mention_count"])
        for eid, e in oracle.entities.items()
    }
    got = {(r["subj"], r["pred"], r["obj"]) for r in tables["edges"].collect()}
    p, r = precision_recall(got, oracle.triples)
    assert got and p >= 0.95 and r >= 0.95, (p, r)


def test_triple_precision_recall_at_benched_blocking_config(spark):
    """bench.py runs ``min_shared_blocks=2`` (the documented large-corpus
    blocking setting); the parity fixture above runs the full-recall
    default of 1. This closes the loop: the BENCHED config must also
    clear the north rule's triple P/R ≥ 0.95 against the all-pairs
    oracle. (tests/test_blocking_recall_at_scale.py covers the same
    config at a scale where the derived-block caps bind.)"""
    rows = generate_transcripts(N_CONVS, seed=42, mega_every=25, mega_turns=80)
    config = PipelineConfig(min_shared_blocks=2)
    tdf = spark.createDataFrame(
        rows,
        schema="conv_id string, turn_idx int, role string, text string, "
               "tool string, ts timestamp",
    )
    tables = build_graph(spark, tdf, config)
    oracle = run_oracle(rows, PipelineConfig())
    got = {
        (r["subj"], r["pred"], r["obj"]) for r in tables["edges"].collect()
    }
    p, r = precision_recall(got, oracle.triples)
    print(f"\ntriple P/R at min_shared_blocks=2: P={p:.4f} R={r:.4f}")
    assert p >= 0.95, f"precision {p:.4f} < 0.95 at min_shared_blocks=2"
    assert r >= 0.95, f"recall {r:.4f} < 0.95 at min_shared_blocks=2"


def test_node_stats_parity(built):
    tables, oracle = built
    got = {
        r["cluster_id"]: (r["degree"], r["community_size"])
        for r in tables["node_stats"].collect()
    }
    expected = {
        nid: (s["degree"], s["community_size"]) for nid, s in oracle.node_stats.items()
    }
    matching = sum(
        1 for k, v in expected.items() if got.get(k) == v
    )
    assert matching / max(len(expected), 1) >= 0.95, (
        f"only {matching}/{len(expected)} node stats match"
    )


def test_edges_have_context_chunks(built):
    tables, _ = built
    rows = tables["edges"].limit(20).collect()
    assert rows
    for r in rows:
        assert r["context"], "every edge must carry its source chunk ids"


def test_embedding_and_semantic_edge_stages(spark):
    """Optional stage 2 (hash chunk embeddings) and the semantic-edge stage
    (graph/mod.rs:235-292): embeddings are unit-norm array<float>; semantic
    edges are typed SEMANTICALLY_SIMILAR, confidence > threshold, and at
    most max_connections per source node."""
    from pyspark.sql import functions as F

    rows = generate_transcripts(20, seed=7)
    config = PipelineConfig(
        embed_chunks=True,
        semantic_edges=True,
        semantic_edge_threshold=0.3,
        semantic_edge_max_connections=3,
        semantic_edge_method="exact",
    )
    tdf = spark.createDataFrame(
        rows,
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    tables = build_graph(spark, tdf, config)

    chunks = tables["chunks"]
    assert "embedding" in chunks.columns
    norms = chunks.select(
        F.aggregate(
            F.col("embedding").cast("array<double>"),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        ).alias("sq")
    ).collect()
    assert all(abs(r["sq"] - 1.0) < 1e-3 for r in norms)

    sem = tables["semantic_edges"]
    assert sem is not None
    rows_sem = sem.collect()
    assert rows_sem, "semantic stage produced no edges at low threshold"
    assert all(r["pred"] == "SEMANTICALLY_SIMILAR" for r in rows_sem)
    assert all(r["confidence"] > 0.3 for r in rows_sem)
    per_src = {}
    for r in rows_sem:
        per_src[r["subj"]] = per_src.get(r["subj"], 0) + 1
    assert max(per_src.values()) <= 3
    # combined edge table contains both co-occurrence and semantic edges
    preds = {r["pred"] for r in tables["edges"].select("pred").distinct().collect()}
    assert "SEMANTICALLY_SIMILAR" in preds and len(preds) > 1
