"""Structured Streaming incremental ingest: three file drops → three
micro-batches → merged workspace equals the batch build over the union
(the reference's incremental-equals-rebuild invariant,
examples/MULTI_DOCUMENT_PIPELINE.md semantics)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import transcripts_df
from graphrag_rs_spark.streaming.ingest import run_incremental_ingest


@pytest.mark.slow
@pytest.mark.parametrize(
    "cfg",
    [
        PipelineConfig(),
        # the sink must extract with the build's gleaning rounds: later
        # rounds widen the entity types of under-dense chunks
        PipelineConfig(max_gleaning_rounds=3, gleaning_entity_target=50),
        # and the build's optional stages after linking
        PipelineConfig(
            semantic_edges=True,
            semantic_edge_method="exact",
            semantic_edge_threshold=0.5,
        ),
    ],
    ids=["default", "gleaning", "semantic"],
)
def test_incremental_ingest_matches_union(spark, tmp_path, cfg):
    in_dir = tmp_path / "in"
    os.makedirs(in_dir)

    # distinct conv ids per drop so the three batches are disjoint docs
    drops = [
        transcripts_df(spark, 10, seed=seed).withColumn(
            "conv_id", F.concat(F.lit(prefix), F.col("conv_id"))
        )
        for seed, prefix in ((1, ""), (99, "x"), (7, "z"))
    ]
    for i, drop in enumerate(drops):
        drop.write.mode("overwrite").parquet(str(in_dir / f"drop{i}"))
        run_incremental_ingest(
            spark, str(in_dir) + "/*", str(tmp_path / "ws"),
            str(tmp_path / "ckpt"), cfg,
        )

    from graphrag_rs_spark.plans.pipeline import build_graph

    union = drops[0].unionByName(drops[1]).unionByName(drops[2])
    full = build_graph(spark, union, cfg)

    # the entity upsert is associative, the edge table is the union's
    # occurrence rows and the greedy replay orders by the global
    # first-appearance key, so incremental must equal rebuild EXACTLY,
    # row for row
    def node_rows(df):
        return sorted(
            (r["cluster_id"], r["name"], r["entity_type"],
             round(r["confidence"], 6), r["mention_count"],
             r["member_count"], tuple(r["aliases"]))
            for r in df.collect()
        )

    def edge_rows(df):
        return sorted(
            (r["subj"], r["pred"], r["obj"], round(r["confidence"], 6),
             tuple(r["context"]))
            for r in df.collect()
        )

    def workspace(name):
        return spark.read.parquet(str(tmp_path / "ws" / name))

    inc_nodes = node_rows(workspace("entities"))
    assert inc_nodes and inc_nodes == node_rows(full["nodes"])
    inc_edges = edge_rows(workspace("relationships"))
    assert inc_edges and inc_edges == edge_rows(full["edges"])


def test_replayed_batch_is_skipped(spark, tmp_path):
    """At-least-once delivery: re-processing an already-published batch_id
    must be a no-op (no double-merged mention counts), and the workspace
    must stay internally consistent (single atomic CURRENT flip)."""
    from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink

    cfg = PipelineConfig()
    sink = IncrementalGraphSink(str(tmp_path / "ws"), cfg)
    batch = transcripts_df(spark, 5, seed=7)

    sink.process_batch(batch, batch_id=0)
    first = {
        r["entity_id"]: r["mention_count"]
        for r in spark.read.parquet(str(tmp_path / "ws" / "entities_raw")).collect()
    }
    assert first

    # crash-replay of the same batch id: must be skipped entirely
    sink.process_batch(batch, batch_id=0)
    replayed = {
        r["entity_id"]: r["mention_count"]
        for r in spark.read.parquet(str(tmp_path / "ws" / "entities_raw")).collect()
    }
    assert replayed == first, "replay double-merged the batch"

    # a genuinely new batch advances CURRENT and merges
    nxt = transcripts_df(spark, 5, seed=11).withColumn(
        "conv_id", F.concat(F.lit("y"), F.col("conv_id"))
    )
    sink.process_batch(nxt, batch_id=1)
    assert sink._current_batch_id() == 1
    merged = spark.read.parquet(str(tmp_path / "ws" / "entities_raw"))
    assert merged.count() >= len(first)

    # a REGRESSED batch id means the stream checkpoint restarted against
    # this workspace: silently skipping would drop new data, applying
    # would double-merge — the sink must refuse loudly instead
    with pytest.raises(RuntimeError, match="checkpoint"):
        sink.process_batch(batch, batch_id=0)


def test_stable_symlinks_survive_relative_workspace_dir(spark, tmp_path):
    """The published top-level table paths are symlinks into the version
    dir; their targets must be RELATIVE so a relative workspace_dir (or a
    moved workspace) does not leave them dangling."""
    from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink

    cfg = PipelineConfig()
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        sink = IncrementalGraphSink("ws_rel", cfg)  # RELATIVE path
        sink.process_batch(transcripts_df(spark, 4, seed=3), batch_id=0)
        link = tmp_path / "ws_rel" / "entities"
        assert os.path.islink(link)
        assert not os.path.isabs(os.readlink(link))
        assert os.path.exists(link)  # resolves (would dangle if doubled)
        assert spark.read.parquet(str(link)).count() > 0
    finally:
        os.chdir(cwd)


def test_sink_releases_every_cached_table(spark, tmp_path):
    """Each micro-batch unpersists every table it cached, so a long-running
    stream does not accumulate one cached plan per batch."""
    from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink

    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.cachedData().size()
    sink = IncrementalGraphSink(str(tmp_path / "ws"), PipelineConfig())
    sink.process_batch(transcripts_df(spark, 4, seed=5), batch_id=0)
    sink.process_batch(
        transcripts_df(spark, 4, seed=9).withColumn(
            "conv_id", F.concat(F.lit("y"), F.col("conv_id"))
        ),
        batch_id=1,
    )
    assert sink._current_batch_id() == 1
    assert cache.cachedData().size() == before


def test_sink_runs_the_build_link_stages_once(spark, tmp_path, monkeypatch):
    """One micro-batch links and materializes through ``build_graph``'s own
    stages D–F, exactly once: the sink keeps no copy of them."""
    from graphrag_rs_spark.plans import pipeline
    from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink

    calls = []
    link_graph = pipeline.link_graph

    def spy(*args, **kwargs):
        calls.append(args)
        return link_graph(*args, **kwargs)

    monkeypatch.setattr(pipeline, "link_graph", spy)
    sink = IncrementalGraphSink(str(tmp_path / "ws"), PipelineConfig())
    sink.process_batch(transcripts_df(spark, 4, seed=5), batch_id=0)
    assert len(calls) == 1
    assert sink._current_batch_id() == 0


def test_continuous_ingest_returns_its_running_query(spark, tmp_path):
    """Without ``available_now`` the stream keeps running: the caller gets
    its query to await or stop, and once drained it has published what the
    catch-up trigger publishes."""
    in_dir = tmp_path / "in"
    transcripts_df(spark, 4, seed=5).write.parquet(str(in_dir / "drop0"))
    cfg = PipelineConfig()
    run_incremental_ingest(
        spark, str(in_dir) + "/*", str(tmp_path / "ws_now"),
        str(tmp_path / "ckpt_now"), cfg,
    )
    q = run_incremental_ingest(
        spark, str(in_dir) + "/*", str(tmp_path / "ws"),
        str(tmp_path / "ckpt"), cfg, available_now=False,
    )
    try:
        assert q.isActive
        q.processAllAvailable()
    finally:
        q.stop()

    def relationships(ws):
        return sorted(
            (r["subj"], r["pred"], r["obj"], r["confidence"], tuple(r["context"]))
            for r in spark.read.parquet(str(tmp_path / ws / "relationships")).collect()
        )

    assert relationships("ws") and relationships("ws") == relationships("ws_now")
