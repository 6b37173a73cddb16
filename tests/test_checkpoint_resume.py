"""Checkpoint / lineage / exact-resume semantics (north rule: each stage
checkpoints with per-partition lineage and metrics for exact resume)."""

import pytest

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import transcripts_df
from graphrag_rs_spark.plans.checkpoint import CheckpointManager
from graphrag_rs_spark.plans.pipeline import build_graph


@pytest.fixture(scope="module")
def transcripts(spark):
    df = transcripts_df(spark, 12, seed=42, mega_every=0)
    df = df.cache()
    df.count()
    return df


def _triples(tables):
    return {
        (r["subj"], r["pred"], r["obj"]) for r in tables["edges"].collect()
    }


def _outputs(tables):
    """Full rows of every output table, array columns sorted (edge
    contexts, node aliases), rows in a fixed order."""
    return {
        name: sorted(
            (
                tuple(tuple(sorted(v)) if isinstance(v, list) else v for v in r)
                for r in tables[name].collect()
            ),
            key=repr,
        )
        for name in ("nodes", "edges", "node_stats")
    }


def test_checkpointed_build_matches_direct(spark, transcripts, tmp_path):
    """In-memory, cold checkpointed and resumed builds agree on every row
    of nodes, edges and node_stats (the checkpointed node_stats reads the
    edges parquet, the in-memory one the cached key table)."""
    cfg = PipelineConfig()
    d = str(tmp_path / "ck")
    direct = _outputs(build_graph(spark, transcripts, cfg))
    assert all(direct.values())
    cold = build_graph(spark, transcripts, cfg, checkpoint_dir=d)
    assert "node_stats" in cold["_checkpoint"].stages_computed
    assert _outputs(cold) == direct
    resumed = build_graph(spark, transcripts, cfg, checkpoint_dir=d)
    assert not resumed["_checkpoint"].stages_computed
    assert _outputs(resumed) == direct


def test_full_resume_calls_no_build_operator(spark, transcripts, tmp_path, monkeypatch):
    """A full resume reads every stage from its checkpoint: no operator
    that builds a stage runs, not even stage F's eager community pass."""
    from graphrag_rs_spark.operators import materialize
    from graphrag_rs_spark.plans import pipeline

    cfg = PipelineConfig()
    d = str(tmp_path / "ck_ops")
    first = _outputs(build_graph(spark, transcripts, cfg, checkpoint_dir=d))

    def _called(*args, **kwargs):
        raise AssertionError("a full resume called a build operator")

    for name in (
        "assemble_documents", "chunk_documents", "extract_configured",
        "extract_gleaning", "entities_raw_table",
        "edges_raw_table",
        "canonicalize_entities", "nodes_table", "edges_table",
        "node_stats_table",
    ):
        monkeypatch.setattr(pipeline, name, _called)
    monkeypatch.setattr(materialize, "communities", _called)
    monkeypatch.setattr(materialize, "degrees", _called)

    resumed = build_graph(spark, transcripts, cfg, checkpoint_dir=d)
    assert not resumed["_checkpoint"].stages_computed
    assert _outputs(resumed) == first


def test_resume_skips_completed_stages(spark, transcripts, tmp_path):
    cfg = PipelineConfig()
    d = str(tmp_path / "ck2")
    first = build_graph(spark, transcripts, cfg, checkpoint_dir=d)
    mgr1: CheckpointManager = first["_checkpoint"]
    assert mgr1.stages_computed and not mgr1.stages_resumed

    second = build_graph(spark, transcripts, cfg, checkpoint_dir=d)
    mgr2: CheckpointManager = second["_checkpoint"]
    assert not mgr2.stages_computed, "identical config+input must fully resume"
    assert set(mgr2.stages_resumed) >= {"documents", "chunks", "extraction"}
    assert _triples(first) == _triples(second)


def test_config_change_invalidates_downstream(spark, transcripts, tmp_path):
    d = str(tmp_path / "ck3")
    build_graph(spark, transcripts, PipelineConfig(), checkpoint_dir=d)
    changed = build_graph(
        spark, transcripts, PipelineConfig(chunk_size=500), checkpoint_dir=d
    )
    mgr: CheckpointManager = changed["_checkpoint"]
    assert "chunks" in mgr.stages_computed, "changed chunk_size must recompute chunks"
    assert "extraction" in mgr.stages_computed, "and everything downstream"


def test_client_factory_invalidates_pattern_fallback(spark, transcripts, tmp_path):
    """A semantic build with no client falls back to the pattern extractor;
    the same build with a client must not resume that extraction."""
    from graphrag_rs_spark.operators.llm_extraction import DeterministicStubClient

    d = str(tmp_path / "ck_llm")
    cfg = PipelineConfig(extraction_mode="semantic")
    fallback = _outputs(build_graph(spark, transcripts, cfg, checkpoint_dir=d))
    stub = build_graph(
        spark, transcripts, cfg, checkpoint_dir=d,
        client_factory=DeterministicStubClient,
    )
    mgr: CheckpointManager = stub["_checkpoint"]
    assert {"documents", "chunks"} <= set(mgr.stages_resumed)
    assert {
        "extraction", "entities_raw", "edges_raw", "clusters", "nodes",
        "edges", "node_stats",
    } <= set(mgr.stages_computed)
    direct = build_graph(
        spark, transcripts, cfg, client_factory=DeterministicStubClient
    )
    assert _outputs(stub)["nodes"] == _outputs(direct)["nodes"]
    assert _outputs(stub)["nodes"] != fallback["nodes"]


def test_other_input_recomputes_from_documents(spark, transcripts, tmp_path):
    """The transcripts' content is part of the documents fingerprint: a
    build over other transcripts into the same directory recomputes every
    stage and returns its own graph, not the directory's."""
    d = str(tmp_path / "ck_input")
    build_graph(spark, transcripts, PipelineConfig(), checkpoint_dir=d)
    other = transcripts_df(spark, 8, seed=7, mega_every=0)
    again = build_graph(spark, other, PipelineConfig(), checkpoint_dir=d)
    mgr: CheckpointManager = again["_checkpoint"]
    assert not mgr.stages_resumed
    assert {"documents", "nodes", "edges"} <= set(mgr.stages_computed)
    direct = build_graph(spark, other, PipelineConfig())
    assert _outputs(again)["nodes"] == _outputs(direct)["nodes"]

    # the same values with a NULL in another column are other input too
    schema = (
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp"
    )
    d = str(tmp_path / "ck_null")
    build_graph(
        spark,
        spark.createDataFrame([("c", 0, "user", "search", None, None)], schema),
        PipelineConfig(), checkpoint_dir=d,
    )
    moved = build_graph(
        spark,
        spark.createDataFrame([("c", 0, "user", None, "search", None)], schema),
        PipelineConfig(), checkpoint_dir=d,
    )
    assert "documents" in moved["_checkpoint"].stages_computed


def test_same_parquet_read_twice_resumes(spark, transcripts, tmp_path):
    """Two reads of the same files are the same input and resume every
    stage; a filtered read of them lists the same files but is another
    input."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "transcripts")
    transcripts.write.parquet(src)
    d = str(tmp_path / "ck_read")
    cfg = PipelineConfig()
    first = build_graph(spark, spark.read.parquet(src), cfg, checkpoint_dir=d)
    again = build_graph(spark, spark.read.parquet(src), cfg, checkpoint_dir=d)
    assert not again["_checkpoint"].stages_computed
    assert _outputs(again) == _outputs(first)
    conv = transcripts.select(F.min("conv_id")).first()[0]
    filtered = build_graph(
        spark, spark.read.parquet(src).where(F.col("conv_id") != conv), cfg,
        checkpoint_dir=d,
    )
    assert "documents" in filtered["_checkpoint"].stages_computed


def test_lineage_rows_and_manifest(spark, transcripts, tmp_path):
    """The manifest is the stage's only commit record: its ``files`` rows
    are the lineage, its totals are their sum / xor / sum, and no stage
    keeps a second lineage table."""
    import functools
    import operator
    import os

    d = str(tmp_path / "ck4")
    tables = build_graph(spark, transcripts, PipelineConfig(), checkpoint_dir=d)
    mgr: CheckpointManager = tables["_checkpoint"]
    lin = mgr.lineage("chunks").collect()
    assert lin, "per-partition lineage rows must exist"
    total = sum(r["row_count"] for r in lin)
    assert total == tables["chunks"].count()
    man = mgr.manifest("chunks")
    assert man["committed"] and man["row_count"] == total
    assert man["wall_ms"] >= 0
    assert [r.asDict() for r in lin] == man["files"]
    assert man["checksum"] == functools.reduce(
        operator.xor, (f["checksum"] for f in man["files"]), 0)
    assert man["hash_sum"] == sum(f["hash_sum"] for f in man["files"])
    stages = os.listdir(d)
    assert "chunks" in stages
    assert not [s for s in stages if os.path.exists(os.path.join(d, s, "lineage"))]


def test_rollback_forces_recompute(spark, transcripts, tmp_path):
    d = str(tmp_path / "ck5")
    tables = build_graph(spark, transcripts, PipelineConfig(), checkpoint_dir=d)
    mgr: CheckpointManager = tables["_checkpoint"]
    mgr.rollback("extraction")
    again = build_graph(spark, transcripts, PipelineConfig(), checkpoint_dir=d)
    mgr2: CheckpointManager = again["_checkpoint"]
    assert "extraction" in mgr2.stages_computed
    assert "documents" in mgr2.stages_resumed and "chunks" in mgr2.stages_resumed


@pytest.mark.parametrize("damage", ["delete", "truncate", "manifest_missing"])
def test_resume_recomputes_damaged_stage(spark, tmp_path, damage):
    """A data file deleted or cut short after the commit, or a crash
    between the data write and the manifest commit, makes the stage
    uncommitted: the next run recomputes it in full instead of serving
    the remaining rows or failing on the short file, and the stage
    downstream of it keeps its fingerprint and resumes."""
    import glob
    import os

    d = str(tmp_path / "ck")

    def t():
        return spark.range(1000).repartition(4)

    def u():
        return spark.range(10)

    first = CheckpointManager(spark, d)
    first.stage("t", t)
    first.stage("u", u, upstreams=("t",))
    part = sorted(glob.glob(os.path.join(d, "t", "data", "part-*.parquet")))[0]
    if damage == "delete":
        os.remove(part)
    elif damage == "manifest_missing":
        os.remove(os.path.join(d, "t", "manifest.json"))
    else:
        with open(part, "r+b") as fh:
            fh.truncate(100)

    mgr = CheckpointManager(spark, d)
    out = mgr.stage("t", t)
    mgr.stage("u", u, upstreams=("t",))
    assert mgr.stages_computed == ["t"]
    assert mgr.stages_resumed == ["u"]
    assert out.count() == 1000
    assert mgr.validate("t").count() == 0


def test_validate_detects_partition_damage(spark, transcripts, tmp_path):
    """Per-partition lineage validation: intact snapshot -> empty report;
    damaged data file -> the affected partition surfaces."""
    import glob
    import os

    cfg = PipelineConfig()
    ckpt_dir = str(tmp_path / "ckpt")
    tables = build_graph(spark, transcripts, cfg, checkpoint_dir=ckpt_dir)
    tables["edges"].count()
    mgr: CheckpointManager = tables["_checkpoint"]

    assert mgr.validate("documents").count() == 0

    # corrupt the snapshot: delete one data file
    files = sorted(
        glob.glob(os.path.join(ckpt_dir, "documents", "data", "part-*.parquet"))
    )
    assert files
    os.remove(files[0])
    report = mgr.validate("documents")
    assert report.count() > 0
    assert {r["problem"] for r in report.collect()} <= {
        "missing_or_changed", "unexpected"
    }


def test_validate_detects_duplicate_row_swap(spark, tmp_path):
    """Rows [a, a, c] rewritten as [b, b, c] keep the file name, the row
    count and the xor checksum (equal rows cancel); the hash sum recorded
    next to it still flags the file."""
    import glob
    import os
    import shutil

    def rows(*vs):
        return spark.createDataFrame([(v,) for v in vs], "v string")

    def crc(f):
        return os.path.join(os.path.dirname(f), f".{os.path.basename(f)}.crc")

    mgr = CheckpointManager(spark, str(tmp_path / "ck"))
    mgr.stage("one_file", lambda: rows("a", "a", "c").coalesce(1))
    assert mgr.validate("one_file").count() == 0

    data = tmp_path / "ck" / "one_file" / "data"
    [part] = glob.glob(str(data / "part-*.parquet"))
    swap = str(tmp_path / "swap")
    rows("b", "b", "c").coalesce(1).write.parquet(swap)
    [new] = glob.glob(os.path.join(swap, "part-*.parquet"))
    shutil.copyfile(new, part)
    shutil.copyfile(crc(new), crc(part))

    recorded = mgr.lineage("one_file").collect()
    current = mgr._lineage_for("one_file", spark.read.parquet(str(data))).collect()
    assert [(r["partition_id"], r["row_count"], r["checksum"]) for r in recorded] == [
        (r["partition_id"], r["row_count"], r["checksum"]) for r in current
    ], "the swap must be invisible to count + xor alone"
    report = mgr.validate("one_file").collect()
    assert {r["problem"] for r in report} == {"missing_or_changed", "unexpected"}
