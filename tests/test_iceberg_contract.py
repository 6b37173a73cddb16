"""Pins the Iceberg call shapes the parquet workspace must stay
isomorphic to (no Iceberg jar in this container — see
sources/iceberg_contract.py for why this is a contract test and not a
round-trip)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import transcripts_df
from graphrag_rs_spark.operators.assembly import assemble_documents
from graphrag_rs_spark.operators.chunking import chunk_documents
from graphrag_rs_spark.operators.extraction import (
    edges_raw_table,
    entities_raw_table,
)
from graphrag_rs_spark.plans.pipeline import extract_configured
from graphrag_rs_spark.sources.iceberg_contract import (
    ENTITIES_RAW_MERGE,
    snapshot_rollback_call,
    sql_parses,
    workspace_ddl,
)
from graphrag_rs_spark.streaming.ingest import IncrementalGraphSink


def test_all_pinned_statements_parse_as_spark_sql(spark):
    stmts = [
        ENTITIES_RAW_MERGE.merge_sql(),
        # edges_raw holds occurrence rows: a batch appends, never merges
        "INSERT INTO ws.edges_raw SELECT * FROM batch_source",
        snapshot_rollback_call("ws.entities_raw", 1234567890),
        *workspace_ddl().values(),
    ]
    for sql in stmts:
        assert sql_parses(spark, sql), f"pinned SQL no longer parses:\n{sql}"
    # and the validator itself can fail
    assert not sql_parses(spark, "MERGE INTO WHEN banana")


def _entities(spark, rows):
    return spark.createDataFrame(
        [(*r[:6], {"conv_id": r[6], "chunk_idx": r[7], "rank": r[8]})
         for r in rows],
        "entity_id string, name string, entity_type string, "
        "confidence float, mention_count bigint, aliases array<string>, "
        "order_key struct<conv_id: string, chunk_idx: int, rank: int>",
    )


def test_entities_merge_spec_semantics(spark):
    old = _entities(spark, [
        # matched, target wins name (higher confidence)
        ("E1", "Alice Cooper", "PERSON", 0.9, 3, ["Alice"], "c2", 0, 1),
        # target-only row must pass through
        ("E2", "Acme Corp", "ORGANIZATION", 0.8, 1, [], "c1", 0, 0),
    ])
    new = _entities(spark, [
        # matched, source wins name (higher confidence), aliases union,
        # and its order key is earlier on the second struct field
        ("E1", "Alice M Cooper", "PERSON", 0.95, 2, ["A. Cooper"], "c2", 0, 0),
        # source-only row must insert
        ("E3", "Berlin", "LOCATION", 0.7, 5, ["BER"], "c3", 1, 0),
    ])
    by_id = {
        r["entity_id"]: r for r in ENTITIES_RAW_MERGE.apply(old, new).collect()
    }
    e1 = by_id["E1"]
    assert e1["name"] == "Alice M Cooper"          # max_by(confidence)
    assert abs(e1["confidence"] - 0.95) < 1e-6     # greatest
    assert e1["mention_count"] == 5                # summed mentions
    assert e1["aliases"] == ["A. Cooper", "Alice"]  # sorted union
    assert tuple(e1["order_key"]) == ("c2", 0, 0)  # least order_key
    assert by_id["E2"]["name"] == "Acme Corp"      # target-only
    assert tuple(by_id["E3"]["order_key"]) == ("c3", 1, 0)  # source-only
    assert set(by_id) == {"E1", "E2", "E3"}


@pytest.fixture(scope="module")
def published(spark, tmp_path_factory):
    """Runs the sink over two disjoint drops. Per batch: the drop, and the
    schema and rows of each raw table the sink published (a version's
    files are deleted when the next one is published, so rows are
    collected at once)."""
    ws = tmp_path_factory.mktemp("iceberg_contract") / "ws"
    sink = IncrementalGraphSink(str(ws), PipelineConfig())
    drops = [
        transcripts_df(spark, 4, seed=5),
        transcripts_df(spark, 4, seed=9).withColumn(
            "conv_id", F.concat(F.lit("y"), F.col("conv_id"))
        ),
    ]
    batches = []
    for batch_id, drop in enumerate(drops):
        sink.process_batch(drop, batch_id=batch_id)
        tables = {}
        for name in ("entities_raw", "edges_raw"):
            df = spark.read.parquet(str(ws / name))
            tables[name] = (df.schema, df.collect())
        batches.append((drop, tables))
    return batches


def _batch_raw_tables(drop, config):
    """The batch's own extraction-level tables, built the sink's way."""
    chunks = chunk_documents(
        assemble_documents(drop, separator=config.turn_separator), config
    )
    extraction = extract_configured(chunks, config)
    return (
        entities_raw_table(extraction),
        edges_raw_table(extraction, config.relationship_confidence),
    )


def _canon(rows):
    return Counter(
        tuple(tuple(v) if isinstance(v, (list, Row)) else v for v in r)
        for r in rows
    )


def test_entities_merge_spec_matches_workspace_merge(spark, published):
    """The workspace upserts entities_raw by ENTITIES_RAW_MERGE: the second
    published version is the spec applied to the first and the batch."""
    cfg = PipelineConfig()
    (drop0, first), (drop1, second) = published
    schema, rows = first["entities_raw"]
    assert _canon(rows) == _canon(_batch_raw_tables(drop0, cfg)[0].collect())
    want = ENTITIES_RAW_MERGE.apply(
        spark.createDataFrame(rows, schema), _batch_raw_tables(drop1, cfg)[0]
    )
    assert _canon(second["entities_raw"][1]) == _canon(want.collect())


def test_edges_merge_spec_matches_workspace_merge(spark, published):
    """edges_raw is append-only (the pinned ``INSERT INTO``): each published
    version holds the previous one's occurrence rows plus the batch's."""
    cfg = PipelineConfig()
    want = Counter()
    for drop, tables in published:
        want += _canon(_batch_raw_tables(drop, cfg)[1].collect())
        assert _canon(tables["edges_raw"][1]) == want
    # occurrence rows, not one row per triple
    assert len({r[:3] for r in want}) < len(want)


def test_ddl_matches_published_workspace(spark, published):
    """The DDL declares the columns and types the sink publishes, after the
    first batch and after a merged one."""
    ddl = workspace_ddl()

    def declared(name):
        sql = ddl[name]
        cols = sql[sql.index("(\n") + 2:sql.index("\n) USING")]
        return [
            (f.name, f.dataType.simpleString())
            for f in spark.createDataFrame([], cols).schema
        ]

    for batch_id, (_, tables) in enumerate(published):
        for name in ("entities_raw", "edges_raw"):
            got = [(f.name, f.dataType.simpleString()) for f in tables[name][0]]
            assert got == declared(name), (batch_id, name)


def test_null_keys_follow_merge_sql_semantics(spark):
    # the generated ON clause is plain `t.k = s.k`: a NULL key never
    # matches, so a NULL-key target row passes through UNCHANGED and a
    # NULL-key source row INSERTS — two output rows, each keeping its
    # own values (apply() must not pair them via null-safe equality,
    # and must not blank the target row's columns)
    old = _entities(spark, [
        (None, "Ghost T", "PERSON", 0.9, 3, ["gt"], "b", 0, 0),
        ("E1", "Alice", "PERSON", 0.8, 1, [], "a", 0, 0),
    ])
    new = _entities(spark, [
        (None, "Ghost S", "PERSON", 0.5, 7, ["gs"], "c", 0, 0),
    ])
    got = sorted(
        [
            (r[0], r[1], round(r[3], 6), r[4], tuple(r[5]))
            for r in ENTITIES_RAW_MERGE.apply(old, new).collect()
        ],
        key=str,
    )
    assert got == sorted([
        (None, "Ghost T", 0.9, 3, ("gt",)),   # target row untouched
        (None, "Ghost S", 0.5, 7, ("gs",)),   # source row inserted
        ("E1", "Alice", 0.8, 1, ()),          # unmatched target
    ], key=str)


def test_merge_sql_carries_every_non_key_column(spark):
    # a column added to the workspace schema without a MERGE update rule
    # should fail HERE, not silently stay stale on the cluster path
    sql = ENTITIES_RAW_MERGE.merge_sql()
    for col in ("name", "entity_type", "confidence", "mention_count",
                "aliases", "order_key"):
        assert f"{col} =" in sql
