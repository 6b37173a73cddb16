"""Gleaning multi-round extraction + source/sink registry round-trips."""

import pytest
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.operators.extraction import extract_chunks, extract_gleaning
from graphrag_rs_spark.sources.registry import (
    read_entities_csv,
    read_relationships_csv,
    read_table,
    save_graph_workspace,
    write_table,
)

CHUNKS_SCHEMA = (
    "chunk_id string, conv_id string, doc_id string, chunk_idx int, text string"
)


@pytest.fixture(scope="module")
def mixed_chunks(spark):
    rows = [
        # rich chunk: entities found in round 1
        ("c0", "conv0", "conv0", 0,
         "Dr. John Smith works for Microsoft Corporation in Seattle."),
        # poor chunk: nothing under PERSON/ORG/LOCATION, but an EVENT word
        ("c1", "conv0", "conv0", 1,
         "the meeting about the journey was long and uneventful overall."),
    ]
    return spark.createDataFrame(rows, CHUNKS_SCHEMA)


def test_single_round_misses_poor_chunk(spark, mixed_chunks):
    cfg = PipelineConfig()
    got = {r["chunk_id"]: len(r["entities"])
           for r in extract_chunks(mixed_chunks, cfg).collect()}
    assert got["c0"] > 0
    assert got["c1"] == 0


def test_gleaning_second_round_widens_types(spark, mixed_chunks):
    cfg = PipelineConfig(max_gleaning_rounds=3)
    result = extract_gleaning(mixed_chunks, cfg)
    by_chunk = {r["chunk_id"]: r for r in result.collect()}
    assert len(by_chunk) == 2, "every chunk appears exactly once after merge"
    # round-1 results for the rich chunk are preserved
    assert len(by_chunk["c0"]["entities"]) > 0
    # the poor chunk was re-extracted with widened types and found the EVENT
    kinds = {e["entity_type"] for e in by_chunk["c1"]["entities"]}
    assert "EVENT" in kinds


def test_gleaning_density_gate_reextracts_sparse_chunks(spark):
    """The completeness gate is an entity-DENSITY target, not just
    zero-entities: a chunk with one entity but below the target is
    re-asked with wider types and gains entities in round 2."""
    rows = [("c0", "conv0", "conv0", 0,
             "Sarah Henderson attended the conference about the meeting.")]
    chunks = spark.createDataFrame(rows, CHUNKS_SCHEMA)
    single = extract_chunks(chunks, PipelineConfig()).collect()[0]
    assert 0 < len(single["entities"]) < 2, "fixture must be sparse, not empty"
    multi = extract_gleaning(
        chunks, PipelineConfig(max_gleaning_rounds=3, gleaning_entity_target=2)
    ).collect()[0]
    assert len(multi["entities"]) > len(single["entities"])
    # the round-1 entity survives the re-extraction
    names1 = {e["name"] for e in single["entities"]}
    names2 = {e["name"] for e in multi["entities"]}
    assert names1 <= names2


def test_gleaning_round_one_equivalent_when_complete(spark):
    rows = [("c0", "conv0", "conv0", 0,
             "Alice Johnson met Robert Brown in Paris.")]
    chunks = spark.createDataFrame(rows, CHUNKS_SCHEMA)
    single = extract_chunks(chunks, PipelineConfig()).collect()
    multi = extract_gleaning(chunks, PipelineConfig(max_gleaning_rounds=4)).collect()
    key = lambda rs: {(r["chunk_id"], tuple(e["entity_id"] for e in r["entities"]))
                      for r in rs}
    assert key(single) == key(multi)


@pytest.fixture(scope="module")
def fixture_chunks(spark):
    from graphrag_rs_spark.fixtures import transcripts_df
    from graphrag_rs_spark.operators.assembly import assemble_documents
    from graphrag_rs_spark.operators.chunking import chunk_documents

    chunks = chunk_documents(
        assemble_documents(transcripts_df(spark, 12, seed=42)), PipelineConfig()
    ).cache()
    chunks.count()
    yield chunks
    chunks.unpersist()


def _reference_gleaning(text: str, cfg: PipelineConfig):
    """Per-chunk reference loop (oracle_twins.gleaning_extraction at any
    round count): round r widens the configured types by the first r-1 of
    CONCEPT, EVENT, OBJECT; a round below the entity target is replaced by
    the next one; triples pair the final round's entities."""
    import numpy as np

    from graphrag_rs_spark.rules.extraction import (
        extract_entities,
        extract_relationships,
    )

    widen = ("CONCEPT", "EVENT", "OBJECT")
    for r in range(max(1, cfg.max_gleaning_rounds)):
        types = tuple(cfg.all_entity_types) + widen[:r]
        ents = extract_entities(text, types, cfg.min_confidence)
        if len(ents) >= max(1, cfg.gleaning_entity_target):
            break
    return (
        [(e.entity_id, e.name, e.entity_type, float(np.float32(e.confidence)),
          rank, [tuple(m) for m in e.mentions])
         for rank, e in enumerate(ents)],
        [tuple(t) for t in extract_relationships(ents, text)],
    )


@pytest.mark.parametrize("target", [2, 50])
@pytest.mark.parametrize("rounds", [1, 2, 3, 8])
def test_gleaning_matches_per_chunk_reference_loop(fixture_chunks, rounds, target):
    cfg = PipelineConfig(max_gleaning_rounds=rounds, gleaning_entity_target=target)
    texts = {r["chunk_id"]: r["text"] for r in fixture_chunks.collect()}
    got = {
        r["chunk_id"]: (
            [(e["entity_id"], e["name"], e["entity_type"], e["confidence"],
              e["rank"], [(m["start"], m["end"]) for m in e["mentions"]])
             for e in r["entities"]],
            [(t["subj"], t["obj"], t["pred"]) for t in r["triples"]],
        )
        for r in extract_gleaning(fixture_chunks, cfg).collect()
    }
    assert got.keys() == texts.keys()
    for chunk_id, text in texts.items():
        assert got[chunk_id] == _reference_gleaning(text or "", cfg), chunk_id


# ---------------------------------------------------------------------------
# sources / sinks
# ---------------------------------------------------------------------------

def test_parquet_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    write_table(df, str(tmp_path / "t"), "parquet")
    back = read_table(spark, str(tmp_path / "t"), "parquet")
    assert sorted((r["id"], r["v"]) for r in back.collect()) == [(1, "a"), (2, "b")]


def test_csv_entities_with_column_mappings(spark, tmp_path):
    p = tmp_path / "ents.csv"
    p.write_text("eid,ename,etype\n1,John Smith,PERSON\n2,Acme Corp,ORGANIZATION\n")
    got = read_entities_csv(
        spark, str(p), entity_id="eid", entity_name="ename", entity_type="etype"
    ).collect()
    assert {(r["entity_id"], r["name"], r["entity_type"]) for r in got} == {
        ("1", "John Smith", "PERSON"),
        ("2", "Acme Corp", "ORGANIZATION"),
    }
    r = tmp_path / "rels.csv"
    r.write_text("from,to,kind\n1,2,WORKS_FOR\n2,1,EMPLOYS\n")
    rels = read_relationships_csv(
        spark, str(r), source="from", target="to", rel_type="kind"
    ).collect()
    assert {(x["subj"], x["pred"], x["obj"]) for x in rels} == {
        ("1", "WORKS_FOR", "2"),
        ("2", "EMPLOYS", "1"),
    }


def test_csv_reader_options_are_overridable(spark, tmp_path):
    # caller options must MERGE over the defaults (header/inferSchema/
    # sep), not collide as duplicate kwargs
    p = tmp_path / "raw.csv"
    p.write_text("7;x\n8;y\n")
    df = read_table(spark, str(p), "csv", header=False, sep=";",
                    inferSchema=False)
    rows = sorted(tuple(r) for r in df.collect())
    assert rows == [("7", "x"), ("8", "y")]  # no header row consumed

    t = tmp_path / "raw.tsv"
    t.write_text("a|b\n1|2\n")
    tdf = read_table(spark, str(t), "tsv", sep="|")  # override tsv's \t
    assert tdf.columns == ["a", "b"]
    assert tdf.count() == 1


def test_jsonl_permissive_ingest(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text('{"id": 1, "text": "ok"}\n{bad json line\n{"id": 2, "text": "ok2"}\n')
    df = read_table(spark, str(p), "jsonl")
    good = df.where(F.col("id").isNotNull()).count()
    assert good == 2  # corrupt row quarantined, not fatal (PERMISSIVE mode)


def test_graph_workspace_layout(spark, tmp_path):
    nodes = spark.createDataFrame([("c1", "John", "PERSON")],
                                  "cluster_id string, name string, entity_type string")
    edges = spark.createDataFrame([("c1", "KNOWS", "c2")],
                                  "subj string, pred string, obj string")
    save_graph_workspace({"nodes": nodes, "edges": edges}, str(tmp_path / "ws"))
    ents = read_table(spark, str(tmp_path / "ws" / "entities"), "parquet")
    rels = read_table(spark, str(tmp_path / "ws" / "relationships"), "parquet")
    assert ents.count() == 1 and rels.count() == 1


def test_read_ntriples(spark, tmp_path):
    from graphrag_rs_spark.sources.registry import read_ntriples

    nt = tmp_path / "g.nt"
    nt.write_text(
        "\n".join(
            [
                "<http://ex/alice> <http://ex/knows> <http://ex/bob> .",
                "# a comment line",
                "",
                '<http://ex/alice> <http://ex/name> "Alice Smith"@en .',
                "_:b1 <http://ex/age> \"42\"^^<http://www.w3.org/2001/XMLSchema#int> .",
                "this line is malformed and must be skipped",
            ]
        )
    )
    rows = {
        (r["subj"], r["pred"], r["obj"], r["obj_is_literal"])
        for r in read_ntriples(spark, str(nt)).collect()
    }
    assert rows == {
        ("http://ex/alice", "http://ex/knows", "http://ex/bob", False),
        ("http://ex/alice", "http://ex/name", "Alice Smith", True),
        ("_:b1", "http://ex/age", "42", True),
    }


def test_read_graphml(spark, tmp_path):
    from graphrag_rs_spark.sources.registry import read_graphml

    gml = tmp_path / "g.graphml"
    gml.write_text(
        """<?xml version="1.0" encoding="UTF-8"?>
<graphml xmlns="http://graphml.graphdrawing.org/xmlns">
  <graph id="G" edgedefault="directed">
    <node id="n0"><data key="name">Alice</data></node>
    <node id="n1"><data key="name">Bob</data></node>
    <edge source="n0" target="n1"><data key="rel">KNOWS</data></edge>
  </graph>
</graphml>"""
    )
    nodes, edges = read_graphml(spark, str(gml))
    n = {r["node_id"]: dict(r["attrs"]) for r in nodes.collect()}
    e = [(r["source"], r["target"], dict(r["attrs"])) for r in edges.collect()]
    assert n == {"n0": {"name": "Alice"}, "n1": {"name": "Bob"}}
    assert e == [("n0", "n1", {"rel": "KNOWS"})]


def test_read_turtle(spark, tmp_path):
    from graphrag_rs_spark.sources.registry import read_turtle

    ttl = tmp_path / "g.ttl"
    ttl.write_text(
        "\n".join(
            [
                "@prefix ex: <http://ex/> .",
                "@prefix foaf: <http://xmlns.com/foaf/0.1/> .",
                "# full-line comment",
                "ex:alice a foaf:Person ;",
                '    foaf:name "Alice" ;  # trailing comment',
                "    foaf:knows ex:bob , ex:carol .",
                'ex:d ex:p "typed"^^<http://www.w3.org/2001/XMLSchema#string> .',
                "_:b1 ex:age 42 .",
            ]
        )
    )
    rows = {
        (r["subj"], r["pred"], r["obj"], r["obj_is_literal"])
        for r in read_turtle(spark, str(ttl)).collect()
    }
    assert rows == {
        (
            "http://ex/alice",
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#type",
            "http://xmlns.com/foaf/0.1/Person",
            False,
        ),
        ("http://ex/alice", "http://xmlns.com/foaf/0.1/name", "Alice", True),
        ("http://ex/alice", "http://xmlns.com/foaf/0.1/knows", "http://ex/bob", False),
        ("http://ex/alice", "http://xmlns.com/foaf/0.1/knows", "http://ex/carol", False),
        ("http://ex/d", "http://ex/p", "typed", True),
        ("_:b1", "http://ex/age", "42", True),
    }
