"""Config-level extraction-mode dispatch (setconfig.rs:614-621 [mode].
approach → lib.rs:383 branch) and the hybrid fusion rule
(gleaning_extractor.rs:229-272 merge semantics at the extraction-table
level) — one config file drives all three pipelines end-to-end."""

from __future__ import annotations

import json

import pytest

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.config_loader import load_config
from graphrag_rs_spark.operators.llm_extraction import RecordedClient, fuse_rows
from graphrag_rs_spark.plans.pipeline import build_graph

# one tiny conversation; the pattern extractor finds the PERSON names,
# the recorded LLM surfaces an ORGANIZATION the patterns miss plus a
# higher-confidence duplicate of a pattern entity
TURNS = [
    ("v1", 0, "user", "Maria Santos asked about the quarterly numbers.",
     None, None),
    ("v1", 1, "assistant",
     "David Chen replied that the review is next week.", None, None),
]

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)


def _client_factory():
    def make():
        return RecordedClient(
            extraction={
                "Maria Santos asked": json.dumps({
                    "entities": [
                        {"name": "Maria Santos", "type": "PERSON",
                         "description": "asker of questions, llm-seen"},
                        {"name": "Helix Analytics", "type": "ORGANIZATION",
                         "description": "employer"},
                    ],
                    "relationships": [
                        {"source": "Maria Santos",
                         "target": "Helix Analytics",
                         "description": "WORKS_AT", "strength": 0.9},
                    ],
                }),
            },
            completion={"Maria Santos asked": "YES"},
        )
    return make


def _modes_config(tmp_path, approach: str):
    cfg = tmp_path / f"{approach}.toml"
    cfg.write_text(
        "[mode]\n"
        f'approach = "{approach}"\n'
        "[entity_extraction]\n"
        "min_confidence = 0.5\n"
    )
    return load_config(str(cfg))


def _build(spark, config, client_factory=None):
    transcripts = spark.createDataFrame(TURNS, TRANSCRIPT_SCHEMA)
    return build_graph(
        spark, transcripts, config, client_factory=client_factory
    )


def test_mode_approach_maps_from_config_file(tmp_path):
    assert _modes_config(tmp_path, "algorithmic").extraction_mode == "algorithmic"
    assert _modes_config(tmp_path, "semantic").extraction_mode == "semantic"
    assert _modes_config(tmp_path, "hybrid").extraction_mode == "hybrid"
    # unknown approach falls back to top-level defaults (setconfig.rs:1789)
    assert _modes_config(tmp_path, "zero-shot").extraction_mode == "algorithmic"


def test_semantic_mode_forces_gleaning_on(tmp_path):
    """setconfig.rs:1762-1768: approach=semantic enables gleaning even
    when entity_extraction.use_gleaning=false, rounds default to 3."""
    cfg = tmp_path / "sem.toml"
    cfg.write_text(
        '[mode]\napproach = "semantic"\n'
        "[entity_extraction]\nuse_gleaning = false\n"
    )
    assert load_config(str(cfg)).max_gleaning_rounds == 3
    cfg2 = tmp_path / "alg.toml"
    cfg2.write_text(
        '[mode]\napproach = "algorithmic"\n'
        "[entity_extraction]\nuse_gleaning = false\n"
    )
    assert load_config(str(cfg2)).max_gleaning_rounds == 1


def test_approach_sections_override_top_level(tmp_path):
    """setconfig.rs:1755-1787: [semantic]/[algorithmic]/[hybrid] sections
    override the top-level entity_extraction mapping when present."""
    sem = tmp_path / "sem_sec.toml"
    sem.write_text(
        '[mode]\napproach = "semantic"\n'
        "[entity_extraction]\nmin_confidence = 0.5\nmax_gleaning_rounds = 9\n"
        "[semantic.entity_extraction]\n"
        "use_gleaning = true\nmax_gleaning_rounds = 4\n"
        "confidence_threshold = 0.65\n"
    )
    loaded = load_config(str(sem))
    assert loaded.max_gleaning_rounds == 4
    assert loaded.min_confidence == 0.65

    # section with use_gleaning=false pins rounds to 1 (lib.rs:383 mapping);
    # missing confidence_threshold takes the serde default 0.7
    sem_off = tmp_path / "sem_off.toml"
    sem_off.write_text(
        '[mode]\napproach = "semantic"\n'
        "[semantic.entity_extraction]\nuse_gleaning = false\n"
    )
    loaded = load_config(str(sem_off))
    assert loaded.max_gleaning_rounds == 1
    assert loaded.min_confidence == 0.7

    alg = tmp_path / "alg_sec.toml"
    alg.write_text(
        '[mode]\napproach = "algorithmic"\n'
        "[entity_extraction]\nmin_confidence = 0.5\n"
        "[algorithmic.entity_extraction]\nconfidence_threshold = 0.8\n"
    )
    assert load_config(str(alg)).min_confidence == 0.8

    # any [hybrid] section forces rounds=2 (setconfig.rs:1784-1787)
    hyb = tmp_path / "hyb_sec.toml"
    hyb.write_text(
        '[mode]\napproach = "hybrid"\n'
        "[entity_extraction]\nmax_gleaning_rounds = 7\n"
        "[hybrid]\nenabled = true\n"
    )
    assert load_config(str(hyb)).max_gleaning_rounds == 2
    # ... but without the section, top-level rounds stand
    hyb2 = tmp_path / "hyb_nosec.toml"
    hyb2.write_text(
        '[mode]\napproach = "hybrid"\n'
        "[entity_extraction]\nmax_gleaning_rounds = 7\n"
    )
    assert load_config(str(hyb2)).max_gleaning_rounds == 7


def test_deterministic_stub_client_contract():
    """The offline stub answers all three prompt kinds deterministically:
    extraction derives capitalized runs from the embedded text, the
    completion check always says YES (no gleaning rounds), gleaning
    returns empty arrays."""
    import asyncio

    from graphrag_rs_spark.operators.llm_extraction import (
        DeterministicStubClient,
        build_completion_prompt,
        build_extraction_prompt,
        build_gleaning_prompt,
    )

    text = ("Maria Santos met David Chen at Helix Analytics. "
            "Acme Corp was mentioned.")
    c = DeterministicStubClient()
    out = json.loads(asyncio.run(
        c.acomplete(build_extraction_prompt(text, ("PERSON",)))
    ))
    names = {(e["name"], e["type"]) for e in out["entities"]}
    assert names == {
        ("Maria Santos", "PERSON"), ("David Chen", "PERSON"),
        ("Helix Analytics", "ORGANIZATION"), ("Acme Corp", "ORGANIZATION"),
    }
    rels = [(r["source"], r["target"]) for r in out["relationships"]]
    assert rels == [
        ("Maria Santos", "David Chen"), ("David Chen", "Helix Analytics"),
        ("Helix Analytics", "Acme Corp"),
    ]
    assert asyncio.run(
        c.acomplete(build_completion_prompt(text, [], []))
    ) == "YES"
    glean = json.loads(asyncio.run(
        c.acomplete(build_gleaning_prompt(text, ("PERSON",), [], []))
    ))
    assert glean == {"entities": [], "relationships": []}
    # same prompt → same answer (pure function of the prompt)
    assert asyncio.run(
        c.acomplete(build_extraction_prompt(text, ("PERSON",)))
    ) == json.dumps(DeterministicStubClient.derive(text))


def test_build_graph_rejects_unknown_mode(spark):
    transcripts = spark.createDataFrame(TURNS, TRANSCRIPT_SCHEMA)
    with pytest.raises(ValueError, match="extraction_mode"):
        build_graph(
            spark, transcripts,
            PipelineConfig(extraction_mode="neural"),
        )


def test_three_modes_end_to_end(spark, tmp_path):
    """The same corpus through all three config-file modes: algorithmic
    sees only pattern entities, semantic only LLM entities, hybrid the
    fused set with the LLM's higher-confidence twin winning."""
    factory = _client_factory()

    alg = _build(spark, _modes_config(tmp_path, "algorithmic"), factory)
    alg_names = {r["name"] for r in alg["nodes"].collect()}
    assert "Maria Santos" in alg_names
    assert "Helix Analytics" not in alg_names  # LLM-only entity

    sem = _build(spark, _modes_config(tmp_path, "semantic"), factory)
    sem_nodes = {r["name"]: r for r in sem["nodes"].collect()}
    assert set(sem_nodes) == {"Maria Santos", "Helix Analytics"}
    # LLM confidence is the reference's fixed 0.9 (llm_extractor.rs)
    assert sem_nodes["Maria Santos"]["confidence"] == pytest.approx(0.9)
    sem_edges = {
        (r["subj"], r["pred"], r["obj"]) for r in sem["edges"].collect()
    }
    assert (
        "PERSON_mariasantos", "WORKS_AT", "ORGANIZATION_helixanalytics"
    ) in sem_edges

    hyb = _build(spark, _modes_config(tmp_path, "hybrid"), factory)
    hyb_nodes = {r["name"]: r for r in hyb["nodes"].collect()}
    # union of both sides; pattern-only entities (David Chen) survive
    assert {"Maria Santos", "Helix Analytics", "David Chen"} <= set(hyb_nodes)
    # name-twin fused: the 0.9 LLM row replaced the pattern row in place
    assert hyb_nodes["Maria Santos"]["confidence"] == pytest.approx(0.9)


def test_semantic_without_client_falls_back_to_pattern(spark, tmp_path):
    """lib.rs:383 gate: use_gleaning && ollama.enabled — no client means
    the pattern path, byte-identical to algorithmic mode."""
    sem = _build(spark, _modes_config(tmp_path, "semantic"), None)
    alg = _build(spark, _modes_config(tmp_path, "algorithmic"), None)
    sem_rows = sorted(
        (r["cluster_id"], r["name"], r["confidence"])
        for r in sem["nodes"].collect()
    )
    alg_rows = sorted(
        (r["cluster_id"], r["name"], r["confidence"])
        for r in alg["nodes"].collect()
    )
    assert sem_rows == alg_rows and sem_rows


# ---------------------------------------------------------------------------
# fuse_rows unit vectors (gleaning_extractor.rs:229-272 semantics)
# ---------------------------------------------------------------------------

def _ent(eid, name, typ, conf, rank):
    return (eid, name, typ, conf, rank, [(0, len(name))])


def test_merge_replaces_in_place_only_on_strictly_higher():
    """Key is lowercase name; the LLM twin replaces the pattern slot IN
    PLACE only when strictly more confident (the strictly-longer-
    description rule of merge_entity_data); equal keeps existing; new
    names append after, in LLM order; ranks renumber to merged position."""
    pattern = (
        [_ent("PERSON_a", "Alice", "PERSON", 0.8, 0),
         _ent("PERSON_b", "bob", "PERSON", 0.9, 1)],
        [("PERSON_a", "PERSON_b", "KNOWS")],
    )
    llm = (
        [_ent("PERSON_a2", "ALICE", "PERSON", 0.95, 0),   # higher → replaces
         _ent("PERSON_b2", "Bob", "PERSON", 0.9, 1),      # equal → kept old
         _ent("ORG_x", "Xcorp", "ORGANIZATION", 0.9, 2)], # new → appended
        [("PERSON_a", "PERSON_b", "KNOWS"),               # dup → dropped
         ("PERSON_a2", "ORG_x", "WORKS_AT")],
    )
    ents, tris = fuse_rows(pattern, llm)
    assert [(e[0], e[1], e[3], e[4]) for e in ents] == [
        ("PERSON_a2", "ALICE", pytest.approx(0.95), 0),  # replaced in place
        ("PERSON_b", "bob", pytest.approx(0.9), 1),      # existing kept
        ("ORG_x", "Xcorp", pytest.approx(0.9), 2),       # appended
    ]
    assert tris == [
        ("PERSON_a", "PERSON_b", "KNOWS"),
        ("PERSON_a2", "ORG_x", "WORKS_AT"),
    ]


def test_fuse_first_strictly_higher_twin_at_float32():
    """A slot takes its FIRST twin whose confidence is strictly higher as a
    stored float32: a twin equal once both are rounded to float32 keeps
    the pattern row even when it is greater as a float64."""
    pattern = ([_ent("P_a", "Ann", "PERSON", 0.9, 0)], [])
    llm = (
        [_ent("P_a1", "ann", "PERSON", 0.9 + 1e-9, 0),  # float32-equal
         _ent("P_a2", "ANN", "PERSON", 0.95, 1),        # first higher
         _ent("P_a3", "Ann", "PERSON", 0.99, 2)],
        [],
    )
    ents, _ = fuse_rows(pattern, llm)
    assert [(e[0], e[4]) for e in ents] == [("P_a2", 0)]
    ents, _ = fuse_rows(pattern, (llm[0][:1], []))
    assert [e[0] for e in ents] == ["P_a"]


def test_fuse_passes_one_side_through_when_the_other_is_empty():
    """A chunk where one extractor found nothing gets the other side's
    rows unchanged (ranks already positional)."""
    pattern = ([_ent("P_a", "A", "PERSON", 0.7, 0)], [("P_a", "P_a", "SELF")])
    llm = (
        [_ent("O_b", "B", "ORGANIZATION", 0.9, 0),
         _ent("O_c", "C", "ORGANIZATION", 0.9, 1)],
        [("O_b", "O_c", "MENTIONED_WITH")],
    )
    empty = ([], [])
    assert fuse_rows(pattern, empty) == pattern
    assert fuse_rows(empty, llm) == llm
    assert fuse_rows(empty, empty) == empty
