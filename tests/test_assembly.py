"""Document-assembly invariants, incl. the per-turn text-equality gate
(BASELINE.json input_hint: per-turn text equality under stable
(conv_id, turn_idx) ordering)."""

import pytest

from graphrag_rs_spark.fixtures import generate_transcripts, transcripts_df
from graphrag_rs_spark.operators.assembly import assemble_documents


@pytest.fixture(scope="module")
def tiny_transcripts(spark):
    df = transcripts_df(spark, 20, seed=42, mega_every=10, mega_turns=60)
    df = df.cache()
    df.count()
    return df


def test_per_turn_text_equality(spark, tiny_transcripts):
    """Every turn's text must be recoverable exactly from full_text via its
    recorded (start, end) offsets."""
    docs = assemble_documents(tiny_transcripts).collect()
    raw = {
        (r["conv_id"], r["turn_idx"]): r["text"] for r in tiny_transcripts.collect()
    }
    checked = 0
    for row in docs:
        for off in row["turn_offsets"]:
            expected = raw[(row["conv_id"], off["turn_idx"])]
            assert row["full_text"][off["start"]:off["end"]] == expected
            checked += 1
    assert checked == len(raw)


def test_assembly_is_order_insensitive(spark, tiny_transcripts):
    """Shuffled input rows produce identical documents (stable ordering comes
    from turn_idx, not arrival order)."""
    from pyspark.sql import functions as F

    shuffled = tiny_transcripts.orderBy(F.xxhash64("conv_id", "turn_idx"))
    a = {r["conv_id"]: r["full_text"] for r in assemble_documents(tiny_transcripts).collect()}
    b = {r["conv_id"]: r["full_text"] for r in assemble_documents(shuffled).collect()}
    assert a == b


def test_assembly_matches_oracle(spark, tiny_transcripts):
    from graphrag_rs_spark.oracle import assemble as oracle_assemble

    rows = [r.asDict() for r in tiny_transcripts.collect()]
    docs_expected, offsets_expected = oracle_assemble(rows)
    got = {r["conv_id"]: r for r in assemble_documents(tiny_transcripts).collect()}
    assert set(got) == set(docs_expected)
    for conv_id, expected_text in docs_expected.items():
        assert got[conv_id]["full_text"] == expected_text
        got_offsets = [(o["turn_idx"], o["start"], o["end"]) for o in got[conv_id]["turn_offsets"]]
        assert got_offsets == offsets_expected[conv_id]


def test_mega_conversation_segmentation(spark, tiny_transcripts):
    """max_turns_per_doc range-splits mega conversations into segment docs."""
    docs = assemble_documents(tiny_transcripts, max_turns_per_doc=25).collect()
    by_conv = {}
    for r in docs:
        by_conv.setdefault(r["conv_id"], []).append(r)
    mega = by_conv["conv00000000"]  # 60 turns → 3 segments
    assert len(mega) == 3
    assert {r["doc_id"] for r in mega} == {
        "conv00000000#seg0", "conv00000000#seg1", "conv00000000#seg2"
    }
    assert sum(r["n_turns"] for r in mega) == 60


@pytest.mark.parametrize("turns", [
    [(0, "Alice met Bob."), (1, None), (2, "Carol works at Acme.")],
    [(0, "Alice met Bob."), (1, ""), (2, "Carol works at Acme.")],
    [(0, "Alice met Bob."), (1, "Dup turn one."), (1, "Another dup."),
     (2, "Carol works at Acme.")],
    [(0, "Alice met Bob."), (2, "Carol works at Acme."), (5, "Dave left.")],
], ids=["null_turn", "empty_turn", "duplicate_turn", "turn_gap"])
def test_odd_turns_match_oracle(spark, turns):
    """Odd input has defined results: a NULL text reads as an empty turn,
    a duplicated (conv_id, turn_idx) keeps both turns in text order, and
    a turn gap keeps the recorded turn_idx. Offsets equal the oracle's and
    recover every turn's text from full_text."""
    from graphrag_rs_spark.fixtures import TRANSCRIPT_SCHEMA
    from graphrag_rs_spark.oracle import assemble as oracle_assemble

    rows = [
        {"conv_id": "c0", "turn_idx": i, "role": "user", "text": t,
         "tool": None, "ts": None}
        for i, t in turns
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    (doc,) = assemble_documents(df).collect()
    docs_expected, offsets_expected = oracle_assemble(rows)
    assert doc["full_text"] == docs_expected["c0"]
    got = [(o["turn_idx"], o["start"], o["end"]) for o in doc["turn_offsets"]]
    assert got == offsets_expected["c0"]
    recovered = sorted(
        (o["turn_idx"], doc["full_text"][o["start"]:o["end"]])
        for o in doc["turn_offsets"]
    )
    assert recovered == sorted((i, t or "") for i, t in turns)
