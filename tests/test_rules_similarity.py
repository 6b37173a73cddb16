"""Ports of graphrag-rs string_similarity_linker.rs test vectors (rs:471-621)."""

import pytest

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.rules.similarity import (
    jaccard_similarity,
    jaro_winkler_similarity,
    levenshtein_distance,
    normalize_string,
    pair_similarity,
    soundex,
)


def test_levenshtein_distance():  # rs:477-484
    assert levenshtein_distance("kitten", "sitting") == 3
    assert levenshtein_distance("saturday", "sunday") == 3
    assert levenshtein_distance("", "") == 0
    assert levenshtein_distance("abc", "abc") == 0


def test_jaro_winkler():  # rs:487-498
    assert jaro_winkler_similarity("martha", "marhta") > 0.9
    assert jaro_winkler_similarity("dwayne", "duane") > 0.8
    assert jaro_winkler_similarity("abc", "xyz") < 0.3


def test_jaro_winkler_prefix_bonus_edge_cases():
    """Hand-derived vectors for the reference's EXACT Winkler formula
    (string_similarity_linker.rs:252-264): ``jaro + prefix*0.1*(1-jaro)``
    with prefix capped at 4 — applied UNCONDITIONALLY, unlike classic
    Jaro-Winkler which only boosts above jaro 0.7. A 'fix' toward the
    classic gate would silently change linking behavior; these pin the
    reference's semantics."""
    # prefix cap: 5 shared leading chars still bonus as 4.
    # jaro("abcdezzzz","abcdeyyyy"): m=5, t=0 -> (5/9+5/9+1)/3 = 0.703703…
    jaro = (5 / 9 + 5 / 9 + 1.0) / 3.0
    got = jaro_winkler_similarity("abcdezzzz", "abcdeyyyy")
    assert abs(got - (jaro + 0.4 * (1 - jaro))) < 1e-9

    # unconditional bonus BELOW the classic 0.7 gate:
    # jaro("abcd","ab"+10*"z"): m=2, t=0 -> (2/4+2/12+1)/3 = 0.555555…
    jaro = (2 / 4 + 2 / 12 + 1.0) / 3.0
    assert jaro < 0.7
    got = jaro_winkler_similarity("abcd", "ab" + "z" * 10)
    assert abs(got - (jaro + 0.2 * (1 - jaro))) < 1e-9

    # transposition arithmetic: martha/marhta m=6, raw transpositions=2
    # (halved to 1), prefix=3: jaro = (1 + 1 + (6-1)/6)/3 = 0.944444…
    jaro = (1.0 + 1.0 + 5.0 / 6) / 3.0
    got = jaro_winkler_similarity("martha", "marhta")
    assert abs(got - (jaro + 0.3 * (1 - jaro))) < 1e-9

    # match window: max(len)//2 - 1 = 1, so the leading 'd' of 'dabc'
    # is out of range of s1's trailing 'd' -> m=3, t=0, prefix=0
    jaro = (3 / 4 + 3 / 4 + 1.0) / 3.0
    assert abs(jaro_winkler_similarity("abcd", "dabc") - jaro) < 1e-9

    # degenerate inputs
    assert jaro_winkler_similarity("", "") == 1.0
    assert jaro_winkler_similarity("a", "") == 0.0
    assert jaro_winkler_similarity("abc", "xyz") == 0.0  # rs asserts <0.3


def test_jaccard():  # rs:501-509
    sim = jaccard_similarity("the quick brown fox", "the lazy brown dog")
    assert 0.3 < sim < 0.5
    assert abs(jaccard_similarity("apple orange banana", "apple orange banana") - 1.0) < 1e-3


def test_soundex():  # rs:512-520
    assert soundex("Robert") == "R163"
    assert soundex("Rupert") == "R163"
    assert soundex("Rubin") == "R150"
    assert soundex("Smith") == "S530"
    assert soundex("Smyth") == "S530"


def test_normalization():  # rs:523-534
    assert normalize_string("John  Smith!") == "john smith"
    assert normalize_string("ACME Corp.") == "acme corp"


def test_pair_similarity_typo_and_type_gate():  # rs:537-575
    # "Jon Smith" / "Jhon Smith" should link to "John Smith" at >= 0.8
    assert pair_similarity("Jon Smith", "John Smith", "PERSON", "PERSON") >= 0.8
    assert pair_similarity("Jhon Smith", "John Smith", "PERSON", "PERSON") >= 0.8
    # wrong type never links
    assert pair_similarity("John Smith", "John Smith", "ORG", "PERSON") == 0.0


def test_pair_similarity_new_york_city():  # rs:578-620
    # "New York" vs "New York City" links at the default 0.85 threshold
    assert pair_similarity("New York", "New York City", "LOCATION", "LOCATION") >= 0.85


def test_exact_match_after_normalization():
    assert pair_similarity("JOHN SMITH", "John Smith!", "PERSON", "PERSON") == 1.0


# ASCII names with typo, token, suffix and sound-alike variants per type
LINK_NAMES = [
    ("Jon Smith", "PERSON"), ("John Smith", "PERSON"),
    ("Jonathan Smith", "PERSON"), ("Jon Smyth", "PERSON"),
    ("J. Smith", "PERSON"), ("Catherine Jones", "PERSON"),
    ("Katherine Jones", "PERSON"), ("Kathryn Jones", "PERSON"),
    ("Robert Brown", "PERSON"), ("Rupert Brown", "PERSON"),
    ("Roberta Browne", "PERSON"), ("Michael Anderson", "PERSON"),
    ("Micheal Anderson", "PERSON"), ("Mike Andersen", "PERSON"),
    ("Microsoft", "ORGANIZATION"), ("Microsoft Corp", "ORGANIZATION"),
    ("Microsft", "ORGANIZATION"), ("Micro Soft", "ORGANIZATION"),
    ("Helix Analytics", "ORGANIZATION"), ("Helix Analytic", "ORGANIZATION"),
    ("Helix Labs", "ORGANIZATION"), ("New York", "LOCATION"),
    ("New York City", "LOCATION"), ("Newark", "LOCATION"),
    ("San Francisco", "LOCATION"), ("San Fransisco", "LOCATION"),
    ("Saint Francis", "LOCATION"), ("York", "LOCATION"),
]


@pytest.mark.parametrize(
    "link",
    [
        {},
        {"link_use_phonetic": True},
        {"link_fuzzy_matching": False},
        {"link_max_edit_distance": 1},
        {"link_min_similarity": 0.7, "link_use_phonetic": True},
    ],
    ids=["default", "phonetic", "no_fuzzy", "edit_1", "min_0.7_phonetic"],
)
def test_score_pairs_matches_pair_similarity(spark, link):
    """The Spark scorer (JVM Levenshtein, Jaro skipped under its upper
    bound) keeps exactly the candidate pairs whose pair_similarity reaches
    the threshold, each with that score, under every linking setting."""
    from graphrag_rs_spark.operators.canonicalize import (
        candidate_pairs,
        score_pairs,
    )

    cfg = PipelineConfig(**link)
    entities = spark.createDataFrame(
        [(f"E{i:02d}", n, t) for i, (n, t) in enumerate(LINK_NAMES)],
        "entity_id string, name string, entity_type string",
    )
    by_id = {f"E{i:02d}": nt for i, nt in enumerate(LINK_NAMES)}
    pairs = candidate_pairs(entities, cfg).cache()
    try:
        candidates = [(r["id1"], r["id2"]) for r in pairs.collect()]
        got = {
            (r["id1"], r["id2"]): r["score"]
            for r in score_pairs(pairs, cfg).collect()
        }
    finally:
        pairs.unpersist()
    want = {}
    for id1, id2 in candidates:
        (n1, t1), (n2, t2) = by_id[id1], by_id[id2]
        score = pair_similarity(
            n1, n2, t1, t2,
            max_edit_distance=cfg.link_max_edit_distance,
            use_phonetic=cfg.link_use_phonetic,
            fuzzy_matching=cfg.link_fuzzy_matching,
        )
        if score >= cfg.link_min_similarity:
            want[id1, id2] = score
    assert want and len(want) < len(candidates)
    assert set(got) == set(want)
    # the score column is float32
    assert all(got[k] == pytest.approx(want[k], abs=1e-6) for k in want)
