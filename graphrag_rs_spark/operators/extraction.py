"""Stage C — mention & triple extraction: chunks → extraction table.

One Arrow-batched ``mapInPandas`` pass per chunk batch runs the ported
pattern extractor (graphrag-rs entity/mod.rs:97-1086) AND the co-occurrence
relationship pairing (entity/mod.rs:791-858) — the pairing is per-chunk, so
doing it inside the same UDF avoids the mentions self-join shuffle entirely
(the reference's second pass over chunks, lib.rs:495-556, is likewise
chunk-local).

The stage emits ONE nested row per chunk:

    chunk_id, conv_id, doc_id,
    entities: array<struct<entity_id, name, entity_type, confidence,
                           mentions: array<struct<start:int, end:int>>>>,
    triples:  array<struct<subj, obj, pred>>

Downstream tables (mentions, entities_raw, edges_raw) are cheap JVM-side
explodes of this table — extraction runs exactly once and the nested table
is the natural per-stage checkpoint.

Gleaning-style multi-pass (entity/gleaning_extractor.rs:112-223): rounds > 1
re-run extraction over chunks whose entity count is still below target with
additional entity types enabled, then merge — see ``extract_gleaning`` (the
deterministic analogue of the LLM completeness loop; the LLM extractor plugs
in behind the same row contract).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig

EXTRACTION_SCHEMA = (
    "chunk_id string, conv_id string, doc_id string, chunk_idx int, "
    "entities array<struct<entity_id:string, name:string, entity_type:string, "
    "confidence:float, rank:int, mentions:array<struct<start:int,end:int>>>>, "
    "triples array<struct<subj:string, obj:string, pred:string>>"
)

# Row contract any extractor implementation must fulfil:
#   (text: str) -> (entities: list[dict], triples: list[tuple])
ExtractorFn = Callable[[str], tuple[list, list]]


def _pattern_extractor(entity_types: tuple, min_confidence: float) -> ExtractorFn:
    from graphrag_rs_spark.rules.extraction import (
        extract_entities,
        extract_relationships,
    )

    def run(text: str):
        ents = extract_entities(text, entity_types, min_confidence)
        triples = extract_relationships(ents, text)
        ent_rows = [
            (e.entity_id, e.name, e.entity_type, e.confidence, rank,
             [(s, t) for s, t in e.mentions])
            for rank, e in enumerate(ents)
        ]
        return ent_rows, triples

    return run


def extract_chunks(
    chunks: DataFrame,
    config: PipelineConfig | None = None,
    extractor_factory: Callable[[], ExtractorFn] | None = None,
) -> DataFrame:
    """chunks → extraction table (one nested row per chunk).

    ``extractor_factory`` lets callers swap the pattern extractor for an
    LLM-backed one (same row contract, mirroring the reference's pluggable
    extractor traits, core/traits.rs).
    """
    config = config or PipelineConfig()
    entity_types = tuple(config.all_entity_types)
    min_confidence = config.min_confidence
    do_rel = config.extract_relationships

    def extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        extractor = (
            extractor_factory() if extractor_factory is not None
            else _pattern_extractor(entity_types, min_confidence)
        )
        for pdf in batches:
            out_entities = []
            out_triples = []
            for text in pdf["text"]:
                ents, triples = extractor(text or "")
                out_entities.append(ents)
                out_triples.append(triples if do_rel else [])
            yield pd.DataFrame(
                {
                    "chunk_id": pdf["chunk_id"],
                    "conv_id": pdf["conv_id"],
                    "doc_id": pdf["doc_id"],
                    "chunk_idx": pdf["chunk_idx"],
                    "entities": out_entities,
                    "triples": out_triples,
                }
            )

    return chunks.select("chunk_id", "conv_id", "doc_id", "chunk_idx", "text").mapInPandas(
        extract_batches, schema=EXTRACTION_SCHEMA
    )


# ---------------------------------------------------------------------------
# JVM-side explodes of the nested extraction table
# ---------------------------------------------------------------------------

def mentions_table(extraction: DataFrame) -> DataFrame:
    """(entity_id, chunk_id, name, entity_type, start, end, confidence) —
    the reference's BidirectionalIndex rows (bidirectional_index.rs:53-63)."""
    e = extraction.select(
        "chunk_id", "conv_id", F.explode("entities").alias("ent")
    )
    return e.select(
        "chunk_id",
        "conv_id",
        F.col("ent.entity_id").alias("entity_id"),
        F.col("ent.name").alias("name"),
        F.col("ent.entity_type").alias("entity_type"),
        F.explode("ent.mentions").alias("m"),
        F.col("ent.confidence").alias("confidence"),
    ).select(
        "chunk_id", "conv_id", "entity_id", "name", "entity_type",
        F.col("m.start").alias("start"), F.col("m.end").alias("end"),
        "confidence",
    )


def entities_raw_table(extraction: DataFrame) -> DataFrame:
    """Global entity roll-up: one row per entity_id.

    Document-level dedupe semantics from graph/mod.rs:210-232 (key is the
    normalized id, merge mentions, keep max confidence); canonical surface
    name = highest-confidence (tie: lexicographically greatest) name, a
    deterministic stand-in for the reference's arbitrary HashMap winner.

    ``order_key`` is the entity's global first-appearance position
    ``(conv_id, chunk_idx, rank)`` — the deterministic scan order the
    greedy clustering stage replays (canonicalize.py).
    """
    e = extraction.select(
        "conv_id", "chunk_idx", F.explode("entities").alias("ent")
    )
    flat = e.select(
        F.col("ent.entity_id").alias("entity_id"),
        F.col("ent.name").alias("name"),
        F.col("ent.entity_type").alias("entity_type"),
        F.col("ent.confidence").alias("confidence"),
        F.size("ent.mentions").alias("n_mentions"),
        F.struct(
            "conv_id", "chunk_idx", F.col("ent.rank").alias("rank")
        ).alias("pos"),
    )
    return flat.groupBy("entity_id").agg(
        F.max_by("name", F.struct("confidence", "name")).alias("name"),
        F.first("entity_type").alias("entity_type"),
        F.max("confidence").alias("confidence"),
        F.sum("n_mentions").alias("mention_count"),
        F.collect_set("name").alias("aliases"),
        F.min("pos").alias("order_key"),
    )


def edges_raw_table(extraction: DataFrame, relationship_confidence: float = 0.5) -> DataFrame:
    """(subj, obj, pred, confidence, context) — confidence is the config
    default (config/mod.rs:887-889); context is the source chunk id
    (lib.rs:530-536)."""
    t = extraction.select("chunk_id", F.explode("triples").alias("t"))
    return t.select(
        F.col("t.subj").alias("subj"),
        F.col("t.obj").alias("obj"),
        F.col("t.pred").alias("pred"),
        F.lit(relationship_confidence).cast("float").alias("confidence"),
        F.col("chunk_id").alias("context_chunk"),
    )


def edges_partial_table(extraction: DataFrame) -> DataFrame:
    """Pre-combined triples: one row per distinct (subj, pred, obj) with
    its sorted distinct context chunk ids and its occurrence count.

    ``edges_raw_table`` emits one row per triple OCCURRENCE; the streaming
    workspace keeps this roll-up instead, so its state grows with distinct
    keys, not occurrences. A JVM hash aggregate of ``edges_raw_table``;
    ``edges_table`` accepts either shape, and merging partials
    (streaming/ingest.py) is associative, so both give the same edges."""
    return edges_raw_table(extraction).groupBy("subj", "pred", "obj").agg(
        F.array_sort(F.collect_set("context_chunk")).alias("contexts"),
        F.count(F.lit(1)).alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# Gleaning-style multi-pass driver loop
# ---------------------------------------------------------------------------

def extract_gleaning(
    chunks: DataFrame,
    config: PipelineConfig,
    round_types: list[tuple[str, ...]] | None = None,
) -> DataFrame:
    """Multi-round extraction (gleaning_extractor.rs:112-223 dataflow).

    Round 1 extracts with the configured types. Later rounds run ONLY over
    chunks that still look incomplete — entity count below
    ``config.gleaning_entity_target``, the deterministic density analogue
    of the reference's per-chunk LLM YES/NO completeness check
    (gleaning_extractor.rs:154-194) — with progressively wider type sets,
    then results merge by (chunk, name-lowercase) keeping the longer name /
    higher confidence (gleaning merge rule, gleaning_extractor.rs:229-272).

    The driver-side loop shrinks the frontier each round via an anti-join —
    completed chunks are never re-extracted.
    """
    rounds = max(1, config.max_gleaning_rounds)
    target = max(1, config.gleaning_entity_target)
    if round_types is None:
        widen = ("CONCEPT", "EVENT", "OBJECT")
        round_types = [tuple(config.all_entity_types)]
        for r in range(1, rounds):
            round_types.append(tuple(config.all_entity_types) + widen[: r])

    result = extract_chunks(
        chunks, _with_types(config, round_types[0])
    )
    for r in range(1, rounds):
        # frontier: chunks below the entity-density target
        incomplete_ids = result.where(
            F.size("entities") < target
        ).select("chunk_id")
        frontier = chunks.join(F.broadcast(incomplete_ids), "chunk_id", "left_semi")
        if frontier.isEmpty():
            break
        re_extracted = extract_chunks(frontier, _with_types(config, round_types[r]))
        result = result.where(F.size("entities") >= target).unionByName(
            re_extracted
        )
    return result


def _with_types(config: PipelineConfig, types: tuple[str, ...]) -> PipelineConfig:
    from dataclasses import replace

    return replace(config, entity_types=types, extra_entity_types=())
