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

Gleaning-style multi-pass (entity/gleaning_extractor.rs:112-223) runs per
chunk inside the same UDF: while a chunk's entity count is below target, it
is re-extracted with a wider entity-type set, and the new extraction
replaces the old — see ``extract_gleaning`` (the deterministic analogue of
the LLM completeness loop; the LLM extractor, llm_extraction.py, emits the
same row contract).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.rules.extraction import (
    extract_entities,
    extract_relationships,
)

EXTRACTION_SCHEMA = (
    "chunk_id string, conv_id string, doc_id string, chunk_idx int, "
    "entities array<struct<entity_id:string, name:string, entity_type:string, "
    "confidence:float, rank:int, mentions:array<struct<start:int,end:int>>>>, "
    "triples array<struct<subj:string, obj:string, pred:string>>"
)

# wider type sets the gleaning rounds add, one more per round
# (gleaning_extractor.rs:112-223 re-asks with a wider net)
_GLEANING_WIDEN = ("CONCEPT", "EVENT", "OBJECT")


def pattern_rows(
    text: str,
    types_per_round: list[tuple[str, ...]],
    target: int,
    min_confidence: float,
    do_rel: bool,
) -> tuple[list, list]:
    """One chunk's pattern extraction as the extraction table's entity and
    triple rows: round r extracts with ``types_per_round[r]``, the first
    round that yields at least ``target`` entities stops the loop, and its
    entities REPLACE the earlier rounds'; triples pair the final round's
    entities (when ``do_rel``)."""
    for types in types_per_round:
        ents = extract_entities(text, types, min_confidence)
        if len(ents) >= target:
            break
    return (
        [
            (e.entity_id, e.name, e.entity_type, e.confidence, rank,
             [(s, t) for s, t in e.mentions])
            for rank, e in enumerate(ents)
        ],
        extract_relationships(ents, text) if do_rel else [],
    )


def _extract(
    chunks: DataFrame, config: PipelineConfig, rounds: int
) -> DataFrame:
    """The one extraction UDF: each chunk runs :func:`pattern_rows` with up
    to ``rounds`` rounds, round r with the configured types plus the first
    r-1 gleaning types, stopping at ``gleaning_entity_target`` entities."""
    base = tuple(config.all_entity_types)
    types_per_round = [base + _GLEANING_WIDEN[:r] for r in range(rounds)]
    target = max(1, config.gleaning_entity_target)
    min_confidence = config.min_confidence
    do_rel = config.extract_relationships

    def extract_batches(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out_entities = []
            out_triples = []
            for text in pdf["text"]:
                ents, triples = pattern_rows(
                    text or "", types_per_round, target, min_confidence, do_rel
                )
                out_entities.append(ents)
                out_triples.append(triples)
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


def extract_chunks(
    chunks: DataFrame, config: PipelineConfig | None = None
) -> DataFrame:
    """chunks → extraction table (one nested row per chunk), one round
    with the configured entity types."""
    return _extract(chunks, config or PipelineConfig(), 1)


def extract_gleaning(chunks: DataFrame, config: PipelineConfig) -> DataFrame:
    """Multi-round extraction (gleaning_extractor.rs:112-223 dataflow), per
    chunk inside the one extraction UDF.

    Round 1 extracts with the configured types. While a chunk has fewer
    entities than ``config.gleaning_entity_target`` — the deterministic
    density analogue of the reference's per-chunk LLM YES/NO completeness
    check (gleaning_extractor.rs:154-194) — it is re-extracted with the
    next, wider type set, up to ``config.max_gleaning_rounds`` rounds. Each
    re-extraction REPLACES the chunk's entities and triples; a complete
    chunk is never re-extracted. At one round this is ``extract_chunks``.
    """
    return _extract(chunks, config, max(1, config.max_gleaning_rounds))


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
    """One row per triple occurrence: (subj, obj, pred, confidence,
    context_chunk) — confidence is the config default
    (config/mod.rs:887-889); context_chunk is the source chunk id
    (lib.rs:530-536). The batch build, its checkpoint and the streaming
    workspace all keep this one shape."""
    t = extraction.select("chunk_id", F.explode("triples").alias("t"))
    return t.select(
        F.col("t.subj").alias("subj"),
        F.col("t.obj").alias("obj"),
        F.col("t.pred").alias("pred"),
        F.lit(relationship_confidence).cast("float").alias("confidence"),
        F.col("chunk_id").alias("context_chunk"),
    )
