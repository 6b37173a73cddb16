"""Stage A — document assembly: transcripts → per-conversation documents.

North-rule stage with no direct reference counterpart (closest:
graphrag-rs lib.rs:288-327 ``add_document_from_text`` consumes whole
documents). One conversation becomes one document: turn texts concatenated
in stable ``(conv_id, turn_idx)`` order with a fixed separator, and a
``turn_offsets`` map retained so that every turn's text can be recovered
exactly from ``full_text`` — the per-turn text-equality invariant.

Execution: 100% JVM-side. One shuffle (groupBy conv_id); ordering via
``array_sort`` on collected structs (turn_idx is the leading struct field,
so struct ordering == turn ordering); offsets via ``F.aggregate`` — no
Python in the path, no window-function second shuffle.

Scale notes:
* The groupBy shuffle is the only exchange; AQE handles partition sizing.
* Mega-conversations (Zipf skew) make single rows large but never cross
  rows; ``max_turns_per_doc`` range-splits a conversation into segment
  documents (``conv_id#segNNN``) BEFORE the shuffle so no single row
  exceeds memory — the documented skew mitigation from SURVEY.md §4.2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TURN_OFFSETS_TYPE = "array<struct<turn_idx:int,start:int,end:int>>"


def assemble_documents(
    transcripts: DataFrame,
    separator: str = "\n",
    max_turns_per_doc: int | None = None,
) -> DataFrame:
    """Returns documents(conv_id, doc_id, full_text, turn_offsets, n_turns).

    ``doc_id == conv_id`` unless ``max_turns_per_doc`` splits a mega
    conversation, in which case ``doc_id = conv_id#seg<k>``.
    """
    from graphrag_rs_spark.functions import tune_object_agg

    tune_object_agg(transcripts.sparkSession)
    df = transcripts
    if max_turns_per_doc:
        df = df.withColumn(
            "doc_id",
            F.concat_ws(
                "#seg",
                F.col("conv_id"),
                (F.col("turn_idx") / F.lit(max_turns_per_doc)).cast("int").cast("string"),
            ),
        )
    else:
        df = df.withColumn("doc_id", F.col("conv_id"))

    sep_len = len(separator)
    # a NULL text is an empty turn: array_join would skip it while the
    # running offset went NULL for every later turn
    text = F.coalesce(F.col("text"), F.lit("")).alias("text")
    turns = df.groupBy("conv_id", "doc_id").agg(
        F.array_sort(F.collect_list(F.struct("turn_idx", text))).alias("turns")
    )

    # full_text = join of texts; offsets accumulated JVM-side with aggregate
    assembled = turns.select(
        "conv_id",
        "doc_id",
        F.array_join(F.transform("turns", lambda t: t["text"]), separator).alias("full_text"),
        F.aggregate(
            "turns",
            F.struct(
                F.lit(0).alias("pos"),
                F.expr(f"CAST(array() AS {TURN_OFFSETS_TYPE})").alias("offs"),
            ),
            lambda acc, t: F.struct(
                (acc["pos"] + F.length(t["text"]) + F.lit(sep_len)).alias("pos"),
                F.concat(
                    acc["offs"],
                    F.array(
                        F.struct(
                            t["turn_idx"].cast("int").alias("turn_idx"),
                            acc["pos"].alias("start"),
                            (acc["pos"] + F.length(t["text"])).alias("end"),
                        )
                    ),
                ).alias("offs"),
            ),
            lambda acc: acc["offs"],
        ).alias("turn_offsets"),
        F.size("turns").alias("n_turns"),
    )
    return assembled
