"""The pipeline's session-wide ObjectHashAggregate fallback threshold:
``build_graph`` raises Spark's default of 128 to 2M, leaves a value the
user set untouched, and ``restore_object_agg`` is the way back."""

from __future__ import annotations

from graphrag_rs_spark.fixtures import transcripts_df
from graphrag_rs_spark.functions import _OBJ_AGG_FALLBACK, restore_object_agg
from graphrag_rs_spark.plans.pipeline import build_graph


def test_build_tunes_restores_and_respects_user_value(spark):
    restore_object_agg(spark)  # undo any earlier test's build
    prior = spark.conf.get(_OBJ_AGG_FALLBACK)
    transcripts = transcripts_df(spark, 2, seed=3, mega_every=0)
    try:
        spark.conf.unset(_OBJ_AGG_FALLBACK)
        assert spark.conf.get(_OBJ_AGG_FALLBACK) == "128"

        build_graph(spark, transcripts)
        assert spark.conf.get(_OBJ_AGG_FALLBACK) == "2000000"
        restore_object_agg(spark)
        assert spark.conf.get(_OBJ_AGG_FALLBACK) == "128"

        spark.conf.set(_OBJ_AGG_FALLBACK, "4096")
        build_graph(spark, transcripts)
        assert spark.conf.get(_OBJ_AGG_FALLBACK) == "4096"
        restore_object_agg(spark)
        assert spark.conf.get(_OBJ_AGG_FALLBACK) == "4096"
    finally:
        spark.conf.set(_OBJ_AGG_FALLBACK, prior)
        spark.catalog.clearCache()
