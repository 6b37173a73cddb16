"""Spark-job ceilings for one small build, in memory and checkpointed.

A small build is dominated by per-job cost (scheduling, broadcast and
AQE stage submission), so the job count is the number that moves when a
stage starts doing work twice: a count before a collect, a Python RDD
rescanned, a UDF planned under both sides of a self-join, a checkpoint
record written and read back. The ceiling is the count this code runs,
measured on a 4-core host in the shared test session; it repeats exactly
run to run for a fixed input.
"""

from __future__ import annotations

import uuid

# 12 convs, seed 42, shuffle_partitions=4, outputs forced by noop writes
JOB_CEILING = 63
# the same build, cold, into a fresh checkpoint directory; one of its jobs
# digests the transcripts for the documents fingerprint
CHECKPOINTED_JOB_CEILING = 79


def _build_jobs(
    spark, checkpoint_dir: str | None = None, client_factory=None, **config
) -> int:
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import transcripts_df
    from graphrag_rs_spark.plans.pipeline import build_graph

    sc = spark.sparkContext
    spark.catalog.clearCache()
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        tables = build_graph(
            spark, transcripts_df(spark, 12, seed=42),
            PipelineConfig(shuffle_partitions=4, **config),
            checkpoint_dir=checkpoint_dir,
            client_factory=client_factory,
        )
        for name in ("nodes", "edges", "node_stats"):
            tables[name].write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.catalog.clearCache()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_build_job_ceiling(spark):
    jobs = _build_jobs(spark)
    assert jobs <= JOB_CEILING, (
        f"{jobs} Spark jobs for one 12-conv build (ceiling {JOB_CEILING})")


def test_gleaning_build_job_ceiling(spark):
    # gleaning rounds run per chunk inside the one extraction UDF, so they
    # add no Spark job
    jobs = _build_jobs(spark, max_gleaning_rounds=3)
    assert jobs <= JOB_CEILING, (
        f"{jobs} Spark jobs for one 12-conv build with three gleaning "
        f"rounds (ceiling {JOB_CEILING})")


def test_hybrid_build_job_ceiling(spark):
    # hybrid fuses each chunk's pattern rows inside the one LLM extraction
    # UDF, so it runs no more jobs than the pattern build
    from graphrag_rs_spark.operators.llm_extraction import DeterministicStubClient

    jobs = _build_jobs(
        spark, client_factory=DeterministicStubClient, extraction_mode="hybrid"
    )
    assert jobs <= JOB_CEILING, (
        f"{jobs} Spark jobs for one 12-conv hybrid build with the stub "
        f"client (ceiling {JOB_CEILING})")


def test_checkpointed_build_job_ceiling(spark, tmp_path):
    jobs = _build_jobs(spark, str(tmp_path / "ck"))
    assert jobs <= CHECKPOINTED_JOB_CEILING, (
        f"{jobs} Spark jobs for one cold checkpointed 12-conv build "
        f"(ceiling {CHECKPOINTED_JOB_CEILING})")
