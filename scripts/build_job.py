#!/usr/bin/env python
"""spark-submit entry point for the KG-construction build (north rule:
"runs via spark-submit --py-files on multi-executor clusters").

Usage (cluster):

    zip -r kg.zip graphrag_rs_spark
    spark-submit --py-files kg.zip scripts/build_job.py \
        --input  <iceberg-table-or-parquet-path of transcripts> \
        --output <workspace dir> \
        --checkpoint-dir <resume dir>      # optional: exact resume
        [--input-format iceberg|parquet]
        [--chunk-size 1000] [--gleaning-rounds 1] [--semantic-edges]

The job never hardcodes a master: local runs pass ``--master local[N]``
to spark-submit, cluster runs use their scheduler (YARN/K8s/standalone).
Writes the four-table graph workspace (entities/relationships/chunks/
documents — persistence/parquet.rs:8-14 layout) plus ``node_stats`` and a
``_metrics`` JSON line on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import time

# NOTE: no sys.path manipulation — the graphrag_rs_spark package must
# arrive via ``spark-submit --py-files kg.zip`` (or an installed wheel),
# exactly as on a real cluster.
from pyspark.sql import SparkSession


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", default="parquet",
                    choices=["parquet", "iceberg"])
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--config", default=None,
                    help="TOML/JSON5/YAML config file (reference RawConfig "
                         "schema + [spark] section); CLI flags override it")
    # None sentinels (not the real defaults) so an EXPLICIT flag is
    # distinguishable from an untouched one — `--chunk-size 1000` must
    # override a config file even though 1000 is also the default; an
    # untouched flag keeps the file's value, else PipelineConfig's
    ap.add_argument("--chunk-size", type=int, default=None)
    ap.add_argument("--chunk-overlap", type=int, default=None)
    ap.add_argument("--gleaning-rounds", type=int, default=None)
    ap.add_argument("--semantic-edges", action="store_true")
    ap.add_argument("--shuffle-partitions", type=int, default=0,
                    help="0 = leave spark-submit / AQE defaults")
    return ap.parse_args(argv)


def build_config(args: argparse.Namespace):
    """The ``--config`` file's PipelineConfig (the defaults without one),
    with every explicitly passed flag applied on top."""
    from dataclasses import replace

    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.config_loader import load_config

    base = load_config(args.config) if args.config else PipelineConfig()
    overrides = {
        field: getattr(args, flag)
        for flag, field in [
            ("chunk_size", "chunk_size"),
            ("chunk_overlap", "chunk_overlap"),
            ("gleaning_rounds", "max_gleaning_rounds"),
        ]
        if getattr(args, flag) is not None
    }
    if args.semantic_edges:
        overrides["semantic_edges"] = True
    if args.shuffle_partitions:
        overrides["shuffle_partitions"] = args.shuffle_partitions
    return replace(base, **overrides)


def main() -> None:
    args = parse_args()

    builder = SparkSession.builder.appName("graphrag-rs-spark-build")
    builder = builder.config("spark.sql.adaptive.enabled", "true")
    builder = builder.config("spark.sql.execution.arrow.pyspark.enabled", "true")
    if args.shuffle_partitions:
        builder = builder.config(
            "spark.sql.shuffle.partitions", str(args.shuffle_partitions)
        )
    spark = builder.getOrCreate()

    from graphrag_rs_spark.plans.pipeline import build_graph
    from graphrag_rs_spark.sources.registry import read_table, save_graph_workspace

    config = build_config(args)
    transcripts = read_table(spark, args.input, args.input_format)
    t0 = time.perf_counter()
    tables = build_graph(
        spark, transcripts, config, checkpoint_dir=args.checkpoint_dir
    )
    save_graph_workspace(tables, args.output)
    tables["node_stats"].write.mode("overwrite").parquet(
        os.path.join(args.output, "node_stats")
    )
    wall = time.perf_counter() - t0

    # count the written tables: counting the in-memory `edges` plan would
    # re-run the whole re-point aggregation
    n_edges = spark.read.parquet(os.path.join(args.output, "relationships")).count()
    n_nodes = spark.read.parquet(os.path.join(args.output, "entities")).count()
    print(json.dumps({
        "metric": "kg_build",
        "wall_sec": round(wall, 3),
        "n_nodes": n_nodes,
        "n_edges": n_edges,
        "output": args.output,
        "resumed": args.checkpoint_dir is not None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
