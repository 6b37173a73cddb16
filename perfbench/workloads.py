"""The benchmark workloads, driven through the package's public API.

Every workload is one closed-loop driver client: the next operation starts
only after the previous one has returned. Inputs come from
``fixtures.transcripts_df`` with a ``ScaledVocab`` sized from the corpus,
seeded by the benchmark's ``--seed``; they are written to parquet during
set-up, so every operation reads its transcripts the way a deployment
reads a table.

An operation's outputs are forced by a ``noop`` write, which computes
every column. The write carries an ``Observation`` that computes an
order-independent digest of the same rows in the same pass, so checking
the output costs no second pass.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import nullcontext

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from graphrag_rs_spark.config import PipelineConfig
from graphrag_rs_spark.fixtures import ScaledVocab, transcripts_df
from graphrag_rs_spark.operators.assembly import assemble_documents
from graphrag_rs_spark.operators.canonicalize import (
    canonicalize_entities,
    candidate_pairs,
    score_pairs,
)
from graphrag_rs_spark.operators.chunking import chunk_documents
from graphrag_rs_spark.operators.extraction import (
    edges_raw_table,
    entities_raw_table,
    extract_chunks,
)
from graphrag_rs_spark.operators.graph import connected_components
from graphrag_rs_spark.operators.materialize import materialize_graph
from graphrag_rs_spark.plans.pipeline import build_graph
from graphrag_rs_spark.streaming.ingest import run_incremental_ingest

OUTPUTS = ("nodes", "edges", "node_stats")

# Conversations in the corpus every workload builds, and in the base and
# the drop of the traced incremental ingest. "toy" is for the self-test.
SIZES = {
    "full": {"corpus": 400, "ingest_base": 100, "drop": 25},
    "toy": {"corpus": 12, "ingest_base": 12, "drop": 4},
}

# Spans each workload's traced pass records; see the ``trace`` methods.
SPANS = {
    "batch_build": (
        "assembly", "chunking", "extraction", "extraction.rollup",
        "canonicalize.pairs", "graph.cc", "canonicalize",
        "materialize.nodes", "materialize.edges", "materialize.node_stats",
        "pipeline",
    ),
    "ckpt_resume": ("checkpoint.build", "checkpoint.resume",
                    "ingest.delta_extract", "ingest.batch"),
}
COUNTS = {
    "extraction.triples": "count",
    "extraction.rollup.entities": "count",
    "canonicalize.pairs.candidates": "count",
    "canonicalize.pairs.matches": "count",
    "canonicalize.pairs.match_ratio": "ratio",
    "materialize.edges.rows": "count",
    "materialize.nodes.rows": "count",
    "checkpoint.bytes_mb": "MB",
    "checkpoint.files": "count",
    "checkpoint.stage_wall_s": "s",
    "checkpoint.resumed_ratio": "ratio",
    "ingest.workspace_mb": "MB",
    "ingest.entities_raw_rows": "count",
    "ingest.edges_raw_rows": "count",
}


def force(df: DataFrame) -> str:
    """Compute every column of ``df`` and return its content digest:
    row count, xor and sum of per-row hashes (the sum keeps duplicated
    rows from cancelling out of the xor)."""
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    obs = Observation()
    df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("sum"),
    ).write.format("noop").mode("overwrite").save()
    m = obs.get
    return f"{m['rows']}:{(m['xor'] or 0) & (2**64 - 1):016x}:{m['sum'] or 0}"


def digest_rows(digest: str) -> int:
    return int(digest.split(":", 1)[0])


def force_outputs(tables: dict[str, DataFrame]) -> dict[str, str]:
    return {name: force(tables[name]) for name in OUTPUTS}


def triple_count(extraction: DataFrame) -> int:
    """Triple occurrences, summed over the nested extraction rows (NULL
    arrays clamped to 0)."""
    return extraction.agg(
        F.sum(F.greatest(F.coalesce(F.size("triples"), F.lit(0)), F.lit(0)))
    ).collect()[0][0] or 0


def dir_stats(path: str) -> tuple[float, int]:
    """(MB, regular-file count) under ``path``, not following links."""
    total = files = 0
    for root, _, names in os.walk(path):
        for name in names:
            p = os.path.join(root, name)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
                files += 1
    return total / (1024 * 1024), files


def write_corpus(spark: SparkSession, path: str, n_convs: int, seed: int,
                 vocab_convs: int, prefix: str = "") -> None:
    """``n_convs`` conversations drawn from a ``ScaledVocab`` sized for
    ``vocab_convs``; ``prefix`` keeps conversation ids of separate drops
    disjoint."""
    vocab = ScaledVocab(n_persons=max(50, vocab_convs // 2),
                        n_orgs=max(20, vocab_convs // 5))
    df = transcripts_df(spark, n_convs, seed=seed, distributed=True,
                        partitions=spark.sparkContext.defaultParallelism * 4,
                        vocab=vocab)
    if prefix:
        df = df.withColumn("conv_id", F.concat(F.lit(prefix), "conv_id"))
    df.write.mode("overwrite").parquet(path)


class Workload:
    """Set-up, one timed operation, its output check and the traced pass.

    ``op`` returns ``(seconds, triples, ok)``; seconds covers only the
    public calls and the forcing of their outputs. ``trace`` returns
    ``(counts, ok)``.
    """

    name = ""

    def __init__(self, spark: SparkSession, work: str, seed: int,
                 sizes: dict, expected: dict | None) -> None:
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        # digests recorded for this seed and corpus size, if any
        self.expected = expected
        self.config = PipelineConfig(
            shuffle_partitions=spark.sparkContext.defaultParallelism,
            min_shared_blocks=2)
        self.input = os.path.join(work, "input")
        # the first build's digests; every later one must equal them
        self.reference: dict[str, str] | None = None

    def setup(self, spans=None) -> None:
        """Write the corpus. ``spans`` is given in the traced run."""
        n = self.sizes["corpus"]
        write_corpus(self.spark, self.input, n, self.seed, n)

    def transcripts(self) -> DataFrame:
        return self.spark.read.parquet(self.input)

    def _digests_ok(self, digests: dict[str, str]) -> bool:
        """Same output as every earlier build, and as the recorded digests;
        one node_stats row per node; a non-empty graph."""
        if self.reference is None:
            self.reference = digests
        nodes = digest_rows(digests["nodes"])
        return (
            digests == self.reference
            and (self.expected is None
                 or all(self.expected[k] == digests[k] for k in OUTPUTS))
            and nodes > 0 and digest_rows(digests["edges"]) > 0
            and digest_rows(digests["node_stats"]) == nodes
        )


class BatchBuild(Workload):
    """One in-memory ``build_graph`` over the whole corpus, the first in
    a fresh JVM, the way each batch job runs."""

    name = "batch_build"

    def op(self) -> tuple[float, int, bool]:
        t0 = time.perf_counter()
        tables = build_graph(self.spark, self.transcripts(), self.config)
        digests = force_outputs(tables)
        wall = time.perf_counter() - t0
        triples = triple_count(tables["extraction"])
        self.spark.catalog.clearCache()
        return wall, triples, self._digests_ok(digests)

    def trace(self, spans) -> tuple[dict[str, float], bool]:
        """One whole build, the first in the JVM like the untimed run's;
        then each layer's public call, its output forced (and cached for
        the next layer) inside that layer's span."""
        cfg, spark = self.config, self.spark
        with spans.span("pipeline"):
            ok = self._digests_ok(
                force_outputs(build_graph(spark, self.transcripts(), cfg)))
        spark.catalog.clearCache()
        with spans.span("assembly"):
            documents = assemble_documents(
                self.transcripts(), separator=cfg.turn_separator).cache()
            force(documents)
        with spans.span("chunking"):
            chunks = chunk_documents(documents, cfg).cache()
            force(chunks)
        with spans.span("extraction"):
            # build_graph's re-balancing of the extraction input
            n_extract = (spark.sparkContext.defaultParallelism
                         * cfg.extraction_partitions_per_core)
            extraction = extract_chunks(chunks.repartition(n_extract),
                                        cfg).cache()
            force(extraction)
        with spans.span("extraction.rollup"):
            entities_raw = entities_raw_table(extraction).cache()
            n_entities = digest_rows(force(entities_raw))
        with spans.span("canonicalize.pairs"):
            pairs = candidate_pairs(entities_raw, cfg)
            matches = score_pairs(pairs, cfg).localCheckpoint(eager=True)
        n_candidates, n_matches = pairs.count(), matches.count()
        with spans.span("graph.cc"):
            connected_components(matches, src="id1", dst="id2") \
                .localCheckpoint(eager=True)
        with spans.span("canonicalize"):
            clusters = canonicalize_entities(entities_raw, cfg).cache()
            force(clusters)
        nodes, edges, node_stats = materialize_graph(
            edges_raw_table(extraction, cfg.relationship_confidence),
            clusters, entities_raw, cfg, cache_intermediate=True,
        )
        with spans.span("materialize.nodes"):
            n_nodes = digest_rows(force(nodes))
        with spans.span("materialize.edges"):
            n_edges = digest_rows(force(edges))
        with spans.span("materialize.node_stats"):
            force(node_stats)
        counts = {
            "extraction.triples": triple_count(extraction),
            "extraction.rollup.entities": n_entities,
            "canonicalize.pairs.candidates": n_candidates,
            "canonicalize.pairs.matches": n_matches,
            "canonicalize.pairs.match_ratio": n_matches / max(1, n_candidates),
            "materialize.edges.rows": n_edges,
            "materialize.nodes.rows": n_nodes,
        }
        spark.catalog.clearCache()
        return counts, ok


class CheckpointResume(Workload):
    """One operation is a cold checkpointed ``build_graph`` into a fresh
    directory, then a full resume from it, both with their outputs
    forced; like ``batch_build``'s, the first build in a fresh JVM. The
    traced pass records the two halves as ``checkpoint.build`` and
    ``checkpoint.resume``, then covers the other path that keeps state on
    disk between jobs, the incremental-ingest workspace."""

    name = "ckpt_resume"

    def setup(self, spans=None) -> None:
        super().setup()
        self.ckpt_dir = os.path.join(self.work, "checkpoint")

    def _build(self):
        tables = build_graph(self.spark, self.transcripts(), self.config,
                             checkpoint_dir=self.ckpt_dir)
        return force_outputs(tables), tables["_checkpoint"]

    def _cold_then_resume(self, spans=None):
        """Build into a fresh checkpoint directory, then resume every stage
        from it. Returns both managers and whether the cold outputs are
        right and the resume recomputed nothing and equals them."""
        with spans.span("checkpoint.build") if spans else nullcontext():
            cold_digests, cold = self._build()
        with spans.span("checkpoint.resume") if spans else nullcontext():
            digests, resumed = self._build()
        ok = (self._digests_ok(cold_digests) and digests == cold_digests
              and not resumed.stages_computed)
        return cold, resumed, ok

    def op(self) -> tuple[float, int, bool]:
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        t0 = time.perf_counter()
        _, _, ok = self._cold_then_resume()
        wall = time.perf_counter() - t0
        triples = triple_count(self.spark.read.parquet(
            os.path.join(self.ckpt_dir, "extraction", "data")))
        return wall, triples, ok

    def trace(self, spans) -> tuple[dict[str, float], bool]:
        cold, resumed, ok = self._cold_then_resume(spans)
        mb, files = dir_stats(self.ckpt_dir)
        stage_ms = sum(cold.manifest(s)["wall_ms"]
                       for s in cold.stages_computed)
        n_stages = len(resumed.stages_resumed) + len(resumed.stages_computed)
        counts = {
            "checkpoint.bytes_mb": mb,
            "checkpoint.files": files,
            "checkpoint.stage_wall_s": stage_ms / 1000.0,
            "checkpoint.resumed_ratio":
                len(resumed.stages_resumed) / max(1, n_stages),
        }
        self.spark.catalog.clearCache()
        ingest_counts, ingest_ok = self._trace_ingest(spans)
        return {**counts, **ingest_counts}, ok and ingest_ok

    def _trace_ingest(self, spans) -> tuple[dict[str, float], bool]:
        """Preload a workspace with a base corpus, then land one disjoint
        drop and ingest it with ``run_incremental_ingest(available_now=True)``.
        The workspace must then hold the same cluster ids and (subj, pred,
        obj) set as one ``build_graph`` over base + drop. Both draw on one
        vocabulary, so the drop's entities re-link to the base's."""
        spark, cfg = self.spark, self.config
        inbox = os.path.join(self.work, "inbox")
        workspace = os.path.join(self.work, "workspace")

        def ingest() -> None:
            run_incremental_ingest(
                spark, os.path.join(inbox, "*"), workspace,
                os.path.join(self.work, "stream"), cfg, available_now=True)

        n_base = self.sizes["ingest_base"]
        base = os.path.join(inbox, "drop0")
        write_corpus(spark, base, n_base, self.seed * 1000, n_base,
                     prefix="drop0-")
        ingest()
        # the drop is written outside the inbox, then moved in whole
        staged = os.path.join(self.work, "staging")
        write_corpus(spark, staged, self.sizes["drop"], self.seed * 1000 + 1,
                     n_base, prefix="drop1-")
        drop = os.path.join(inbox, "drop1")
        os.rename(staged, drop)
        with spans.span("ingest.delta_extract"):
            documents = assemble_documents(spark.read.parquet(drop),
                                           separator=cfg.turn_separator)
            force(extract_chunks(chunk_documents(documents, cfg), cfg))
        with spans.span("ingest.batch"):
            ingest()

        def table(name: str) -> DataFrame:
            return spark.read.parquet(os.path.join(workspace, name))

        def same(a: DataFrame, b: DataFrame) -> bool:
            # some ten thousand distinct rows at most: one pass each,
            # compared on the driver
            return set(a.distinct().collect()) == set(b.distinct().collect())

        full = build_graph(spark, spark.read.parquet(base, drop), cfg)
        ok = (same(table("entities").select("cluster_id"),
                   full["nodes"].select("cluster_id"))
              and same(table("relationships").select("subj", "pred", "obj"),
                       full["edges"].select("subj", "pred", "obj")))
        spark.catalog.clearCache()
        counts = {
            "ingest.workspace_mb": dir_stats(workspace)[0],
            "ingest.entities_raw_rows": table("entities_raw").count(),
            "ingest.edges_raw_rows": table("edges_raw").count(),
        }
        return counts, ok


WORKLOADS = {w.name: w for w in (BatchBuild, CheckpointResume)}
