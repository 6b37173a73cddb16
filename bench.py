#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline KG-construction build (the north-rule metric: triples
extracted/sec over synthetic transcripts of the input_hint shape) plus
every ``queries()`` operator at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32), and
prints ONE JSON line::

    {"metric": "kg_triples_per_sec", "value": N, "unit": "triples/sec",
     "queries": {"kg_build": sec, ...}, "sf": 0.1, ...}

``--kg-only`` skips the per-operator sweep (used by scripts/scaling_bench.py
to measure throughput at two parallelism levels on identical input).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
KG_CONVS = int(os.environ.get("SPARK_GRAFT_KG_CONVS", "0"))  # 0 → scale by sf
# best-of reps for the headline build: this host shows random multi-minute
# kernel-stall episodes (BENCH.md §Methodology) that can triple a single
# build's wall; two timed builds make the recorded headline a throughput
# measurement instead of a draw from the interference lottery. Scaling
# legs (--kg-only) keep 1 rep — scripts/scaling_bench.py interleaves and
# best-ofs across its own reps so pairs share ambient conditions.
KG_REPS = int(os.environ.get("SPARK_GRAFT_KG_REPS", "2"))
# Shuffle settings, the best config of the A/B in BENCH.md §Shuffle-config
# A/B: the shuffle codec trades compression CPU against tmpfs bytes (=
# memory-bus traffic, the single-box 4→16 ceiling), the shuffle file
# buffer batches flush syscalls, and the Arrow batch size amortizes
# Python-worker socket round-trips.
IO_CODEC = "lz4"
SHUFFLE_FILE_BUFFER = "32k"
ARROW_BATCH = "2048"
SHUFFLE_PARTS_PER_CORE = 4


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(os.path.normpath(sf_dir))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def build_spark() -> SparkSession:
    # Shuffle/spill dir on tmpfs when available: on a real N-executor
    # cluster every executor brings its own shuffle disks, so aggregate
    # shuffle bandwidth grows with the fleet; a single box has ONE disk
    # shared by every core, which caps shuffle-heavy stages identically at
    # any core count and understates core scaling. tmpfs removes that
    # single-disk artifact for BOTH parallelism levels alike (shuffle data
    # at bench scale is a few GB — far below RAM).
    local_dir = (
        "/dev/shm/spark-graft-local"
        if os.path.isdir("/dev/shm")
        else None
    )
    builder = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("graphrag-rs-spark-bench")
        # 4 initial shuffle partitions per core: AQE coalesces small
        # exchanges back down, while the big ones (the 40M-row edge
        # dedupe) keep per-task group counts inside the hash-agg map
        # threshold and skew smears across more, smaller tasks
        .config("spark.sql.shuffle.partitions", str(CPUS * SHUFFLE_PARTS_PER_CORE))
        .config("spark.default.parallelism", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", ARROW_BATCH)
        .config("spark.io.compression.codec", IO_CODEC)
        .config("spark.shuffle.file.buffer", SHUFFLE_FILE_BUFFER)
        # Shuffle compression OFF by default ONLY when shuffle dirs live
        # on tmpfs (same /dev/shm check as spark.local.dir above): there
        # writes are memory copies and lz4's CPU work buys nothing back —
        # measured 1.22x end-to-end at 16 pinned cores (BENCH.md
        # §Shuffle-config A/B; zstd was 0.83x, i.e. CPU binds, not
        # bytes). When /dev/shm is absent and shuffle falls back to real
        # disk, the byte stream crosses a genuinely slower pipe and
        # compression defaults back ON. SPARK_GRAFT_SHUFFLE_COMPRESS
        # overrides either way.
        .config(
            "spark.shuffle.compress",
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_COMPRESS",
                "false" if local_dir else "true",
            ),
        )
        .config(
            "spark.shuffle.spill.compress",
            os.environ.get(
                "SPARK_GRAFT_SHUFFLE_COMPRESS",
                "false" if local_dir else "true",
            ),
        )
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def bench_kg(spark: SparkSession, sf: float, reps: int = KG_REPS) -> dict:
    """Full build over synthetic transcripts; returns timings + counts."""
    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import ScaledVocab, transcripts_df
    from graphrag_rs_spark.plans.pipeline import build_graph

    # sized so parallel work dominates fixed stage overhead at sf0.1
    n_convs = KG_CONVS or max(200, int(40_000 * sf))

    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        # untimed warm-up build over a tiny fixture: first-use JIT,
        # whole-stage-codegen compilation, the Python-worker pool, and
        # shuffle setup cost ~20-30 s per SESSION regardless of input or
        # core count; a real long-running job pays them once over hours,
        # so leaving them inside the timed window would overstate fixed
        # cost (and understate core-scaling) at bench scale. clearCache
        # drops the warm-up's internal stage caches before the real run.
        warm_vocab = ScaledVocab(n_persons=100, n_orgs=40)
        warm = transcripts_df(
            spark, 200, seed=7, distributed=True, partitions=CPUS,
            vocab=warm_vocab,
        )
        warm_tables = build_graph(
            spark, warm, PipelineConfig(shuffle_partitions=CPUS,
                                        min_shared_blocks=2)
        )
        warm_tables["edges"].count()
        warm_tables["nodes"].count()
        spark.catalog.clearCache()
    # entity vocabulary scales with the corpus (~1 distinct base identity
    # per 2 conversations, Zipf-skewed, 15% planted near-dup spellings) so
    # canonicalization/CC/materialization run at non-toy graph sizes
    vocab = ScaledVocab(n_persons=max(50, n_convs // 2),
                        n_orgs=max(20, n_convs // 5))
    t_gen = time.perf_counter()
    transcripts = transcripts_df(
        spark, n_convs, seed=42, distributed=True, partitions=CPUS * 4,
        vocab=vocab,
    ).cache()
    n_turns = transcripts.count()  # materialize input OUTSIDE the timed window
    gen_s = time.perf_counter() - t_gen

    # min_shared_blocks=2 is the documented large-corpus blocking setting
    # (~2.5x fewer scored pairs for ~0.1% pair recall); the P/R gate and
    # the exact-parity driver fixture run at the full-recall default of 1
    cfg = PipelineConfig(shuffle_partitions=CPUS, min_shared_blocks=2)
    from pyspark.sql import functions as F

    phases = os.environ.get("SPARK_GRAFT_PHASES") == "1"

    def mark(label: str, t: float) -> float:
        t1 = time.perf_counter()
        if phases:
            print(f"phase {label}: {t1 - t:.1f}s", file=sys.stderr, flush=True)
        return t1

    build_walls: list[float] = []
    n_triples_raw = n_edges = n_nodes = 0
    for rep in range(max(1, reps)):
        t0 = time.perf_counter()
        tables = build_graph(spark, transcripts, cfg)
        t = mark(f"rep{rep} build_graph (eager canonicalization)", t0)
        # count triple occurrences as sum(size(triples)) over the cached
        # nested extraction — identical to edges_raw.count() (edges_raw is
        # its explode) without paying a 40M-row explode purely for the
        # metric. NULL arrays (size -1 under legacy sizeOfNull) are clamped
        # to 0 so a null triples row can never silently deflate the metric.
        n_triples_raw = tables["extraction"].agg(
            F.sum(F.greatest(F.coalesce(F.size("triples"), F.lit(0)), F.lit(0)))
        ).collect()[0][0]
        t = mark(f"rep{rep} extraction + triple count", t)
        n_edges = tables["edges"].count()
        t = mark(f"rep{rep} edges materialize + count", t)
        n_nodes = tables["nodes"].count()
        mark(f"rep{rep} nodes count", t)
        build_walls.append(time.perf_counter() - t0)
        if rep + 1 < max(1, reps):
            # drop this rep's internal stage caches (extraction /
            # entities_raw / clusters / edges) so the next rep rebuilds from
            # the cached input, pricing the build — not a cache hit ...
            spark.catalog.clearCache()
            # ... but clearCache also evicted the INPUT; re-materialize it
            # outside the timed window so rep N+1 doesn't pay generation
            transcripts = transcripts.cache()
            transcripts.count()
    transcripts.unpersist()
    build_s = min(build_walls)
    return {
        "n_convs": n_convs,
        "n_turns": n_turns,
        "gen_sec": round(gen_s, 3),
        "kg_build_sec": round(build_s, 3),
        "kg_build_walls": [round(w, 3) for w in build_walls],
        "n_triples_raw": n_triples_raw,
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "triples_per_sec": round(n_triples_raw / build_s, 1),
        "turns_per_sec": round(n_turns / build_s, 1),
    }


SWEEP_REPS = int(os.environ.get("SPARK_GRAFT_SWEEP_REPS", "3"))


def bench_queries(
    spark: SparkSession, reps: int = SWEEP_REPS
) -> tuple[dict[str, float], dict[str, float]]:
    """Per-operator sweep over ``reps`` timed runs per queries() entry,
    with the SQL cache cleared and a JVM GC between entries so one query's
    residue (cached stages, GC pressure) cannot contaminate the next.
    Returns (best, median) per query: best is the least-contaminated
    estimate on this noisy host (interference only ever slows a leg);
    median is the variance band that makes a real regression mechanically
    distinguishable from an unlucky draw — a query whose MEDIAN moved is
    slower, a query whose best moved inside the band is noise.
    In-process memo caches (_KG_MEMO) persist across reps by design — the
    first rep pays any shared pipeline build, so the median is taken over
    the reps AFTER the first when reps >= 3 (the build-paying rep would
    otherwise skew the band); ``reps`` is recorded in the output JSON."""
    import gc
    import statistics

    import __spark_entry__ as entry_mod

    best_out: dict[str, float] = {}
    med_out: dict[str, float] = {}
    for name, fn in entry_mod.queries().items():
        walls: list[float] = []
        failed = False
        for _ in range(max(1, reps)):
            t0 = time.perf_counter()
            try:
                fn(spark, SF_DIR).count()
                walls.append(time.perf_counter() - t0)
            except Exception as e:  # noqa: BLE001
                print(f"bench query {name} failed: {e}", file=sys.stderr)
                failed = True
                break
        if failed or not walls:
            best_out[name] = med_out[name] = -1.0
        else:
            best_out[name] = round(min(walls), 3)
            steady = walls[1:] if len(walls) >= 3 else walls
            med_out[name] = round(statistics.median(steady), 3)
        spark.catalog.clearCache()
        gc.collect()
        try:
            spark.sparkContext._jvm.System.gc()  # noqa: SLF001
        except Exception:  # noqa: BLE001
            pass
    return best_out, med_out


def _bench_settings(kg_only: bool) -> dict:
    """Harness knobs that change what the numbers mean — emitted so
    round-over-round and cross-machine comparisons are interpretable."""
    return {
        "warmup_build": os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1",
        "spark_local_dir": (
            "/dev/shm/spark-graft-local" if os.path.isdir("/dev/shm") else "default"
        ),
        "shuffle_partitions": CPUS * SHUFFLE_PARTS_PER_CORE,
        "io_codec": IO_CODEC,
        "shuffle_file_buffer": SHUFFLE_FILE_BUFFER,
        "arrow_batch": ARROW_BATCH,
        "shuffle_compress": os.environ.get(
            "SPARK_GRAFT_SHUFFLE_COMPRESS",
            "false" if os.path.isdir("/dev/shm") else "true",
        ),
        "min_shared_blocks": 2,
        "sweep_isolation": "kg-only" if kg_only else "fresh subprocess session",
        "sweep_reps": SWEEP_REPS,
        "sweep_agg": "min (queries) + median-of-steady-reps (queries_median)",
        "kg_build_reps": (
            1 if (kg_only and "SPARK_GRAFT_KG_REPS" not in os.environ)
            else KG_REPS
        ),
        "kg_build_agg": "min",
    }


def main() -> None:
    kg_only = "--kg-only" in sys.argv
    queries_only = "--queries-only" in sys.argv
    sf = _sf_of(SF_DIR)

    if queries_only:
        # sweep-only mode (run by the full bench in a FRESH process so the
        # heavy kg_build's session residue — cached stages, GC state, JIT
        # deopt — cannot contaminate per-operator timings)
        spark = build_spark()
        best, med = bench_queries(spark)
        print(json.dumps({"queries": best, "queries_median": med}))
        spark.stop()
        return

    spark = build_spark()
    # scaling legs (--kg-only) run ONE timed build unless the env overrides:
    # scripts/scaling_bench.py interleaves its own reps so the two
    # parallelism levels of a rep share ambient host conditions
    reps = 1 if (kg_only and "SPARK_GRAFT_KG_REPS" not in os.environ) else KG_REPS
    kg = bench_kg(spark, sf, reps=reps)
    queries: dict[str, float] = {"kg_build": kg["kg_build_sec"]}
    import statistics

    queries_median: dict[str, float] = {
        "kg_build": round(statistics.median(kg["kg_build_walls"]), 3)
    }
    spark.stop()

    if not kg_only:
        import subprocess

        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--queries-only"],
            capture_output=True,
            text=True,
            check=False,
        )
        line = (proc.stdout.strip().splitlines() or ["{}"])[-1]
        try:
            payload = json.loads(line)
            queries.update(payload.get("queries", {}))
            queries_median.update(payload.get("queries_median", {}))
        except json.JSONDecodeError:
            print(f"queries-only subprocess failed: {proc.stderr[-2000:]}",
                  file=sys.stderr)

    result = {
        "metric": "kg_triples_per_sec",
        "value": kg["triples_per_sec"],
        "unit": "triples/sec",
        "queries": queries,
        "queries_median": queries_median,
        "sf": sf,
        "cpus": CPUS,
        "kg": kg,
        "settings": _bench_settings(kg_only),
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
