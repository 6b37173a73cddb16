#!/usr/bin/env python3
"""Benchmark for graphrag_rs_spark's knowledge-graph build.

Run from the repository root::

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 10 --trace 0

``--trace 0`` times the workload's operations with Spark's event log off
and prints the end-to-end metrics; ``--trace 1`` runs one traced pass with
the event log on and prints the per-layer metrics (spans that the
workload does not exercise read 0). The last line of standard output is
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the seed and every setting. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
HEAP_CAP_MB = 2048

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "triples_per_s": "triples/s"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "toy"), default="full",
                   help="corpus sizes; toy is for perfbench/selftest.py")
    return p.parse_args(argv)


def heap_mb() -> int:
    """A fifth of the host's RAM for the driver JVM, capped."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(ln for ln in fh if ln.startswith("MemTotal"))
                       .split()[1])
    return max(1024, min(HEAP_CAP_MB, total_kb // 1024 // 5))


def start_session(cores: int, heap: int, trace: bool):
    """``local[cores]`` whose scratch, temp, warehouse and event-log paths
    all sit under the benchmark's work directory."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "local")
    for d in (tmp, local):
        os.makedirs(d)
    # Python workers import the package from the checkout; Spark honours
    # SPARK_LOCAL_DIRS over spark.local.dir, so pin both
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("graphrag-rs-spark-perfbench")
        .config("spark.driver.memory", f"{heap}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", str(trace).lower())
    )
    if trace:
        events = os.path.join(WORK, "events")
        os.makedirs(events)
        # the default zstd codec is unreadable from plain Python, and a
        # rolling log splits the file
        builder = (builder.config("spark.eventLog.dir", events)
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.rolling.enabled", "false"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit
    (the gateway exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None  # noqa: SLF001


def peak_rss_mb(spark) -> float:
    """The driver JVM's high-water resident set (``VmHWM``)."""
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def expected_digests(seed: int, n_convs: int) -> dict | None:
    """Output digests recorded for this seed and corpus size, if any."""
    with open(os.path.join(HERE, "expected.json")) as fh:
        recorded = json.load(fh)["digests"]
    return recorded.get(f"seed{seed}_convs{n_convs}")


def measure(wl, seconds: float) -> tuple[list[float], list[int], int]:
    """Closed loop: operations back to back until ``seconds`` have passed,
    at least one. Returns walls, triples and the failed count."""
    walls: list[float] = []
    triples: list[int] = []
    failed = 0
    t_end = time.perf_counter() + seconds
    while not walls or time.perf_counter() < t_end:
        wall, n, ok = wl.op()
        walls.append(wall)
        triples.append(n)
        failed += not ok
    return walls, triples, failed


def traced_metrics(wl, spark, spans) -> tuple[dict, bool]:
    from eventlog import SPAN_UNITS, span_metrics
    from workloads import COUNTS, SPANS

    counts, ok = wl.trace(spans)
    # the JVM's high-water RSS spreads about 30% over seeds in the
    # untraced runs, too wide to bound; it is a per-layer reading
    counts["driver.peak_rss_mb"] = peak_rss_mb(spark)
    spark.stop()
    (log,) = glob.glob(os.path.join(WORK, "events", "*"))
    per_span = span_metrics(log, spans.intervals)
    metrics = {}
    for span in (s for group in SPANS.values() for s in group):
        values = per_span.get(span, {})
        for m, unit in SPAN_UNITS.items():
            metrics[f"{span}.{m}"] = {"value": values.get(m, 0), "unit": unit}
    for name, unit in {**COUNTS, "driver.peak_rss_mb": "MB"}.items():
        metrics[name] = {"value": counts.get(name, 0), "unit": unit}
    # every span this workload ran must show Spark work
    ok = ok and all(per_span[s]["jobs"] > 0 and per_span[s]["task_s"] > 0
                    for s in SPANS[wl.name])
    return metrics, ok


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark
        from eventlog import Spans
        from workloads import SIZES, WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the package under test: {exc}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # local[nproc] pinned to the cores this process may use (taskset)
    cpus = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cpus)
    cores = len(cpus)
    heap = heap_mb()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    sizes = SIZES[args.scale]
    settings = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "scale": args.scale,
        "sizes_convs": sizes, "master": f"local[{cores}]", "cpus": cpus,
        "driver_heap_mb": heap, "shuffle_partitions": cores,
        "min_shared_blocks": 2, "event_log": bool(args.trace),
        "work_dir": os.path.relpath(WORK, ROOT),
        "spark": pyspark.__version__,
    }

    spark = start_session(cores, heap, bool(args.trace))
    try:
        cls = WORKLOADS[args.workload]
        wl = cls(spark, WORK, args.seed, sizes,
                 expected_digests(args.seed, sizes["corpus"]))
        spans = Spans(spark) if args.trace else None
        wl.setup(spans)
        setup_s = time.perf_counter() - t_start
        if args.trace:
            metrics, correct = traced_metrics(wl, spark, spans)
            attempted, failed = 1, int(not correct)
        else:
            walls, triples, failed = measure(wl, args.seconds)
            attempted = len(walls)
            op_p50 = statistics.median(walls)
            values = {
                "setup_s": setup_s,
                "op_p50_s": op_p50,
                "triples_per_s": statistics.median(triples) / op_p50,
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]}
                       for k, v in values.items()}
            settings["op_walls_s"] = walls
            settings["op_triples"] = triples
        settings["digests"] = wl.reference
    finally:
        stop_jvm(spark)
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"settings": settings}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
