"""Skewed-fixture stress (SURVEY §7.4 hard part 3, VERDICT r4 item 5).

Runs the full KG build over an EXTREME-skew fixture — every 2500th
conversation is a 1,150-turn giant (100× the ~11.5-turn median) and one
hub entity carries ~10% of all mentions (`ScaledVocab(hub_rate=0.1)`) —
with Spark's event log on, then reads REAL per-task executor run times
for every completed stage of the build from the log and pins the
straggler ratio max/median. The build runs in the job group ``build``;
the fixture's own caching ``count()`` before it is not judged.

A stage "fails" only when it is both skewed AND material:
ratio >= RATIO_MAX and max task >= MATERIAL_MS (sub-material stages with
2-3 tasks produce meaningless ratios; a 50 ms median vs 300 ms max
straggler costs nothing at any scale). The replay-bucket stage is
expected to carry the giant component's bucket as its longest task —
bounded by the O(E+V) scan-order walk, not the component's square.

    N_CONVS=2000 python scripts/diag_skew_stress.py

Prints a per-stage table and ONE JSON verdict line.
"""

from __future__ import annotations

import atexit
import glob
import json
import os
import shutil
import sys
import tempfile
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

N = int(os.environ.get("N_CONVS", "2000"))
CPUS = 8
RATIO_MAX = 4.0
MATERIAL_MS = 5000.0


def stage_run_times(event_log: str) -> dict[tuple[int, int], tuple[str, list]]:
    """``{(stage, attempt): (name, sorted executor run times in ms)}`` over
    the successful tasks of every stage attempt that completed in a job of
    the ``build`` job group."""
    names: dict[tuple[int, int], str] = {}
    runs: dict[tuple[int, int], list] = defaultdict(list)
    build_stages: set[int] = set()
    with open(event_log) as fh:
        for line in fh:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                if ev.get("Properties", {}).get("spark.jobGroup.id") == "build":
                    build_stages.update(ev["Stage IDs"])
            elif ev["Event"] == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" not in info:
                    names[info["Stage ID"], info["Stage Attempt ID"]] = (
                        info["Stage Name"])
            elif (ev["Event"] == "SparkListenerTaskEnd"
                  and ev["Task End Reason"]["Reason"] == "Success"):
                runs[ev["Stage ID"], ev["Stage Attempt ID"]].append(
                    ev["Task Metrics"]["Executor Run Time"])
    return {key: (name, sorted(runs[key])) for key, name in names.items()
            if key[0] in build_stages}


def quantile(sorted_ms: list, q: float) -> float:
    """The status API's task-summary index rule."""
    n = len(sorted_ms)
    return float(sorted_ms[min(int(q * n), n - 1)])


def main() -> None:
    # half the memory still free: a JVM grows toward its maximum heap
    # before it collects, and may share the host with another JVM
    with open("/proc/meminfo") as fh:
        heap_mb = int(next(ln for ln in fh if ln.startswith("MemAvailable"))
                      .split()[1]) // 2048
    events = tempfile.mkdtemp(prefix="skew-stress-events-")
    atexit.register(shutil.rmtree, events, True)
    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("diag-skew-stress")
        .config("spark.local.dir", "/dev/shm/spark-graft-local")
        .config("spark.sql.shuffle.partitions", str(CPUS * 4))
        .config("spark.default.parallelism", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # uncompressed and in one file, so plain Python can read it
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", events)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from graphrag_rs_spark.config import PipelineConfig
    from graphrag_rs_spark.fixtures import ScaledVocab, transcripts_df
    from graphrag_rs_spark.plans.pipeline import build_graph

    vocab = ScaledVocab(
        n_persons=max(50, N // 2), n_orgs=max(20, N // 5), hub_rate=0.1
    )
    transcripts = transcripts_df(
        spark, N, seed=42, distributed=True, partitions=CPUS * 4,
        vocab=vocab, extreme_skew=True,
    ).cache()
    n_turns = transcripts.count()
    spark.sparkContext.setJobGroup("build", "build")

    cfg = PipelineConfig(shuffle_partitions=CPUS, min_shared_blocks=2)
    t0 = time.perf_counter()
    tables = build_graph(spark, transcripts, cfg)
    n_edges = tables["edges"].count()
    n_nodes = tables["nodes"].count()
    wall = time.perf_counter() - t0
    print(
        f"skewed build: {N} convs / {n_turns} turns -> "
        f"{n_edges} edges / {n_nodes} nodes in {wall:.1f}s",
        file=sys.stderr,
    )

    spark.stop()
    (log,) = glob.glob(os.path.join(events, "*"))
    stages = stage_run_times(log)
    rows = []
    worst = (0.0, None)
    failures = []
    for (sid, _), (name, run_ms) in sorted(stages.items()):
        n_tasks = len(run_ms)
        if n_tasks < 2:
            continue
        med, hi = quantile(run_ms, 0.5), quantile(run_ms, 1.0)
        # med == 0 with a real max IS maximally skewed; use a large FINITE
        # sentinel so the verdict line stays strict JSON (inf -> Infinity
        # is not parseable by non-Python consumers)
        ratio = (hi / med) if med > 0 else (0.0 if hi == 0 else 1e9)
        material = hi >= MATERIAL_MS
        rows.append((sid, name.split(" ")[0], n_tasks, med, hi, ratio,
                     material))
        if material and ratio > worst[0]:
            worst = (ratio, sid)
        if material and ratio >= RATIO_MAX:
            failures.append(
                {"stage": sid, "name": name.split(" ")[0],
                 "tasks": n_tasks, "median_ms": med, "max_ms": hi,
                 "ratio": round(ratio, 2)}
            )

    print("\n| stage | op | tasks | median ms | max ms | max/med | material |",
          file=sys.stderr)
    print("|---|---|---|---|---|---|---|", file=sys.stderr)
    for sid, name, n_tasks, med, hi, ratio, material in sorted(
        rows, key=lambda r: -r[4]
    )[:25]:
        print(
            f"| {sid} | {name} | {n_tasks} | {med:.0f} | {hi:.0f} "
            f"| {ratio:.2f} | {'Y' if material else '-'} |",
            file=sys.stderr,
        )

    verdict = {
        "n_convs": N,
        "n_turns": n_turns,
        "cpus": CPUS,
        "build_sec": round(wall, 1),
        "n_edges": n_edges,
        "n_nodes": n_nodes,
        "stages_checked": len(rows),
        "material_worst_ratio": round(worst[0], 2),
        "material_worst_stage": worst[1],
        "ratio_max": RATIO_MAX,
        "material_ms": MATERIAL_MS,
        "failures": failures,
        "pass": not failures,
    }
    print(json.dumps(verdict))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
