"""Per-layer profile of one knowledge-graph build at any corpus size:
the benchmark's traced ``batch_build`` pass (``perfbench/``), one whole
``build_graph`` then layers A-F, each forced and cached in its own span.
Spark runs ``local[n]`` on the CPUs this process may use:

    N_CONVS=60 taskset -c 0-7 python scripts/profile_stages.py

Prints one row per span on stderr and one JSON line on stdout. Exits 1
when the outputs fail the benchmark's checks (at 400 conversations these
include the digests recorded in ``perfbench/expected.json``).
"""

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

import eventlog  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

N = int(os.environ.get("N_CONVS", "400"))
SEED = 1


def main() -> int:
    cores = len(os.sched_getaffinity(0))
    # half the memory still free: a JVM grows toward its maximum heap
    # before it collects, and may share the host with another JVM
    with open("/proc/meminfo") as fh:
        heap = int(next(ln for ln in fh if ln.startswith("MemAvailable"))
                   .split()[1]) // 2048
    # a fresh directory: never perfbench/_work, which a running benchmark owns
    run.WORK = tempfile.mkdtemp(prefix="profile-stages-")
    try:
        spark = run.start_session(cores, heap, True)
        try:
            wl = workloads.BatchBuild(spark, run.WORK, SEED, {"corpus": N},
                                      run.expected_digests(SEED, N))
            spans = eventlog.Spans(spark)
            wl.setup(spans)
            metrics, ok = run.traced_metrics(wl, spark, spans)
        finally:
            run.stop_jvm(spark)
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    values = {name: m["value"] for name, m in metrics.items()}
    print(f"{'span':24}" + "".join(f"{m:>18}" for m in eventlog.SPAN_UNITS),
          file=sys.stderr)
    for span in workloads.SPANS["batch_build"]:
        print(f"{span:24}" + "".join(f"{values[span + '.' + m]:>18.6g}"
                                     for m in eventlog.SPAN_UNITS),
              file=sys.stderr)
    print(json.dumps({"convs": N, "cores": cores, "ok": ok,
                      "metrics": values}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
