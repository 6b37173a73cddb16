#!/usr/bin/env python3
"""Self-test of the benchmark at toy size (about four minutes on 4 cores).

Run from the repository root::

    python3 perfbench/selftest.py

For every workload, an untraced and a traced run at ``--scale toy`` must
exit 0 and end in a result line with exactly the contract's keys, no
failed operation, and every metric that BENCHMARK.json names, with its
unit. In the traced run, every span the workload exercises must have at
least one Spark job and nonzero task time attributed from the event log.
Last, a copy of the benchmark without the package beside it must exit
non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    env = {**os.environ, "PYTHONPATH": ""}
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def check_run(workload: str, trace: int, spec: dict) -> list[str]:
    proc = run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
               "--trace", str(trace), "--scale", "toy")
    where = f"{workload} --trace {trace}"
    if proc.returncode != 0:
        return [f"{where}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    errors = []
    if set(result) != RESULT_KEYS:
        errors.append(f"{where}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        errors.append(f"{where}: correct={result['correct']} "
                      f"failed={result['failed']}/{result['attempted']}")
    wanted = spec["per_layer" if trace else "end_to_end"]
    metrics = result["metrics"]
    for m in wanted:
        got = metrics.get(m["name"])
        if got is None or got.get("unit") != m["unit"]:
            errors.append(f"{where}: metric {m['name']} is {got}")
    if set(metrics) != {m["name"] for m in wanted}:
        errors.append(f"{where}: unexpected metrics "
                      f"{sorted(set(metrics) - {m['name'] for m in wanted})}")
    if trace:
        sys.path[:0] = [HERE, ROOT]
        from workloads import SPANS

        for span in SPANS[workload]:
            jobs = metrics[f"{span}.jobs"]["value"]
            task_s = metrics[f"{span}.task_s"]["value"]
            if jobs < 1 or task_s <= 0:
                errors.append(f"{where}: span {span} has {jobs} jobs, "
                              f"{task_s} task seconds")
    else:
        for name, m in metrics.items():
            if not m["value"] > 0:
                errors.append(f"{where}: {name} = {m['value']}")
    return errors


def check_bare_copy() -> list[str]:
    """Without the package the benchmark must fail, printing no result."""
    bare = os.path.join(HERE, "_selftest")
    shutil.rmtree(bare, ignore_errors=True)
    try:
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_*", "__pycache__"))
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        proc = run(bare, "--workload", "batch_build", "--seed", "1",
                   "--seconds", "1", "--trace", "0")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"correct"' in proc.stdout:
        return [f"bare copy: exit {proc.returncode}, stdout {proc.stdout!r}"]
    return []


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    errors = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            errors += check_run(w["name"], trace, spec)
    errors += check_bare_copy()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
