"""``scripts/profile_stages.py`` profiles a small build end to end: every
layer span of the benchmark's ``batch_build`` trace shows Spark work, the
outputs pass the benchmark's checks, and the run leaves no work directory
behind, never touching ``perfbench/_work``.

Runs the script in a SUBPROCESS: it starts its own JVM with the event log
on, which the shared test session does not have. The subprocess inherits
this process's CPU affinity.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPANS = (
    "assembly", "chunking", "extraction", "extraction.rollup",
    "canonicalize.pairs", "graph.cc", "canonicalize",
    "materialize.nodes", "materialize.edges", "materialize.node_stats",
    "pipeline",
)


@pytest.mark.slow
def test_profile_stages_reports_every_layer(tmp_path):
    bench_work = os.path.join(REPO, "perfbench", "_work")
    had_bench_work = os.path.exists(bench_work)
    env = dict(os.environ, N_CONVS="12", TMPDIR=str(tmp_path))
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "profile_stages.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, (
        f"rc={proc.returncode}; stderr tail:\n"
        + "\n".join(proc.stderr.splitlines()[-15:])
    )
    report = json.loads(proc.stdout.splitlines()[-1])
    assert report["ok"] is True
    assert report["convs"] == 12
    assert report["cores"] == len(os.sched_getaffinity(0))
    metrics = report["metrics"]
    for span in SPANS:
        assert metrics[f"{span}.jobs"] > 0, span
        assert metrics[f"{span}.task_s"] > 0, span
    # the work directory came from mkdtemp under TMPDIR and is gone
    assert os.listdir(tmp_path) == []
    assert os.path.exists(bench_work) == had_bench_work
