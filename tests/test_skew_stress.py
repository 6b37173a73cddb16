"""Skewed-fixture stress (SURVEY §7.4 hard part 3): the full build over an
EXTREME-skew input — a 100×-median giant conversation and a hub entity
carrying ~10% of all mentions — must keep real per-task executorRunTime
max/median below the straggler bound on every material stage.

Runs ``scripts/diag_skew_stress.py`` in a SUBPROCESS: the stress needs its
own SparkSession with the event log on (the shared test session has it
off), and task-time distributions only exist per-application.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.slow
def test_skewed_build_has_no_material_stragglers():
    env = dict(os.environ, N_CONVS="1500")
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "diag_skew_stress.py")],
        env=env,
        capture_output=True,
        text=True,
        timeout=1200,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, (
        f"no verdict JSON (rc={proc.returncode}); stderr tail:\n"
        + "\n".join(proc.stderr.splitlines()[-15:])
    )
    verdict = json.loads(lines[-1])
    # the skewed input actually built a real graph
    assert verdict["n_edges"] > 1000
    assert verdict["stages_checked"] > 10
    # no stage is both material (max task >= 5s) and skewed (max/med >= 4)
    assert verdict["pass"], (
        "straggler stages under extreme skew: "
        + json.dumps(verdict["failures"], indent=1)
        + "\n(partition spreading / salting needs attention where listed)"
    )
