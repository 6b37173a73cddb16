"""Diagnostics call the package's public API, never its private helpers.

A script that imports ``_``-prefixed names from ``graphrag_rs_spark``
re-implements part of the pipeline and drifts from the real build; the
layer profile lives in ``scripts/profile_stages.py`` over the benchmark's
tracer instead. AST only, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def private_imports(path: str) -> list[str]:
    """``module:name`` for every ``_``-prefixed name imported from a
    ``graphrag_rs_spark`` module in the file at ``path``."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    return [
        f"{node.module}:{alias.name}"
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 0
        and (node.module or "").split(".")[0] == "graphrag_rs_spark"
        for alias in node.names
        if alias.name.startswith("_")
    ]


def test_diagnostics_import_no_private_package_names():
    paths = sorted(
        glob.glob(os.path.join(REPO, "scripts", "*.py"))
        + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
        + [os.path.join(REPO, "bench.py")]
    )
    found = {os.path.relpath(p, REPO): private_imports(p) for p in paths}
    assert {p: names for p, names in found.items() if names} == {}


def test_private_import_detector_sees_function_level_imports(tmp_path):
    script = tmp_path / "diag.py"
    script.write_text(
        "def main():\n"
        "    from graphrag_rs_spark.operators.graph import (\n"
        "        _local_cc, connected_components)\n"
        "    from graphrag_rs_spark.rules import normalize as _n\n"
        "    from pandas import _libs\n"
    )
    assert private_imports(str(script)) == [
        "graphrag_rs_spark.operators.graph:_local_cc"]
