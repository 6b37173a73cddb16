"""Diagnostics call the package's public API, never its private helpers,
and run the pipeline instead of composing its build stages.

A script that imports ``_``-prefixed names from ``graphrag_rs_spark``, or
chains the stage operators of pair scoring, linking and materialization
itself, re-implements part of the pipeline and drifts from the real
build; the layer profile lives in ``scripts/profile_stages.py`` over the
benchmark's tracer instead. AST only, no Spark.
"""

from __future__ import annotations

import ast
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the operators ``build_graph`` composes into stages B–F
STAGE_OPERATORS = frozenset({
    "candidate_pairs", "canonicalize_entities", "nodes_table",
    "edges_table", "node_stats_table", "materialize_graph",
})


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


def stage_operator_uses(path: str) -> list[str]:
    """Every name of ``STAGE_OPERATORS`` the file at ``path`` imports or
    reads as an attribute (``materialize.edges_table``)."""
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    names = [
        alias.name
        for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
        for alias in node.names
    ] + [node.attr for node in ast.walk(tree) if isinstance(node, ast.Attribute)]
    return sorted(n for n in names if n in STAGE_OPERATORS)


def _scripts() -> list[str]:
    return sorted(
        glob.glob(os.path.join(REPO, "scripts", "*.py"))
        + [os.path.join(REPO, "bench.py")]
    )


def test_diagnostics_import_no_private_package_names():
    paths = _scripts() + sorted(
        glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    found = {os.path.relpath(p, REPO): private_imports(p) for p in paths}
    assert {p: names for p, names in found.items() if names} == {}


def test_diagnostics_compose_no_build_stage():
    found = {os.path.relpath(p, REPO): stage_operator_uses(p) for p in _scripts()}
    assert {p: names for p, names in found.items() if names} == {}


def test_stage_operator_detector_sees_imports_and_attributes(tmp_path):
    script = tmp_path / "diag.py"
    script.write_text(
        "from graphrag_rs_spark.operators import materialize\n"
        "from graphrag_rs_spark.operators.canonicalize import (\n"
        "    candidate_pairs as pairs, score_pairs)\n"
        "def main(e, c, n):\n"
        "    return materialize.edges_table(e, c, n), pairs\n"
    )
    assert stage_operator_uses(str(script)) == [
        "candidate_pairs", "edges_table"]


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
