"""The landed table layout has one writer: ``partitionBy("dt")`` is called
once in the package, in ``streaming/write.py`` (``write_partitioned``),
and nothing under ``sources/`` or ``plans/`` swaps a table directory with
``shutil.rmtree`` / ``os.rename``.  AST only — no Spark session."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ago_sisdb_spark"


def _calls(path: Path):
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            yield node


def test_partition_by_dt_is_called_once_in_the_writer():
    sites = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for node in _calls(path)
        if node.func.attr == "partitionBy"
        and [getattr(a, "value", None) for a in node.args] == ["dt"]
    ]
    assert len(sites) == 1 and sites[0].startswith("streaming/write.py:"), sites


def test_no_directory_swap_under_sources_or_plans():
    swaps = [
        f"{path.relative_to(PACKAGE)}:{node.lineno}"
        for sub in ("sources", "plans")
        for path in sorted((PACKAGE / sub).rglob("*.py"))
        for node in _calls(path)
        if isinstance(node.func.value, ast.Name)
        and (node.func.value.id, node.func.attr) in {("shutil", "rmtree"), ("os", "rename")}
    ]
    assert swaps == [], swaps
