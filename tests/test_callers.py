"""Every top-level function and class in the package has a caller: some
reference to its name outside its own ``def``/``class`` line, in the
package, ``tools/``, ``sisbench/``, ``bench.py`` or ``tests/``.  A helper
nothing uses is deleted, not kept as a documented tool.  AST plus a
word-boundary search — no Spark session."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "ago_sisdb_spark"
WORD = re.compile(r"\w+")


def _sources() -> list[Path]:
    files = [ROOT / "bench.py"]
    for d in (PACKAGE, ROOT / "tools", ROOT / "sisbench", ROOT / "tests"):
        files.extend(sorted(d.rglob("*.py")))
    return files


def test_every_top_level_definition_has_a_reference():
    words: Counter = Counter()
    for path in _sources():
        words.update(WORD.findall(path.read_text()))

    defs: dict[str, list[str]] = {}  # name -> where it is defined
    on_def_lines: Counter = Counter()  # name -> mentions on its def lines
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        for node in ast.parse(text).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                where = f"{path.relative_to(ROOT)}:{node.lineno}"
                defs.setdefault(node.name, []).append(where)
                on_def_lines[node.name] += WORD.findall(
                    lines[node.lineno - 1]
                ).count(node.name)

    dead = sorted(
        f"{where} {name}"
        for name, places in defs.items()
        if words[name] <= on_def_lines[name]
        for where in places
    )
    assert not dead, "no reference outside the definition:\n" + "\n".join(dead)
