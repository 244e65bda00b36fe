"""Generate API.md: public surface of ago_sisdb_spark with signatures and
docstring summaries.  Usage: python tools/gen_api_docs.py

API.md is generated, never edited by hand: prose belongs in ``HEADER``
below, and ``tests/test_api_docs.py`` fails when API.md differs from
``render()``."""

from __future__ import annotations

import ast
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PKG = "ago_sisdb_spark"


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    return doc.strip().splitlines()[0].rstrip(".")


def signature(node: ast.FunctionDef) -> str:
    args = []
    a = node.args
    defaults = [None] * (len(a.args) - len(a.defaults)) + list(a.defaults)
    for arg, d in zip(a.args, defaults):
        s = arg.arg
        if d is not None:
            s += "=" + ast.unparse(d)
        args.append(s)
    if a.vararg:
        args.append("*" + a.vararg.arg)
    for kw, d in zip(a.kwonlyargs, a.kw_defaults):
        s = kw.arg
        if d is not None:
            s += "=" + ast.unparse(d)
        args.append(s)
    return f"{node.name}({', '.join(args)})"


ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..")

HEADER = ["# API — ago_sisdb_spark public surface",
           "",
           "Generated by `python tools/gen_api_docs.py`; one line per public"
           " function/class with its docstring summary.",
           "",
           "**Deliberately unbuilt (r7 verdict, SURVEY §3.1):** the"
           " reference's network transport, microservice discovery, and"
           " relay forwarding (`workers/sisdb_server`,"
           " `workers/service_search/service_search.h:18-40`,"
           " `workers/frwdb/frwdb.h`) have NO analogue here by design —"
           " the Spark session, cluster manager, and driver/executor RPC"
           " fill those roles.  Their one piece of analytics semantics,"
           " the key-glob subscription match-set algebra"
           " (`sis_utils.h:60-82`), IS built:"
           " `streaming.pubsub.match_keys` + the `sub_match_set_algebra`"
           " oracle entry.", "",
           "**Concurrency (r12):** the reference serves many clients from"
           " one server process; the Spark analogue is many threads"
           " submitting queries on ONE shared SparkSession.  Configure"
           " `spark.scheduler.mode=FAIR` at session build"
           " (`get_spark(extra_conf={\"spark.scheduler.mode\": \"FAIR\"})`)"
           " and have each client thread set its own pool via"
           " `sparkContext.setLocalProperty(\"spark.scheduler.pool\","
           " name)` — pools are created on first use with default FAIR"
           " weights, and PySpark's pinned-thread mode (default since"
           " 3.2) keeps per-thread local properties isolated.  Pinned by"
           " `tests/test_concurrency.py`: 8 headline queries submitted"
           " concurrently match their serial results exactly."
           "  **Write/read isolation (r13):** writes racing reads (the"
           " reference's set-vs-get/sub workload) use"
           " `streaming.snapshot.SnapshotStore` — a foreachBatch upsert"
           " loop commits each micro-batch as a NEW immutable versioned"
           " parquet directory and atomically publishes a manifest pointer"
           " (`os.replace`), so a concurrent reader sees the table exactly"
           " at a committed micro-batch boundary: before or after a commit,"
           " never mid-commit, and never a version rollback.  Production"
           " target is a commit-log table format (Delta/Iceberg, whose jars"
           " the package does not bundle); the store implements the same"
           " isolation contract with the same mechanism (immutable data +"
           " atomic pointer swap).  Soaked by"
           " `test_reads_race_streaming_upserts_see_only_committed_batches`:"
           " 3 reader threads hammer `read()` while a streaming upsert"
           " commits 6 micro-batches; every observed snapshot passes"
           " torn-read detectors (row-count, group-completeness, shared-key"
           " marker agreement) and versions never go backwards.", ""]


def render() -> str:
    """The full text of API.md, from the package's ASTs (no imports)."""
    out = list(HEADER)
    for dirpath, _, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        for f in sorted(files):
            if not f.endswith(".py") or f == "__init__.py":
                continue
            path = os.path.join(dirpath, f)
            rel = os.path.relpath(path, ROOT)
            tree = ast.parse(open(path).read())
            mod_doc = first_line(ast.get_docstring(tree))
            entries = []
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                    entries.append(
                        f"- `{signature(node)}` — {first_line(ast.get_docstring(node))}"
                    )
                elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                    entries.append(f"- **class `{node.name}`** — {first_line(ast.get_docstring(node))}")
                    for sub in node.body:
                        if isinstance(sub, ast.FunctionDef) and not sub.name.startswith("_"):
                            entries.append(
                                f"  - `.{signature(sub)}` — {first_line(ast.get_docstring(sub))}"
                            )
            if entries:
                out.append(f"## {rel}")
                out.append(f"*{mod_doc}*")
                out.append("")
                out.extend(entries)
                out.append("")
    return "\n".join(out)


def main() -> None:
    text = render()
    with open(os.path.join(ROOT, "API.md"), "w") as fh:
        fh.write(text)
    print(f"API.md: {text.count(chr(10)) + 1} lines")


if __name__ == "__main__":
    main()
