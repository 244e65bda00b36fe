"""API.md is generated: it must equal ``tools/gen_api_docs.py``'s output,
so a signature or docstring change lands there by regeneration
(``python tools/gen_api_docs.py``), never by hand.  AST only — no Spark
session."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import gen_api_docs  # noqa: E402


def test_api_md_matches_the_generator():
    with open(os.path.join(gen_api_docs.ROOT, "API.md")) as fh:
        on_disk = fh.read()
    assert on_disk == gen_api_docs.render(), (
        "API.md is stale: run python tools/gen_api_docs.py"
    )
