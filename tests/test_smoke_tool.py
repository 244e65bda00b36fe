"""The pre-commit smoke (tools/smoke_compile.py) must actually catch the
r7 failure class: a module that raises at import, and an entry whose plan
fails analysis.  These tests prove the tool rejects deliberately-broken
inputs — without them the hook is just a ritual (r7 verdict item #2)."""

from __future__ import annotations

import os
import sys
import textwrap

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import smoke_compile  # noqa: E402

import ago_sisdb_spark  # noqa: E402


def test_import_all_clean_package_passes():
    assert smoke_compile.import_all() == []


def test_import_all_catches_broken_module(tmp_path):
    """A module calling an unimported name at import time must be reported
    (the exact r7 incident shape, minus the call-time indirection)."""
    broken = tmp_path / "deliberately_broken_r7_probe.py"
    broken.write_text(
        textwrap.dedent(
            """
            _ = materialize  # NameError: name used without import
            """
        )
    )
    ago_sisdb_spark.__path__.append(str(tmp_path))
    try:
        failures = smoke_compile.import_all()
    finally:
        ago_sisdb_spark.__path__.remove(str(tmp_path))
        sys.modules.pop(
            "ago_sisdb_spark.deliberately_broken_r7_probe", None
        )
    assert any(
        "deliberately_broken_r7_probe" in f and "NameError" in f
        for f in failures
    ), failures


def test_analyze_all_catches_broken_entry(spark, monkeypatch):
    """An entry whose builder raises (call-time NameError — the actual r7
    shape) must be reported by analyze_all."""

    def broken_entry(spark, sf_dir):
        raise NameError("name 'materialize' is not defined")

    def good_entry(spark, sf_dir):
        return spark.range(1)

    monkeypatch.setattr(
        smoke_compile,
        "analyze_all",
        smoke_compile.analyze_all,
    )
    import ago_sisdb_spark.inventory as inv

    monkeypatch.setattr(
        inv, "all_queries", lambda: {"broken_probe": broken_entry}
    )
    monkeypatch.setattr(
        inv, "extended_queries", lambda: {"good_probe": good_entry}
    )
    failures = smoke_compile.analyze_all(spark)
    assert len(failures) == 1 and "broken_probe" in failures[0], failures


_HOOKS_DIR = os.path.join(os.path.dirname(__file__), "..", ".git", "hooks")


@pytest.mark.skipif(
    not os.path.isdir(_HOOKS_DIR),
    reason="no .git/hooks directory (sdist or git worktree): "
    "ensure_hooks has nowhere to install",
)
def test_pre_commit_hook_installed():
    """Run the tracked installer with its default root, as tools/run_all.py
    does before its stages, then check the live hook of this checkout.
    `.git/hooks/` is untracked, so a fresh clone has no hook until then."""
    from install_hooks import ensure_hooks

    ensure_hooks()
    hook = os.path.join(_HOOKS_DIR, "pre-commit")
    assert os.path.isfile(hook) and os.access(hook, os.X_OK)
    with open(hook) as f:
        assert "smoke_compile" in f.read()


def test_install_hooks_self_heals(tmp_path):
    """ensure_hooks must (re)create the pre-commit hook in a fresh .git
    dir, be idempotent, and overwrite a stale/foreign hook body — the
    hook is untracked and vanished on the round-8→9 reset, so the
    installer is what makes the guarantee durable."""
    import subprocess
    import sys as _sys

    _sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    from install_hooks import ensure_hooks

    repo = tmp_path / "r"
    repo.mkdir()
    subprocess.run(["git", "init", "-q", str(repo)], check=True)
    assert ensure_hooks(str(repo)) is True
    hook = repo / ".git" / "hooks" / "pre-commit"
    assert hook.is_file() and os.access(hook, os.X_OK)
    assert "smoke_compile" in hook.read_text()
    assert ensure_hooks(str(repo)) is False  # idempotent
    hook.write_text("#!/bin/sh\nexit 0\n")
    assert ensure_hooks(str(repo)) is True  # stale body replaced
    assert "smoke_compile" in hook.read_text()
