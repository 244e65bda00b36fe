"""Install (or re-install) the repo's git hooks.

`.git/hooks/` is not tracked by git, so the pre-commit smoke hook written
in round 8 silently disappears whenever the working copy is re-cloned or
its `.git` dir reset — exactly the failure class the hook exists to stop
(the r7 untested-snapshot NameError).  This installer is tracked;
run_all and the tier-1 suite self-heal the hook: `tools/run_all.py` calls
:func:`ensure_hooks` on every run, and so does
`tests/test_smoke_tool.py::test_pre_commit_hook_installed`, so the first
validate or pytest run after any reset reinstalls it.

The hook runs ``tools/smoke_compile.py`` (import every package module +
Catalyst-analyze every registry plan, no execution) whenever staged
changes touch package/tool ``.py`` files; doc-only commits skip it.
"""

from __future__ import annotations

import os
import stat

HOOK_BODY = """#!/bin/sh
# auto-installed by tools/install_hooks.py (tracked) — edits here are lost
# on reinstall.  Runs the import+plan-analysis smoke when staged changes
# touch package/tool .py files; doc-only commits skip it.
changed=$(git diff --cached --name-only | grep -E '^(ago_sisdb_spark|tools|__spark_entry__).*\\.py$' || true)
if [ -z "$changed" ]; then
    exit 0
fi
cd "$(git rev-parse --show-toplevel)" || exit 1
exec python tools/smoke_compile.py
"""


def ensure_hooks(repo_root: str | None = None) -> bool:
    """Write the pre-commit hook if missing or stale; returns True if it
    (re)installed anything."""
    root = repo_root or os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    hooks_dir = os.path.join(root, ".git", "hooks")
    if not os.path.isdir(hooks_dir):  # not a git checkout (e.g. sdist)
        return False
    path = os.path.join(hooks_dir, "pre-commit")
    current = None
    if os.path.isfile(path):
        with open(path) as f:
            current = f.read()
    if current == HOOK_BODY and os.access(path, os.X_OK):
        return False
    with open(path, "w") as f:
        f.write(HOOK_BODY)
    os.chmod(path, os.stat(path).st_mode | stat.S_IXUSR | stat.S_IXGRP | stat.S_IXOTH)
    return True


if __name__ == "__main__":
    print("installed" if ensure_hooks() else "already current")
