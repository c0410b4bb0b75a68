"""The full-suite tier list (tests/slow_tier.txt) must name real tests:
a stale nodeid — a renamed or deleted test — silently stops skipping
anything, and the default tier's budget grows unnoticed. Checked by
parsing each named file's syntax tree, without pytest collection."""

from __future__ import annotations

import ast
import os

from tests.conftest import _SLOW_TIER_FILE, _slow_nodeids

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_slow_tier_nodeids_name_existing_tests():
    defined: dict[str, set[str]] = {}
    stale = []
    for nodeid in sorted(_slow_nodeids()):
        path, *names = nodeid.split("[", 1)[0].split("::")
        if path not in defined:
            full = os.path.join(REPO, path)
            if not os.path.isfile(full):
                stale.append(nodeid)
                continue
            with open(full) as f:
                tree = ast.parse(f.read(), filename=full)
            defined[path] = {
                n.name
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.ClassDef))
            }
        if not names or not set(names) <= defined[path]:
            stale.append(nodeid)
    assert not stale, f"stale nodeids in {_SLOW_TIER_FILE}: {stale}"
