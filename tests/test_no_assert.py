"""Invariants in program code must raise real exceptions: ``python -O``
strips ``assert`` statements, so an ``assert`` under ``worker_spark/``
is a check that silently disappears in optimized runs."""

from __future__ import annotations

import ast
import os

_PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "worker_spark")


def test_worker_spark_has_no_assert_statements():
    found = []
    for dirpath, _dirs, files in os.walk(_PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            found += [
                f"{os.path.relpath(path, _PKG)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Assert)
            ]
    assert not found, f"assert statements under worker_spark/: {found}"
