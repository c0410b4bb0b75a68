"""Maintained structures build no empty frame through
``spark.createDataFrame([], ...)``: that frame is a Python RDD, so every
plan that reads it starts Python-worker tasks. ``store.read`` of a
missing table and ``bucketed_state.local_frame`` are JVM-local empties."""

from __future__ import annotations

import ast
import os

_STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "worker_spark", "streaming"
)


def _is_empty_list(node: ast.AST) -> bool:
    return isinstance(node, ast.List) and not node.elts


def test_streaming_has_no_empty_create_dataframe():
    found = []
    for name in sorted(os.listdir(_STREAMING)):
        if not name.endswith(".py"):
            continue
        path = os.path.join(_STREAMING, name)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        found += [
            f"{name}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
            and (
                any(_is_empty_list(a) for a in node.args[:1])
                or any(
                    kw.arg == "data" and _is_empty_list(kw.value)
                    for kw in node.keywords
                )
            )
        ]
    assert not found, f"createDataFrame([]) in worker_spark/streaming: {found}"
