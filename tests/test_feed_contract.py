"""The feed contract of the maintained structures: a structure's
``FEED_SCHEMA`` is the one place its input column names live. Callers
alias their data to those names when they stage the feed, so no
function under ``worker_spark/streaming/`` takes a column name, and
every structure ``file_feed_stream`` can drive declares its schema."""

from __future__ import annotations

import ast
import os

_STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "worker_spark", "streaming"
)


def _trees():
    for name in sorted(os.listdir(_STREAMING)):
        if name.endswith(".py"):
            path = os.path.join(_STREAMING, name)
            with open(path) as f:
                yield name, ast.parse(f.read(), path)


def test_no_streaming_function_takes_a_column_name():
    found = []
    for name, tree in _trees():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                found += [
                    f"{name}:{node.lineno} {node.name}({p.arg})"
                    for p in a.posonlyargs + a.args + a.kwonlyargs
                    if p.arg.endswith("_col")
                ]
    assert not found, f"column-name parameters: {found}"


def test_every_maintained_structure_declares_feed_schema():
    missing = []
    for name, tree in _trees():
        for node in ast.walk(tree):
            if not isinstance(node, ast.ClassDef):
                continue
            body = node.body
            methods = {
                n.name for n in body if isinstance(n, ast.FunctionDef)
            }
            declared = {
                t.id
                for n in body
                if isinstance(n, (ast.Assign, ast.AnnAssign))
                for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
                if isinstance(t, ast.Name)
            }
            if "apply_batch" in methods and "FEED_SCHEMA" not in declared:
                missing.append(f"{name}:{node.lineno} {node.name}")
    assert not missing, f"structures without FEED_SCHEMA: {missing}"
