"""E6 — the reference's recursive ``$.**`` whole-tree JSON scans for RAW
(untyped) article JSON.

Reference semantics (/root/reference/src/extraction.rs:46-64):
``walk_json_objects`` visits every JSON object depth-first in document
order; ``collect_bibl_ids`` (:456-462) gathers any ``bibl_id`` integer at
any depth (set semantics; we emit sorted for determinism);
``find_related_article_ids`` (:500-509) gathers ``article_id`` from any
object whose ``type_`` is ``article_ref``/``sub_article`` (IndexSet —
insertion order preserved).

For typed (parquet StructType) data, worker_spark.extraction expresses the
same scans natively over the enumerated paths — these UDFs are the
schema-flexible ingest path, and the differential tests assert the two
implementations agree on the fixture corpus.
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _walk_objects(value: Any, f) -> None:
    if isinstance(value, dict):
        f(value)
        for v in value.values():
            _walk_objects(v, f)
    elif isinstance(value, list):
        for v in value:
            _walk_objects(v, f)


def collect_bibl_ids(doc: Any) -> list[int]:
    ids: set[int] = set()

    def visit(obj: dict) -> None:
        v = obj.get("bibl_id")
        if isinstance(v, bool):
            return
        if isinstance(v, int):
            ids.add(v)

    _walk_objects(doc, visit)
    return sorted(ids)


def find_related_article_ids(doc: Any) -> list[int]:
    ids: dict[int, None] = {}  # insertion-ordered set

    def visit(obj: dict) -> None:
        t = obj.get("type_")
        if t in ("article_ref", "sub_article"):
            v = obj.get("article_id")
            if isinstance(v, int) and not isinstance(v, bool):
                ids.setdefault(v, None)

    _walk_objects(doc, visit)
    return list(ids)


def definition_depth(doc: Any) -> int:
    """Maximum nesting depth of ``sub_definitions`` in an article payload
    (0 = no definitions)."""
    defs = (
        doc.get("body", {}).get("definitions") if isinstance(doc, dict) else None
    )

    def depth_of(definition: Any) -> int:
        if not isinstance(definition, dict):
            return 1
        subs = definition.get("sub_definitions")
        if not isinstance(subs, list) or not subs:
            return 1
        return 1 + max(depth_of(sd) for sd in subs)

    if not isinstance(defs, list) or not defs:
        return 0
    return max(depth_of(d) for d in defs)


def assert_depth_bound(doc: Any, max_depth: int) -> None:
    """Ingest guard for the typed path: the native extraction unrolls
    ``sub_definitions`` to schemas.MAX_DEF_DEPTH — deeper payloads must be
    routed to the pandas_udf walkers (or the schema regenerated) instead
    of silently truncated."""
    d = definition_depth(doc)
    if d > max_depth:
        raise ValueError(
            f"definition tree depth {d} exceeds the typed-schema unroll "
            f"bound {max_depth}; use the json_walk UDF path for this payload"
        )


def _loads(s: str | None) -> Any:
    if s is None:
        return None
    try:
        return json.loads(s)
    except (ValueError, TypeError):
        return None


@F.pandas_udf(T.ArrayType(T.LongType()))
def walk_bibl_ids_udf(doc_json: pd.Series) -> pd.Series:
    return doc_json.map(lambda s: collect_bibl_ids(_loads(s)))


@F.pandas_udf(T.ArrayType(T.LongType()))
def walk_related_ids_udf(doc_json: pd.Series) -> pd.Series:
    return doc_json.map(lambda s: find_related_article_ids(_loads(s)))
