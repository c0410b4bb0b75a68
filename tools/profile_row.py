#!/usr/bin/env python3
"""Leg-level wall-time attribution for one registered query (guide §1:
measure first). Monkey-patches timers around the hot infrastructure —
bucketed-state writes/reads/collects, localCheckpoint, feed staging,
stream drain — then runs the named query once (optionally twice) and
prints where the seconds went.

Usage: python tools/profile_row.py <query> [sf_dir] [--twice]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ACC: dict[str, list[float]] = defaultdict(list)


def _wrap(obj, name, label):
    orig = getattr(obj, name)

    def timed(*a, **k):
        t0 = time.perf_counter()
        try:
            return orig(*a, **k)
        finally:
            ACC[label].append(time.perf_counter() - t0)

    setattr(obj, name, timed)


def main() -> None:
    query = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else "/root/testdata/sf0.1"
    twice = "--twice" in sys.argv

    # pyspark 4.x: instances are classic.dataframe.DataFrame — patching
    # the pyspark.sql.DataFrame facade never fires
    from pyspark.sql.classic.dataframe import DataFrame

    from worker_spark.plans import bucketed_state as B
    from worker_spark.streaming import staging as STG
    from worker_spark.queries import all_queries
    from worker_spark.session import get_spark

    _wrap(B.BucketedParquetStateStore, "_stage", "store._stage")
    _wrap(B.BucketedParquetStateStore, "touched_buckets", "store.touched_buckets")
    _wrap(B.BucketedParquetStateStore, "read", "store.read(lazy)")
    _wrap(DataFrame, "localCheckpoint", "df.localCheckpoint")
    _wrap(DataFrame, "collect", "df.collect")
    _wrap(DataFrame, "count", "df.count")
    _wrap(STG, "staged_dir", "staging.staged_dir")

    # optional per-structure apply/serve methods (wrapped when importable)
    for mod, cls, meth in [
        ("worker_spark.streaming.substring_index", "IncrementalSubstringIndex", "apply_batch"),
        ("worker_spark.streaming.components_index", "IncrementalComponentsIndex", "apply_batch"),
        ("worker_spark.streaming.exact_index", "IncrementalExactIndex", "apply_batch"),
        ("worker_spark.streaming.minhash_index", "IncrementalMinHashIndex", "apply_batch"),
        ("worker_spark.streaming.curation_index", "IncrementalCurationIndex", "apply_batch"),
        ("worker_spark.streaming.contamination_index", "IncrementalContaminationScreen", "apply_batch"),
        ("worker_spark.streaming.vector_index", "IncrementalVectorIndex", "apply_batch"),
        ("worker_spark.streaming.retrieval_index", "IncrementalRetrievalIndex", "apply_batch"),
    ]:
        import importlib

        try:
            m = importlib.import_module(mod)
            _wrap(getattr(m, cls), meth, f"{cls}.{meth}")
        except (ImportError, AttributeError):
            pass
    import worker_spark.operators.components as C

    _wrap(C, "connected_components", "connected_components")
    _wrap(C, "connected_components_star", "cc_star(fallback)")
    _wrap(C, "_canon_sig", "cc_star._canon_sig")

    # time the stream drain (awaitTermination) separately
    from pyspark.sql.streaming import StreamingQuery

    _wrap(StreamingQuery, "awaitTermination", "stream.awaitTermination")

    spark = get_spark(
        "profile_row", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    )
    specs = all_queries()
    spec = specs[query]
    runs = 2 if twice else 1
    for i in range(runs):
        ACC.clear()
        t0 = time.perf_counter()
        n = spec.run(spark, sf_dir).count()
        total = time.perf_counter() - t0
        spark.catalog.clearCache()
        print(f"\n=== run {i + 1}: {query} total {total:.2f}s ({n} rows) ===")
        acc_total = 0.0
        for label, times in sorted(ACC.items(), key=lambda kv: -sum(kv[1])):
            s = sum(times)
            acc_total += s
            print(f"  {label:28s} {s:7.2f}s  x{len(times):<4d} "
                  f"(max {max(times):.2f})")
        print(f"  {'(sum of instrumented)':28s} {acc_total:7.2f}s — "
              "nested legs double-count; read as attribution, not a sum")
    spark.stop()


if __name__ == "__main__":
    main()
