"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

* the span arithmetic (no Spark);
* a tiny-size smoke run of every workload through the command line,
  asserting that each metric named in BENCHMARK.json prints with its unit;
* each correctness gate passes on an honest run and trips on a
  deliberately corrupted output.

The smoke and gate tests start Spark and take several minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench.trace import Span, self_times, union_length  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
LISTED = [w["name"] for w in BENCH["workloads"]]
EXTENDED = ["dedup_ingest"]


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_counts_concurrent_children_once():
    parent = Span(0, "p", 0, None, 0.0, 10.0)
    # two children running at once in threads, plus one nested grandchild
    a = Span(1, "a", 0, 0, 1.0, 5.0)
    b = Span(2, "b", 0, 0, 2.0, 6.0)
    g = Span(3, "g", 0, 1, 2.0, 3.0)
    st = self_times([parent, a, b, g])
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_time_is_taken_out_of_spans():
    # 1.5 s of tracer time inside the parent, 0.5 s of it inside the child
    parent = Span(0, "p", 0, None, 0.0, 10.0, charged=1.5)
    child = Span(1, "c", 0, 0, 2.0, 6.0, charged=0.5)
    st = self_times([parent, child])
    assert parent.seconds == pytest.approx(8.5)
    assert child.seconds == pytest.approx(3.5)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.5)


def _run(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", LISTED + EXTENDED)
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    out = _run(workload, trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    named = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    for m in named:
        assert out["metrics"][m["name"]]["unit"] == m["unit"], m["name"]
        assert isinstance(out["metrics"][m["name"]]["value"], float)
    if not trace:
        assert all(out["metrics"][m["name"]]["value"] > 0 for m in named)


# --- correctness gates --------------------------------------------------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench.run import start_spark, stop_spark

    s = start_spark(str(tmp_path_factory.mktemp("spark")))
    yield s
    stop_spark(s)


def _ran(spark, tmp_path, name):
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, str(tmp_path), seed=3, scale=0.1)
    wl.setup()
    for i in range(wl.warmup_ops + 1):
        wl.prepare(i)
        wl.run_op(i)
    wl.check()  # honest outputs pass
    return wl


def _corrupt_bm25(wl):
    from perfbench.workloads import _rows
    from worker_spark.operators.retrieval import bm25_topk

    live = wl._frame(sorted(wl.stream.live.items()))
    top = {r[1] for r in _rows(bm25_topk(live, wl.check_queries(), k=wl.K))}
    # the index serves a text the corpus never had
    wl.idx.apply_batch(wl._frame([(d, "corrupted text") for d in sorted(top)[:3]]))


def _corrupt_dedup(wl):
    victim = wl.pipe.cluster_assignments().first()["doc_id"]
    wl.pipe.apply_batch(wl._frame([(victim, "")]))


def _corrupt_sync(wl):
    from pyspark.sql import functions as F

    # one published search document altered after the fact
    doc = wl.reference_documents().limit(1)
    wl._sink(doc.withColumn("etymology_text", F.concat("etymology_text", F.lit("!"))), None)


def _corrupt_dedup_bands(wl):
    from pyspark.sql import functions as F

    # a stale band row, as if a corrected document's old band were never
    # deleted: candidate verification filters it out of the clusters, so
    # only the index's own consistency check can see it
    mh = wl.pipe.minhash
    row = mh.bands().limit(1).withColumn("bucket", F.concat("bucket", F.lit("-stale")))
    row = row.localCheckpoint(eager=True)
    mh.store.delete_then_insert(
        mh.BANDS, delete_keys=row.select("doc_id").limit(0), inserts=row,
        schema=mh.bands().schema, bucket_col="bk", delete_on="doc_id",
        touched=mh.store.touched_buckets(row, "bk"))


# corruption -> (workload, how)
CORRUPT = {
    "bm25_serve": ("bm25_serve", _corrupt_bm25),
    "dedup_ingest": ("dedup_ingest", _corrupt_dedup),
    "dedup_ingest_stale_band": ("dedup_ingest", _corrupt_dedup_bands),
    "sync_cycle": ("sync_cycle", _corrupt_sync),
}


@pytest.mark.parametrize("corruption", sorted(CORRUPT))
def test_gate_trips_on_corrupted_output(spark, tmp_path, corruption):
    from perfbench.workloads import GateError

    workload, corrupt = CORRUPT[corruption]
    wl = _ran(spark, tmp_path, workload)
    corrupt(wl)
    with pytest.raises(GateError):
        wl.check()


def test_sync_gate_checks_bucket_layout(spark, tmp_path):
    """A row moved out of its key's bucket fails verify_layout."""
    import shutil

    from perfbench.workloads import GateError

    wl = _ran(spark, tmp_path, "sync_cycle")
    tdir = os.path.join(wl.store.root, "articles")
    buckets = sorted(b for b in os.listdir(tdir) if b.startswith("b") and "." not in b)
    src = os.path.join(tdir, buckets[0])
    part = next(f for f in os.listdir(src) if f.endswith(".parquet"))
    shutil.copy(os.path.join(src, part), os.path.join(tdir, buckets[1], "moved-" + part))
    with pytest.raises(GateError):
        wl.check()
