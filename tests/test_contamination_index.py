"""Incremental benchmark-decontamination screen
(streaming/contamination_index.py, the 12th maintained structure):
streamed batch-at-a-time maintenance must converge EXACTLY to the batch
operators/text.benchmark_contamination scan over (pinned eval ∪ live
corpus) — including stop-shingle df-cap CROSSINGS in both directions,
whose re-derive fan-out is the structure's novel part — plus the
family's standing pins: update/delete row movement through the
manifest, journaled torn-batch replay, loud config/eval-pin refusals,
and touched-bucket rewrite economics."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_ORACLE
from tests.test_incremental_retrieval import _bucket_snapshot, _changed
from worker_spark.operators.text import benchmark_contamination
from worker_spark.sources import load_table
from worker_spark.streaming.contamination_index import (
    IncrementalContaminationScreen,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mkdocs(spark, pairs):
    return spark.createDataFrame(
        [(int(i), t) for i, t in pairs], "doc_id long, text string"
    )


def _expected(spark, eval_docs, corpus_docs, **kw):
    """The batch scan over (pinned eval ∪ live corpus) — the convergence
    target. eval ids are ≡0 (mod 5) in every fixture here, matching the
    batch operator's id%eval_mod split."""
    return benchmark_contamination(
        eval_docs.unionByName(corpus_docs), eval_mod=5, **kw
    ).select("eval_id", "corpus_id", "n_shared", "contamination_rate")


def _fixture_split(spark, limit=150):
    docs = (
        load_table(spark, SF_ORACLE, "documents")
        .select("doc_id", "text")
        .limit(limit)
        .localCheckpoint(eager=True)
    )
    ev = docs.filter(F.col("doc_id") % 5 == 0)
    co = docs.filter(F.col("doc_id") % 5 != 0)
    return ev, co


def test_streamed_batches_converge_to_batch_scan(spark, tmp_path):
    """Corpus streamed in three residue batches + a stale-then-corrected
    update == the batch contamination scan, exactly (the registered
    row's contract at test scale)."""
    ev, co = _fixture_split(spark)
    scr = IncrementalContaminationScreen(
        spark, str(tmp_path / "x"), eval_docs=ev, n=5, min_shared=2
    )
    # batch 0 carries a stale 40-char draft for doc_id%10==1 rows
    stale = F.col("doc_id") % 10 == 1
    b0 = co.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id",
        F.when(stale, F.substring("text", 1, 40))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scr.apply_batch(b0, batch_id=0)
    scr.apply_batch(co.filter(F.col("doc_id") % 3 == 1), batch_id=1)
    scr.apply_batch(
        co.filter((F.col("doc_id") % 3 == 2) | stale), batch_id=2
    )
    assert _rows(scr.decisions().select(
        "eval_id", "corpus_id", "n_shared", "contamination_rate"
    )) == _rows(_expected(spark, ev, co, n=5, min_shared=2))
    scr.fsck()


def test_df_cap_crossings_rederive_stored_pairs(spark, tmp_path):
    """The structure's novel invariant: a shingle crossing the df cap
    (in EITHER direction) invalidates decisions of documents the batch
    never carried — and the maintained table re-derives exactly those.
    df('alpha beta') walks 2 -> 3 (dead) -> 2 (live again)."""
    ev = _mkdocs(spark, [(5, "alpha beta gamma")])
    scr = IncrementalContaminationScreen(
        spark, str(tmp_path / "x"), eval_docs=ev, n=2, min_shared=1, df_cap=2
    )
    d1 = _mkdocs(spark, [(1, "alpha beta xray")])
    scr.apply_batch(d1, batch_id=0)
    live = d1
    assert _rows(scr.decisions().select(
        "eval_id", "corpus_id", "n_shared", "contamination_rate"
    )) == _rows(_expected(spark, ev, live, n=2, min_shared=1,
                          shingle_df_cap=2))
    # doc 1's pair exists while the shingle is live
    assert scr.pairs().count() == 1
    assert scr.eval_sizes().collect()[0]["n_eval_grams"] == 2

    # UPWARD crossing: doc 2 pushes df to 3 > cap; doc 1's stored pair
    # (untouched by this batch) must vanish, and the eval denominator
    # must drop to the 1 still-live gram
    d2 = _mkdocs(spark, [(2, "alpha beta yankee")])
    scr.apply_batch(d2, batch_id=1)
    live = d1.unionByName(d2)
    assert _rows(scr.decisions().select(
        "eval_id", "corpus_id", "n_shared", "contamination_rate"
    )) == _rows(_expected(spark, ev, live, n=2, min_shared=1,
                          shingle_df_cap=2))
    assert scr.pairs().count() == 0
    assert scr.eval_sizes().collect()[0]["n_eval_grams"] == 1

    # DOWNWARD crossing: deleting doc 2 (whitespace text) revives the
    # shingle; doc 1's pair must come back without doc 1 in the batch
    scr.apply_batch(_mkdocs(spark, [(2, "   ")]), batch_id=2)
    assert _rows(scr.decisions().select(
        "eval_id", "corpus_id", "n_shared", "contamination_rate"
    )) == _rows(_expected(spark, ev, d1, n=2, min_shared=1,
                          shingle_df_cap=2))
    assert scr.pairs().count() == 1
    assert scr.eval_sizes().collect()[0]["n_eval_grams"] == 2
    scr.fsck()


def test_update_moves_posting_rows_and_delete_removes(spark, tmp_path):
    ev, co = _fixture_split(spark, limit=60)
    scr = IncrementalContaminationScreen(
        spark, str(tmp_path / "x"), eval_docs=ev
    )
    scr.apply_batch(co)
    victim = co.orderBy("doc_id").limit(1).collect()[0]["doc_id"]
    old_sh = {
        r["shingle"]
        for r in scr.manifest().filter(F.col("corpus_id") == victim).collect()
    }
    assert old_sh
    updated = _mkdocs(spark, [(victim, "entirely fresh update body " * 6)])
    scr.apply_batch(updated)
    after = {
        (r["shingle"], r["corpus_id"]) for r in scr.postings().collect()
    }
    new_sh = {s for s, d in after if d == victim}
    assert new_sh and new_sh.isdisjoint(old_sh)  # rows MOVED buckets
    # replay converges (no batch_id: the pure delete-then-insert path)
    scr.apply_batch(updated)
    assert {
        (r["shingle"], r["corpus_id"]) for r in scr.postings().collect()
    } == after
    # delete removes the doc from postings, manifest AND pairs
    scr.apply_batch(_mkdocs(spark, [(victim, " ")]))
    assert scr.postings().filter(F.col("corpus_id") == victim).count() == 0
    assert scr.manifest().filter(F.col("corpus_id") == victim).count() == 0
    assert scr.pairs().filter(F.col("corpus_id") == victim).count() == 0
    scr.fsck()


def test_torn_crossing_batch_replays_to_convergence(spark, tmp_path, tear):
    """The scope journal's reason to exist: a batch that flips a
    shingle's liveness crashes AFTER the hot swap but BEFORE the pairs
    re-derive. The replay sees the already-updated hot set (no crossing
    detected) — only the journaled scope makes it re-derive doc 1's
    stored pair. SAME-batch_id replay must converge exactly."""
    ev = _mkdocs(spark, [(5, "alpha beta gamma")])
    root = str(tmp_path / "x")
    scr = IncrementalContaminationScreen(
        spark, root, eval_docs=ev, n=2, min_shared=1, df_cap=2
    )
    d1 = _mkdocs(spark, [(1, "alpha beta xray")])
    scr.apply_batch(d1, batch_id=0)
    assert scr.pairs().count() == 1

    tear(scr.store, scr.PAIRS)
    d2 = _mkdocs(spark, [(2, "alpha beta yankee")])
    with pytest.raises(RuntimeError, match="injected tear"):
        scr.apply_batch(d2, batch_id=1)
    # torn: hot already swapped, doc 1's stale pair still stored
    assert scr.pairs().count() == 1
    scr.apply_batch(d2, batch_id=1)  # replay, same batch_id
    assert _rows(scr.decisions().select(
        "eval_id", "corpus_id", "n_shared", "contamination_rate"
    )) == _rows(_expected(spark, ev, d1.unionByName(d2), n=2, min_shared=1,
                          shingle_df_cap=2))
    assert scr.pairs().count() == 0
    scr.fsck()


def test_screen_batch_probes_state_without_mutating_it(spark, tmp_path):
    ev, co = _fixture_split(spark, limit=100)
    scr = IncrementalContaminationScreen(
        spark, str(tmp_path / "x"), eval_docs=ev
    )
    first = co.filter(F.col("doc_id") % 2 == 0)
    rest = co.filter(F.col("doc_id") % 2 == 1).localCheckpoint(eager=True)
    scr.apply_batch(first)
    before = _rows(scr.pairs())
    gate = _rows(scr.screen_batch(rest))
    assert before == _rows(scr.pairs())  # read-only
    # the gate's verdicts == the pairs the apply then materializes for
    # those docs (this feed causes no cap crossing at the default cap)
    scr.apply_batch(rest)
    rest_ids = {r["doc_id"] for r in rest.select("doc_id").collect()}
    after = [
        (r["eval_id"], r["corpus_id"], r["n_shared"])
        for r in scr.pairs().collect()
        if r["corpus_id"] in rest_ids
    ]
    assert sorted(after) == sorted((e, c, s) for e, c, s in gate)


def test_refusals_pin_config_and_eval_set(spark, tmp_path):
    ev = _mkdocs(spark, [(5, "alpha beta gamma")])
    root = str(tmp_path / "x")
    IncrementalContaminationScreen(spark, root, eval_docs=ev, n=2)
    with pytest.raises(ValueError, match="rebuild into a fresh root"):
        IncrementalContaminationScreen(spark, root, n=3)
    with pytest.raises(ValueError, match="already pinned"):
        IncrementalContaminationScreen(spark, root, eval_docs=ev, n=2)
    scr = IncrementalContaminationScreen(spark, root, n=2)
    with pytest.raises(ValueError, match="pinned eval doc id"):
        scr.apply_batch(_mkdocs(spark, [(5, "i am secretly the benchmark")]))
    # a screen must be CREATED before it can ingest
    virgin = IncrementalContaminationScreen(spark, str(tmp_path / "y"))
    with pytest.raises(ValueError, match="not created"):
        virgin.apply_batch(_mkdocs(spark, [(1, "hello world")]))


def test_small_batch_rewrites_only_touched_buckets(spark, tmp_path):
    ev, co = _fixture_split(spark)
    root = str(tmp_path / "x")
    scr = IncrementalContaminationScreen(spark, root, eval_docs=ev)
    scr.apply_batch(co)
    snaps = {
        t: _bucket_snapshot(os.path.join(root, t))
        for t in (scr.POST, scr.MAN, scr.PAIRS, scr.EVG)
    }
    one = _mkdocs(
        spark, [(999_001, "zulu unique nonce shingle body " * 3)]
    )
    scr.apply_batch(one)
    after = {
        t: _bucket_snapshot(os.path.join(root, t))
        for t in (scr.POST, scr.MAN, scr.PAIRS, scr.EVG)
    }
    n_buckets = scr.store.n_buckets
    # one doc touches ~its own handful of shingle/doc buckets, never all
    assert 0 < len(_changed(snaps[scr.POST], after[scr.POST])) < n_buckets
    assert 0 < len(_changed(snaps[scr.MAN], after[scr.MAN])) <= 2
    assert len(_changed(snaps[scr.PAIRS], after[scr.PAIRS])) <= 2
    # the pinned eval table is NEVER rewritten by corpus ingestion
    assert not _changed(snaps[scr.EVG], after[scr.EVG])


def test_fsck_catches_posting_manifest_drift(spark, tmp_path):
    ev, co = _fixture_split(spark, limit=40)
    root = str(tmp_path / "x")
    scr = IncrementalContaminationScreen(spark, root, eval_docs=ev)
    scr.apply_batch(co)
    scr.fsck()
    # surgically delete one postings bucket file -> drift must be loud
    tdir = os.path.join(root, scr.POST)
    nuked = False
    for b in sorted(os.listdir(tdir)):
        p = os.path.join(tdir, b)
        if not (b.startswith("b") and os.path.isdir(p)):
            continue
        parts = [
            f
            for f in os.listdir(p)
            if f.startswith("part-") and f.endswith(".parquet")
        ]
        if parts:
            os.remove(os.path.join(p, sorted(parts)[0]))
            nuked = True
            break
    assert nuked
    with pytest.raises(RuntimeError, match="drifted"):
        scr.fsck()


def test_contamination_stream_restart_resumes_from_checkpoint(
    spark, tmp_path
):
    """Kill-and-resume symmetry with the rest of the index family: a
    second availableNow stream over the same checkpoint processes only
    files landed after the first drain (3-batch coverage lives here —
    the registered feed is 2 files), the screen handle RECONSTRUCTED
    from the pinned root (bare reopen), and the maintained decisions
    still equal the batch scan exactly."""
    import glob
    import os as _os
    import shutil

    from worker_spark.streaming.feed import file_feed_stream

    ev, co = _fixture_split(spark, limit=120)
    feed = str(tmp_path / "feed")
    _os.makedirs(feed)

    def land(batch, name):
        stage = str(tmp_path / f"_stage_{name}")
        batch.coalesce(1).write.mode("overwrite").parquet(stage)
        (part,) = glob.glob(_os.path.join(stage, "part-*.parquet"))
        shutil.move(part, _os.path.join(feed, f"{name}.parquet"))
        shutil.rmtree(stage, ignore_errors=True)

    root = str(tmp_path / "x")
    ckpt = str(tmp_path / "ckpt")
    stale = F.col("doc_id") % 10 == 1
    land(
        co.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id",
            F.when(stale, F.substring("text", 1, 40))
            .otherwise(F.col("text"))
            .alias("text"),
        ),
        "b0",
    )
    scr = IncrementalContaminationScreen(spark, root, eval_docs=ev)
    q = file_feed_stream(spark, feed, scr, ckpt)
    assert q.awaitTermination(180)

    land(co.filter(F.col("doc_id") % 2 == 1), "b1")
    land(co.filter(stale & (F.col("doc_id") % 2 == 0)), "b2")
    reopened = IncrementalContaminationScreen(spark, root)
    q2 = file_feed_stream(spark, feed, reopened, ckpt)
    assert q2.awaitTermination(180)
    assert _rows(reopened.decisions().select(
        "eval_id", "corpus_id", "n_shared", "contamination_rate"
    )) == _rows(_expected(spark, ev, co, n=5, min_shared=2))
    reopened.fsck()
