"""End-to-end tests of the incremental sync pipeline (§3.1/§3.2):
diff -> outbox -> store -> links -> discovery -> invalidation ->
resolution -> settledness -> snapshot."""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from worker_spark import fixtures as FX
from worker_spark.plans import outbox as OB
from worker_spark.plans import sync as S
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.schemas import (
    ARTICLE_BIBLIOGRAPHY,
    ARTICLE_DATA,
    ARTICLE_LIST,
    ARTICLE_PLACE,
    BIBLIOGRAPHY,
    JOB_OUTBOX,
    PLACES,
)

TS = datetime.datetime(2026, 1, 1)


def _outbox(spark, rows=()):
    return spark.createDataFrame(list(rows), schema=JOB_OUTBOX)


def _articles(spark, rows):
    schema = (
        "dictionary: string, id: bigint, revision: bigint, updated_at: string, "
        "sync_status: string"
    )
    return spark.createDataFrame(rows, schema=schema)


def test_diff_job_classification(spark):
    lst = spark.createDataFrame(
        [
            ("no", 1, "a", 2, "t1"),   # changed (rev differs)
            ("no", 2, "b", 1, "t2"),   # unchanged
            ("no", 3, "c", 1, "t3"),   # new
            ("bm", 1, "d", 5, "t9"),   # same id, other dictionary -> new
        ],
        schema=ARTICLE_LIST,
    ).select("dictionary", "article_id", "revision", "updated_at")
    db = _articles(
        spark,
        [
            ("no", 1, 1, "t1", "idle"),
            ("no", 2, 1, "t2", "idle"),
            ("no", 4, 1, "t4", "idle"),          # missing from list
            ("no", 5, 1, "t5", "pending_fetch"),  # missing + in flight
        ],
    )
    got = {
        (r["dictionary"], r["article_id"]): r["classification"]
        for r in S.diff_job(lst, db).collect()
    }
    assert got == {
        ("no", 1): "changed",
        ("no", 2): "unchanged",
        ("no", 3): "new",
        ("bm", 1): "new",
        ("no", 4): "missing_recheck",
        ("no", 5): "missing_inflight",
    }


def test_outbox_append_dedup_and_fifo(spark):
    outbox = _outbox(
        spark,
        [(1, "fetch_article", "no:1", "{}", TS, None), (2, "fetch_article", "no:9", "{}", TS, TS)],
    )
    new = spark.createDataFrame(
        [
            ("fetch_article", "no:1", "{}"),   # duplicate of unprocessed -> dropped
            ("fetch_article", "no:9", "{}"),   # duplicate of PROCESSED -> kept
            ("fetch_article", "no:2", "{}"),
            ("fetch_article", "no:2", "{}"),   # in-batch dup
        ],
        schema="job_type: string, job_key: string, payload: string",
    )
    merged = OB.append_jobs(outbox, new)
    rows = merged.collect()
    # kept: the 2 originals + no:9 (re-queued; old row was processed) + no:2
    assert len(rows) == 4
    keys = sorted((r["job_type"], r["job_key"], r["id"]) for r in rows)
    # new ids continue the sequence past max(id)=2
    new_ids = {k: i for (_, k, i) in keys if i > 2}
    assert set(new_ids) == {"no:9", "no:2"}
    unprocessed = merged.filter(F.col("processed_at").isNull())
    assert unprocessed.count() == 3


def test_outbox_drain_batch_index_coalesce(spark):
    rows = [
        (
            i,
            "batch_index",
            f"no:{i}",
            json.dumps({"article_keys": [f"no:{i}", "no:0"]}),
            TS,
            None,
        )
        for i in range(1, 11)
    ]
    outbox = _outbox(spark, rows)
    drained = OB.drain_batch_index(outbox, target_keys=7)
    ids = [r["id"] for r in drained.select("id").orderBy("id").collect()]
    # 2 keys per row; cumulative passes 7 on the 4th row
    assert ids == [1, 2, 3, 4]
    keys = {r["article_key"] for r in OB.coalesced_batch_keys(drained).collect()}
    assert keys == {"no:0", "no:1", "no:2", "no:3", "no:4"}
    marked = OB.mark_processed(outbox, drained.select("id"))
    assert marked.filter(F.col("processed_at").isNull()).count() == 6


def test_store_job_links_and_discovery(spark):
    fetched = spark.createDataFrame(
        [("no", 1, FX.DEEP_ARTICLE)],
        schema=f"dictionary: string, id: bigint, data: {ARTICLE_DATA.simpleString()}",
    )
    analyzed = S.analyze_articles(fetched)
    bib_links = S.article_bibliography_rows(analyzed)
    assert {r["bibl_id"] for r in bib_links.collect()} == {100, 200, 300, 301}

    place_links = S.article_place_rows(analyzed)
    got = {(r["place_id"], r["context"]) for r in place_links.collect()}
    assert got == {
        (11, "dialect"),
        (12, "dialect"),
        (11, "attestation"),
        (13, "attestation"),
        (14, "attestation"),
    }

    # S8 replace: pre-existing stale rows for article 1 vanish, other
    # articles untouched
    existing = spark.createDataFrame(
        [("no", 1, 999), ("no", 2, 100)], schema=ARTICLE_BIBLIOGRAPHY
    )
    replaced = S.replace_links(existing, bib_links, ["dictionary", "article_id"])
    got2 = {(r["article_id"], r["bibl_id"]) for r in replaced.collect()}
    assert (1, 999) not in got2 and (2, 100) in got2 and (1, 100) in got2

    # J3 discovery: bibliography knows 100/200 only; places knows 11 only;
    # related article 5001/2002 absent -> crawl jobs
    bib = spark.createDataFrame(
        [(100, "A", "", "", "", [], TS, "idle", TS), (200, "B", "", "", "", [], TS, "idle", TS)],
        schema=BIBLIOGRAPHY,
    )
    places = spark.createDataFrame(
        [(11, "Nordfjell", "", "", None, 0, None, 0, TS, "idle", TS)], schema=PLACES
    )
    articles = _articles(spark, [("no", 1, 1, "t", "idle")])
    jobs = S.missing_entity_jobs(analyzed, bib, places, articles)
    by_type = {
        (r["job_type"], r["job_key"]) for r in jobs.collect()
    }
    assert ("fetch_bibliography", "300") in by_type
    assert ("fetch_bibliography", "301") in by_type
    assert ("fetch_place", "12") in by_type
    assert ("fetch_place", "13") in by_type
    assert ("fetch_place", "14") in by_type
    assert ("fetch_article", "no:5001") in by_type
    assert ("fetch_article", "no:2002") in by_type
    assert ("batch_index", "no:1") in by_type


def test_inline_ref_rows_scoped_to_no(spark):
    fetched = spark.createDataFrame(
        [("no", 1, FX.DEEP_ARTICLE), ("bm", 2, FX.DEEP_ARTICLE)],
        schema=f"dictionary: string, id: bigint, data: {ARTICLE_DATA.simpleString()}",
    )
    refs = S.inline_ref_rows(fetched)
    rows = refs.collect()
    assert {r["dictionary"] for r in rows} == {"no"}
    assert {r["code"] for r in rows} == {"Fj.Skr", "HaBrev"}


def test_invalidation_job(spark):
    articles = _articles(
        spark,
        [("no", 1, 1, "t", "idle"), ("no", 2, 1, "t", "idle"), ("no", 3, 1, "t", "pending_fetch")],
    )
    links = spark.createDataFrame(
        [("no", 1, 100), ("no", 2, 200), ("no", 3, 100)], schema=ARTICLE_BIBLIOGRAPHY
    ).withColumnRenamed("bibl_id", "bibl_id")
    changed = spark.createDataFrame([(100,)], schema="id: bigint")
    affected = S.invalidation_job(articles, links, changed, "bibl_id")
    # article 1 (idle, references 100) flips; 3 is in flight; 2 unrelated
    assert {(r["dictionary"], r["id"]) for r in affected.collect()} == {("no", 1)}
    jobs = S.reindex_jobs(affected)
    assert jobs.collect()[0]["job_key"] == "no:1"


def test_resolve_codes_and_late_resolution(spark):
    codes = spark.createDataFrame([("FiktA",), ("VikM",), ("Nope",)], schema="code: string")
    bib = spark.createDataFrame(
        [(100, "FiktA", "", "", "", [], TS, "idle", TS), (101, "FiktA", "", "", "", [], TS, "idle", TS)],
        schema=BIBLIOGRAPHY,
    )
    places = spark.createDataFrame(
        [(7, "Vik", "", "", None, 0, None, 0, TS, "idle", TS)], schema=PLACES
    )
    res = S.resolve_codes_job(codes, bib, places)
    got = {r["code"]: (r["ref_type"], r["bibl_id"], r["place_id"]) for r in res.collect()}
    assert got["FiktA"] == ("bibl", 100, None)  # first id wins
    assert got["VikM"] == ("place", None, 7)    # 'M'-stripped name fallback
    assert "Nope" not in got

    refs = spark.createDataFrame(
        [
            ("no", 1, "q", 0, 5, "FiktA", None, None, None, None),
            ("no", 1, "q", 6, 9, "FiktA", None, "bibl", 555, None),  # already resolved
            ("no", 2, "q", 0, 4, "VikM", None, None, None, None),
        ],
        schema="dictionary: string, article_id: bigint, quote_content: string, "
        "offset_start: int, offset_end: int, code: string, spec: string, "
        "ref_type: string, bibl_id: bigint, place_id: bigint",
    )
    resolved = S.late_resolution_job(refs, res)
    rows = {(r["article_id"], r["offset_start"]): r for r in resolved.collect()}
    assert rows[(1, 0)]["bibl_id"] == 100 and rows[(1, 0)]["ref_type"] == "bibl"
    assert rows[(1, 6)]["bibl_id"] == 555  # untouched
    assert rows[(2, 0)]["place_id"] == 7 and rows[(2, 0)]["ref_type"] == "place"
    links = S.derived_links(resolved)
    assert {(r["article_id"], r["bibl_id"]) for r in links.collect()} == {(1, 100), (1, 555)}


def test_settledness_gate():
    gate = S.SettlednessGate(settle_seconds=120)
    assert gate.check(False, "c1", now=0) is False
    assert gate.check(True, "c1", now=10) is False       # starts settling
    assert gate.check(True, "c1", now=100) is False      # not settled yet
    assert gate.check(True, "c2", now=110) is False      # cursor moved -> reset
    assert gate.check(True, "c2", now=200) is False
    assert gate.check(True, "c2", now=231) is True       # 121s stable
    assert gate.check(False, "c2", now=232) is False     # work appeared -> reset
    assert gate.check(True, "c2", now=233) is False
    # content_cursor is None while every content table is empty
    fresh = S.SettlednessGate(settle_seconds=0)
    assert fresh.check(True, None, now=0) is False       # starts settling
    assert fresh.check(True, None, now=0) is True
    assert gate.check(False, None, now=300) is False     # reset
    assert gate.check(True, None, now=301) is False
    assert gate.check(True, None, now=421) is True


def test_snapshot_publish_and_retention(spark, tmp_path):
    import os

    out = str(tmp_path / "snaps")
    df = spark.range(5)
    for cursor in ["2026-01-01T00:00:00", "2026-01-02T00:00:00", "2026-01-03T00:00:00", "2026-01-04T00:00:00"]:
        sid = S.snapshot_publish(out, {"t": df}, cursor, retention=3)

    snaps = sorted(d for d in os.listdir(out) if d != "latest")
    assert len(snaps) == 3  # oldest pruned
    assert open(os.path.join(out, "latest")).read() == sid
    manifest = json.load(open(os.path.join(out, snaps[-1], "manifest.json")))
    assert manifest["tables"]["t"]["rows"] == 5
    # restore (S13): read back
    restored = spark.read.parquet(os.path.join(out, snaps[-1], "t"))
    assert restored.count() == 5

    # republishing the committed cursor (a polling publisher whose gate
    # stays open) returns its id and leaves the snapshot as it was
    again = S.snapshot_publish(out, {"t": spark.range(7)}, "2026-01-04T00:00:00", retention=3)
    assert again == sid
    assert spark.read.parquet(os.path.join(out, sid, "t")).count() == 5
    assert json.load(open(os.path.join(out, sid, "manifest.json"))) == manifest
    S.verify_snapshot(spark, out, sid)

    # a torn publish (a dir with no manifest) is not a snapshot:
    # retention keeps the two newest COMMITTED ones around it
    out2 = str(tmp_path / "snaps2")

    def committed():
        return sorted(
            d for d in os.listdir(out2) if os.path.exists(os.path.join(out2, d, "manifest.json"))
        )

    S.snapshot_publish(out2, {"t": df}, "2026-02-01T00:00:00", retention=2)
    torn = os.path.join(out2, "2026-02-02T00-00-00")
    df.write.parquet(os.path.join(torn, "t"))
    S.snapshot_publish(out2, {"t": df}, "2026-02-03T00:00:00", retention=2)
    assert committed() == ["2026-02-01T00-00-00", "2026-02-03T00-00-00"]
    # publishing the torn id replaces the torn dir with a committed one
    S.snapshot_publish(out2, {"t": df}, "2026-02-02T00:00:00", retention=2)
    assert committed() == ["2026-02-02T00-00-00", "2026-02-03T00-00-00"]
    S.verify_snapshot(spark, out2, "2026-02-02T00-00-00")


def test_state_store_upsert(spark, tmp_path):
    """S7 composite-key MERGE: (dictionary, id) is the key, declared at
    first write so updated rows land in the bucket of the rows they
    replace."""
    store = BucketedParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)
    a1 = _articles(spark, [("no", 1, 1, "t1", "idle"), ("no", 2, 1, "t2", "idle")])
    store.write("articles", a1, keys=["dictionary", "id"])
    upd = _articles(spark, [("no", 2, 5, "t9", "pending_index"), ("no", 3, 1, "t3", "idle")])
    store.upsert("articles", upd, keys=["dictionary", "id"])
    got = {r["id"]: (r["revision"], r["sync_status"]) for r in store.read("articles").collect()}
    assert got == {1: (1, "idle"), 2: (5, "pending_index"), 3: (1, "idle")}


def test_state_store_recovers_lost_swap(spark, tmp_path):
    """A crash between a bucket swap's two renames leaves the bucket dir
    missing but its contents under .old-*. read()/exists() must restore
    it rather than silently returning an empty (reset) table; an
    orphaned .tmp-* is an uncommitted write and is rolled back. One
    bucket makes that bucket the whole table."""
    import os as _os
    import shutil as _shutil

    root = str(tmp_path / "state")
    store = BucketedParquetStateStore(spark, root, n_buckets=1)
    a1 = _articles(spark, [("no", 1, 1, "t1", "idle"), ("no", 2, 1, "t2", "idle")])
    store.write("articles", a1, keys=["dictionary", "id"])

    # simulate the crash window: final renamed away, tmp never moved in
    tdir = _os.path.join(root, "articles")
    final = _os.path.join(tdir, "b00000")
    _os.rename(final, final + ".old-deadbeef")
    _shutil.copytree(final + ".old-deadbeef", final + ".tmp-cafe0000")

    assert store.exists("articles")  # recovery ran
    got = {r["id"] for r in store.read("articles").collect()}
    assert got == {1, 2}
    leftovers = [n for n in _os.listdir(tdir) if ".old-" in n or ".tmp-" in n]
    assert leftovers == []

    # a table that never existed still reads empty (no false recovery)
    empty = store.read("nonexistent", schema=a1.schema)
    assert empty.count() == 0


def test_sweep_stale(spark):
    old = datetime.datetime(2020, 1, 1)
    arts = spark.createDataFrame(
        [
            ("no", 1, "pending_fetch", old),
            ("no", 2, "pending_fetch", datetime.datetime.now() + datetime.timedelta(hours=1)),
            ("no", 3, "idle", old),
        ],
        schema="dictionary: string, id: bigint, sync_status: string, status_changed_at: timestamp",
    )
    stale = OB.stale_pending(arts, "pending_fetch", stale_minutes=5, limit=500)
    assert [r["id"] for r in stale.collect()] == [1]


def test_gc_processed(spark):
    outbox = _outbox(
        spark,
        [
            (1, "fetch_article", "no:1", "{}", TS, datetime.datetime(2020, 1, 1)),
            (2, "fetch_article", "no:2", "{}", TS, None),
        ],
    )
    kept = OB.gc_processed(outbox, older_than_hours=1)
    assert [r["id"] for r in kept.collect()] == [2]


def test_gc_keeps_id_high_water_mark(spark):
    """Regression: GC must never drop the max-id row, or new jobs would
    reuse previously issued ids after retention cleanup."""
    old = datetime.datetime(2020, 1, 1)
    outbox = _outbox(
        spark,
        [
            (5, "fetch_article", "no:5", "{}", TS, old),   # old + processed
            (9, "fetch_article", "no:9", "{}", TS, old),   # old + processed + MAX id
        ],
    )
    kept = OB.gc_processed(outbox, older_than_hours=1)
    assert [r["id"] for r in kept.collect()] == [9]
    # and id assignment continues past it
    new = spark.createDataFrame(
        [("fetch_article", "no:1", "{}")],
        schema="job_type: string, job_key: string, payload: string",
    )
    merged = OB.append_jobs(kept, new)
    assert merged.agg(F.max("id")).collect()[0][0] == 10


def test_diff_null_values_still_classified(spark):
    """Regression: presence is tracked explicitly — NULL revision/status
    must not flip a row to the wrong side of the diff."""
    from worker_spark.operators.diff import classify_list_db_diff

    lst = spark.createDataFrame(
        [(1, None, None)], schema="article_id: bigint, revision: bigint, updated_at: string"
    )
    db = spark.createDataFrame(
        [(2, None, None, None)],
        schema="article_id: bigint, revision: bigint, updated_at: string, sync_status: string",
    )
    got = {r["article_id"]: r["classification"] for r in classify_list_db_diff(lst, db).collect()}
    assert got[1] == "new"               # all-NULL list row is still list-present
    assert got[2] == "missing_inflight"  # NULL status is not idle


def test_drain_budget_watermark():
    """T2 budget = 3 x concurrency - queue depth, floored at 0
    (src/outbox.rs:33,120-124)."""
    assert OB.drain_budget(concurrency=4, queue_depth=0) == 12
    assert OB.drain_budget(concurrency=4, queue_depth=10) == 2
    assert OB.drain_budget(concurrency=4, queue_depth=12) == 0
    assert OB.drain_budget(concurrency=4, queue_depth=99) == 0
    assert OB.drain_budget(concurrency=1, queue_depth=0, watermark_multiplier=5) == 5


def test_snapshot_fingerprint_verification(spark, tmp_path):
    """S12/S13 integrity: the manifest carries a content fingerprint per
    table; restore verification passes on intact data and fails when the
    snapshot is tampered with."""
    out = str(tmp_path / "fsnaps")
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    sid = S.snapshot_publish(out, {"t": df}, "2026-02-01T00:00:00")
    S.verify_snapshot(spark, out, sid)  # intact -> passes

    # fingerprint is order-insensitive: same content reshuffled matches
    assert S.table_fingerprint(df.orderBy(F.desc("id"))) == S.table_fingerprint(df)
    # but content changes are detected
    assert S.table_fingerprint(df.withColumn("v", F.col("v") + 1)) != S.table_fingerprint(df)

    # tamper: drop a row file's worth of data by rewriting the table
    import os as _os

    tdir = _os.path.join(out, sid, "t")
    df.limit(50).write.mode("overwrite").parquet(tdir)
    with pytest.raises(ValueError, match="fingerprint mismatch"):
        S.verify_snapshot(spark, out, sid)
