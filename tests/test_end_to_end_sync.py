"""The complete §3.1 lifecycle in one test: seed state -> upstream list ->
diff -> outbox -> drain -> fetch(sim) -> store (upsert + links + inline
refs + discovery) -> batch-index drain -> search-document build ->
status transitions -> settled -> snapshot. Asserts the observable state
after each stage, replaying the reference's dataflow end to end."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from worker_spark import fixtures as FX
from worker_spark.plans import outbox as OB
from worker_spark.plans import sync as S
from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.plans.search_documents import build_search_documents
from worker_spark.schemas import (
    ARTICLE_BIBLIOGRAPHY,
    ARTICLE_DATA,
    ARTICLE_LIST,
    ARTICLE_PLACE,
    BIBLIOGRAPHY,
    CONCEPTS,
    JOB_OUTBOX,
    PLACES,
)

TS = datetime.datetime(2026, 1, 1)

UPSTREAM = {
    ("no", 1): FX.DEEP_ARTICLE,
    ("no", 2): FX.DIALECT_SHOW_FILTER,
    ("bm", 3): FX.NOUN_DUAL_PARADIGM,
}


def test_full_sync_lifecycle(spark, tmp_path):
    """The lifecycle on the bucketed state store (touched-bucket
    MERGEs): the MERGE-maintained tables declare their keys at first
    write."""
    store = BucketedParquetStateStore(spark, str(tmp_path / "state"), n_buckets=4)

    # seed: article no:2 already stored at revision 1; upstream has moved it
    # to revision 2; no:1 and bm:3 are new upstream; no:9 was deleted upstream
    arts_schema = (
        f"dictionary: string, id: bigint, data: {ARTICLE_DATA.simpleString()}, "
        "revision: bigint, updated_at: string, sync_status: string"
    )
    store.write(
        "articles",
        spark.createDataFrame(
            [
                ("no", 2, {}, 1, "t-old", "idle"),
                ("no", 9, {}, 1, "t9", "idle"),
            ],
            schema=arts_schema,
        ),
        keys=["dictionary", "id"],
    )
    store.write("outbox", spark.createDataFrame([], schema=JOB_OUTBOX), keys=["id"])
    store.write("article_bibliography", spark.createDataFrame([], schema=ARTICLE_BIBLIOGRAPHY))
    store.write("article_place", spark.createDataFrame([], schema=ARTICLE_PLACE))

    upstream_list = spark.createDataFrame(
        [
            ("no", 1, "djupord", 1, "t1"),
            ("no", 2, "trollskog", 2, "t-new"),
            ("bm", 3, "fjordsting", 1, "t3"),
        ],
        schema=ARTICLE_LIST,
    ).select("dictionary", "article_id", "revision", "updated_at")

    # --- stage 1: diff + outbox write -------------------------------------
    diff = S.diff_job(upstream_list, store.read("articles"))
    classes = {
        (r["dictionary"], r["article_id"]): r["classification"] for r in diff.collect()
    }
    assert classes[("no", 1)] == "new"
    assert classes[("no", 2)] == "changed"
    assert classes[("bm", 3)] == "new"
    assert classes[("no", 9)] == "missing_recheck"

    outbox = OB.append_jobs(store.read("outbox"), S.fetch_jobs_from_diff(diff))
    store.write("outbox", outbox)
    assert store.read("outbox").filter(F.col("processed_at").isNull()).count() == 3

    # --- stage 2: drain + fetch -------------------------------------------
    drained = OB.drain_budgeted(store.read("outbox"), "fetch_article", budget=16)
    from worker_spark.sources.fetch_sim import fetch_articles

    fetched_raw = fetch_articles(
        drained.select("job_key"), lambda d, i: UPSTREAM.get((d, i)), num_partitions=2
    )
    assert fetched_raw.filter(~F.col("found")).count() == 0

    fetched = fetched_raw.select(
        "dictionary",
        F.col("article_id").alias("id"),
        F.from_json("data_json", ARTICLE_DATA).alias("data"),
    )

    # --- stage 3: store (analysis + upsert + links + refs + discovery) ----
    analyzed = S.analyze_articles(fetched)
    list_meta = upstream_list.select(
        "dictionary", F.col("article_id").alias("id"), "revision", "updated_at"
    )
    stored_rows = (
        analyzed.join(list_meta, ["dictionary", "id"])
        .select(
            "dictionary",
            "id",
            "data",
            "revision",
            "updated_at",
            F.lit("pending_index").alias("sync_status"),
        )
    )
    store.upsert("articles", stored_rows, keys=["dictionary", "id"])

    store.write(
        "article_bibliography",
        S.replace_links(
            store.read("article_bibliography"),
            S.article_bibliography_rows(analyzed),
            ["dictionary", "article_id"],
        ),
    )
    store.write(
        "article_place",
        S.replace_links(
            store.read("article_place"),
            S.article_place_rows(analyzed),
            ["dictionary", "article_id"],
        ),
    )
    store.write("inline_ref_parse", S.inline_ref_rows(fetched))

    arts = store.read("articles")
    assert arts.count() == 4  # 2 seeded + 2 new (no:2 updated in place)
    no2 = arts.filter((F.col("dictionary") == "no") & (F.col("id") == 2)).collect()[0]
    assert no2["revision"] == 2 and no2["sync_status"] == "pending_index"

    bib = spark.createDataFrame(
        [(i, c, a, t, y, [], TS, "idle", TS) for (i, c, a, t, y) in FX.BIB_ROWS],
        schema=BIBLIOGRAPHY,
    )
    places = spark.createDataFrame(
        [(11, "Nordfjell", "Nordfjell i Fjella", "bygd", None, 0, None, 0, TS, "idle", TS)],
        schema=PLACES,
    )
    follow_ups = S.missing_entity_jobs(analyzed, bib, places, store.read("articles"))
    outbox2 = OB.append_jobs(
        OB.mark_processed(store.read("outbox"), drained.select("id")), follow_ups
    )
    store.write("outbox", outbox2)
    keys = {
        (r["job_type"], r["job_key"])
        for r in store.read("outbox").filter(F.col("processed_at").isNull()).collect()
    }
    # discovery: unknown bibl 300/301, unknown places 12/13/14, related
    # articles 5001/2002 crawl, and batch_index for each stored article
    assert ("fetch_bibliography", "300") in keys
    assert ("fetch_place", "14") in keys
    assert ("fetch_article", "no:5001") in keys
    assert ("batch_index", "no:1") in keys and ("batch_index", "bm:3") in keys

    # --- stage 4: batch-index drain + doc build ---------------------------
    bdrain = OB.drain_batch_index(store.read("outbox"), target_keys=5000)
    batch_keys = {r["article_key"] for r in OB.coalesced_batch_keys(bdrain).collect()}
    assert batch_keys == {"no:1", "no:2", "bm:3"}

    claimed = arts.filter(
        F.concat_ws(":", "dictionary", "id").isin(*batch_keys)
    ).select("dictionary", "id", "data")
    ap = store.read("article_place", ARTICLE_PLACE)
    concepts = spark.createDataFrame([("no", "norr.", "norrønt")], schema=CONCEPTS)
    docs = build_search_documents(claimed, bib, places, ap, concepts)
    # sever lineage from the state dirs: later stages overwrite them and a
    # lazy re-execution would read swapped-away files (copy-on-write store)
    docs = docs.localCheckpoint(eager=True)
    by_id = {r["doc_id"]: r for r in docs.collect()}
    assert set(by_id) == {"no_1", "no_2", "bm_3"}
    assert by_id["no_1"]["older_source_codes"] == ["FiktB"]
    assert by_id["no_1"]["dialect_place_names"] == ["Nordfjell i Fjella"]
    assert by_id["bm_3"]["inflections"][0] == "fjordsting"

    # --- stage 5: mark idle + settledness ---------------------------------
    done = OB.mark_processed(store.read("outbox"), bdrain.select("id"))
    store.write("outbox", done)
    idle_rows = claimed.select("dictionary", "id").withColumn(
        "sync_status", F.lit("idle")
    )
    arts2 = (
        store.read("articles")
        .join(idle_rows.withColumnRenamed("sync_status", "_s"), ["dictionary", "id"], "left")
        .withColumn("sync_status", F.coalesce(F.col("_s"), F.col("sync_status")))
        .drop("_s")
    )
    store.write("articles", arts2)

    remaining = store.read("outbox").filter(F.col("processed_at").isNull())
    # fetch/bibl/place crawl jobs still pending -> NOT settled
    counts = S.pending_counts(store.read("outbox"))
    assert counts["outbox"] == remaining.count() > 0
    gate = S.SettlednessGate(settle_seconds=0)
    assert gate.check(counts["outbox"] == 0, "c", now=0) is False

    # consume the rest, then settled -> snapshot
    all_ids = store.read("outbox").filter(F.col("processed_at").isNull()).select("id")
    store.write("outbox", OB.mark_processed(store.read("outbox"), all_ids))
    counts = S.pending_counts(store.read("outbox"))
    assert counts["outbox"] == 0
    gate.check(True, "c", now=0)
    assert gate.check(True, "c", now=1) is True

    sid = S.snapshot_publish(
        str(tmp_path / "snaps"),
        {"articles": store.read("articles"), "docs": docs},
        "2026-01-02T00:00:00",
    )
    restored = spark.read.parquet(str(tmp_path / "snaps" / sid / "articles"))
    assert restored.count() == 4
