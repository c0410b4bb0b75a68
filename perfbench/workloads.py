"""The workloads. Each drives public functions of ``worker_spark``
from outside, as a closed loop with one client: the caller waits for each
op before it sends the next.

A workload has four phases, called by ``run.py``:

* ``setup()`` builds the initial state (timed as set-up);
* ``prepare(i)`` generates the inputs of op ``i`` (untimed);
* ``run_op(i)`` runs op ``i`` (timed) and returns an ``Op``;
* ``check()`` compares the outputs with a batch recomputation (untimed)
  and raises ``GateError`` on any mismatch.

``self.span(name)`` marks a layer boundary inside an op the benchmark
composes itself. It does nothing unless the run is traced.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import os
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench import inputs as I

N_BUCKETS = 8


class GateError(RuntimeError):
    """An output differs from its batch reference."""


@dataclass
class Op:
    kind: str  # "cycle", "batch", "query" or "write"
    useful: int  # articles applied / docs ingested / queries answered
    input_bytes: int


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


class Workload:
    name = ""
    warmup_ops = 0
    # timed ops run in whole groups, so every run times the same op mix
    group = 1

    def __init__(self, spark: SparkSession, work_dir: str, seed: int, scale: float = 1.0):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.tracer = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def size(self, n: int, floor: int = 1) -> int:
        return max(floor, int(n * self.scale))

    def trace_counters(self) -> dict[str, float]:
        """Counts the traced run adds after an op (outside its timing)."""
        return {}

    def _frame(self, rows) -> DataFrame:
        """(doc_id, text) rows of the document workloads as a frame."""
        return self.spark.createDataFrame(rows, "doc_id long, text string")


# ---------------------------------------------------------------------------
# sync_cycle
# ---------------------------------------------------------------------------


class SyncCycle(Workload):
    """Incremental sync cycles of the paper's dataflow over a synthetic
    dictionary, composed the way tests/test_end_to_end_sync.py composes
    them, with state in BucketedParquetStateStore. Each stage's output is
    materialized before the next stage runs, so a stage's span holds its
    own compute and later writes never re-read swapped-away files."""

    name = "sync_cycle"
    # no warm-up cycle, which would add a whole cycle to every run's
    # time: the timed cycle follows the initial full sync, which has run
    # most of its plans once
    warmup_ops = 0
    N_ARTICLES = 300

    def setup(self) -> None:
        from worker_spark import schemas as SC
        from worker_spark.plans import sync as S
        from worker_spark.plans.bucketed_state import BucketedParquetStateStore

        spark = self.spark
        self.up = I.Dictionary(self.seed, self.size(self.N_ARTICLES, 200))
        self.store = store = BucketedParquetStateStore(
            spark, os.path.join(self.work_dir, "state"), N_BUCKETS)
        self.out = os.path.join(self.work_dir, "search")
        self.batches = 0
        ts = datetime.datetime(2026, 1, 1)
        # dimension tables, maintained by stages outside this workload
        self.bib = spark.createDataFrame(
            [(i, code, f"Forfattar {i}", f"Tittel {i}", str(1850 + i % 150), [],
              ts, "idle", ts) for i, code in enumerate(self.up.codes, start=1)],
            SC.BIBLIOGRAPHY).localCheckpoint(eager=True)
        self.places = spark.createDataFrame(
            [(i, f"Stad{i}", f"Stad{i} i Fylke{i % 11}", "bygd", None, i, None, 0,
              ts, "idle", ts) for i in range(1, I.N_PLACES + 1)],
            SC.PLACES).localCheckpoint(eager=True)
        self.concepts = spark.createDataFrame(I.CONCEPTS, SC.CONCEPTS)
        # the initial full sync: every article stored, linked and indexed.
        # Its writes name every bucket, which skips their touched-bucket
        # jobs (a set that missed a row's bucket would fail loudly).
        every = list(range(N_BUCKETS))
        fetched = self._fetched(sorted(self.up.revisions)).localCheckpoint(eager=True)
        analyzed = S.analyze_articles(fetched).localCheckpoint(eager=True)
        store.write("articles", self._stored(analyzed, self._listing(), "idle"), keys=["id"],
                    touched=every)
        for table, rows in (
            ("article_bibliography", S.article_bibliography_rows(analyzed)),
            ("article_place", S.article_place_rows(analyzed)),
            ("inline_ref_parse", S.inline_ref_rows(fetched)),
        ):
            store.write(table, rows, keys=["article_id"], touched=every)
        store.write("outbox", spark.createDataFrame([], SC.JOB_OUTBOX), keys=["id"], touched=[])
        self._sink(self._documents(analyzed, store.read("article_place")), None)

    # --- inputs -----------------------------------------------------------

    def _listing(self) -> DataFrame:
        pdf = pd.DataFrame(self.up.listing(),
                           columns=["dictionary", "article_id", "revision", "updated_at"])
        return self.spark.createDataFrame(
            pdf, "dictionary string, article_id long, revision long, updated_at string")

    def _fetched(self, keys) -> DataFrame:
        from worker_spark.schemas import ARTICLE_DATA

        pdf = pd.DataFrame(self.up.json_rows(keys), columns=["dictionary", "id", "data_json"])
        raw = self.spark.createDataFrame(pdf, "dictionary string, id long, data_json string")
        return raw.select("dictionary", "id",
                          F.from_json("data_json", ARTICLE_DATA).alias("data"))

    def prepare(self, i: int) -> None:
        before = dict(self.up.revisions)
        self.up.churn()
        after = self.up.revisions
        changed = [k for k, r in after.items() if before.get(k) != r]
        gone = [k for k in before if k not in after]
        bodies = {k: self.up.article(*k) for k in changed}
        self.resolver = lambda d, i: bodies.get((d, i))
        self.listing = self._listing().localCheckpoint(eager=True)
        self.expected_changes = len(changed) + len(gone)
        self.input_bytes = sum(len(json.dumps(b)) for b in bodies.values())

    # --- one cycle ----------------------------------------------------------

    @staticmethod
    def _stored(analyzed: DataFrame, listing: DataFrame, status: str) -> DataFrame:
        meta = listing.select("dictionary", F.col("article_id").alias("id"),
                              "revision", "updated_at")
        return analyzed.join(meta, ["dictionary", "id"]).select(
            "dictionary", "id", "data", "revision", "updated_at",
            F.lit(status).alias("sync_status"))

    def _documents(self, articles: DataFrame, article_place: DataFrame) -> DataFrame:
        from worker_spark.plans.search_documents import build_search_documents

        return build_search_documents(articles.select("dictionary", "id", "data"),
                                      self.bib, self.places, article_place, self.concepts)

    def _sink(self, docs: DataFrame, deleted: DataFrame | None) -> None:
        from worker_spark.plans.sinks import write_search_documents

        name = f"batch-{self.batches:05d}"
        write_search_documents(docs, os.path.join(self.out, "docs", name))
        if deleted is not None:
            deleted.write.parquet(os.path.join(self.out, "deletes", name))
        self.batches += 1

    def run_op(self, i: int) -> Op:
        from worker_spark.plans import outbox as OB
        from worker_spark.plans import sync as S
        from worker_spark.schemas import ARTICLE_DATA
        from worker_spark.sources.fetch_sim import fetch_articles

        store, listing = self.store, self.listing
        with self.span("plans.sync.diff"):
            diff = S.diff_job(listing, store.read("articles")).localCheckpoint(eager=True)
        with self.span("plans.outbox"):
            # absent upstream: a recheck fetch confirms the delete
            recheck = diff.filter(F.col("classification") == "missing_recheck").select(
                F.lit("fetch_article").alias("job_type"),
                F.concat_ws(":", "dictionary", "article_id").alias("job_key"),
                F.to_json(F.struct("dictionary", "article_id")).alias("payload"))
            jobs = S.fetch_jobs_from_diff(diff).unionByName(recheck)
            store.write("outbox", OB.append_jobs(store.read("outbox"), jobs))
            outbox = store.read("outbox").localCheckpoint(eager=True)
            drained = OB.drain_budgeted(outbox, "fetch_article", budget=1 << 30)
        with self.span("sources.fetch"):
            fetched_raw = fetch_articles(drained.select("job_key"), self.resolver,
                                         num_partitions=4).localCheckpoint(eager=True)
        with self.span("extraction.analyze"):
            found = fetched_raw.filter("found").select(
                "dictionary", F.col("article_id").alias("id"),
                F.from_json("data_json", ARTICLE_DATA).alias("data"))
            analyzed = S.analyze_articles(found).localCheckpoint(eager=True)
        ids = fetched_raw.select(F.col("article_id").alias("id")).distinct()
        with self.span("plans.sync.store"):
            # this cycle indexes every article it stores, so the stored
            # rows go straight to idle: pending_index is never visible
            # between cycles
            store.delete_then_insert(
                "articles", delete_keys=ids, inserts=self._stored(analyzed, listing, "idle"),
                schema=store.read("articles").schema, bucket_col="id")
        with self.span("plans.sync.links"):
            link_ids = ids.select(F.col("id").alias("article_id"))
            for table, rows in (
                ("article_bibliography", S.article_bibliography_rows(analyzed)),
                ("article_place", S.article_place_rows(analyzed)),
                ("inline_ref_parse", S.inline_ref_rows(found)),
            ):
                store.delete_then_insert(table, delete_keys=link_ids, inserts=rows,
                                         schema=store.read(table).schema,
                                         bucket_col="article_id")
        with self.span("plans.sync.discovery"):
            follow_ups = S.missing_entity_jobs(analyzed, self.bib, self.places,
                                               store.read("articles"))
            outbox = OB.append_jobs(OB.mark_processed(outbox, drained.select("id")),
                                    follow_ups).localCheckpoint(eager=True)
        with self.span("plans.outbox"):
            bdrain = OB.drain_batch_index(outbox, target_keys=1 << 30)
            keys = OB.coalesced_batch_keys(bdrain).select(
                F.split("article_key", ":").getItem(0).alias("dictionary"),
                F.split("article_key", ":").getItem(1).cast("long").alias("id"))
        with self.span("plans.search_documents.build"):
            claimed = analyzed.join(keys, ["dictionary", "id"], "left_semi")
            docs = self._documents(claimed, store.read("article_place")).localCheckpoint(
                eager=True)
        with self.span("plans.sinks.write"):
            deleted = fetched_raw.filter(~F.col("found")).select(
                F.concat_ws("_", "dictionary", "article_id").alias("doc_id"))
            self._sink(docs, deleted)
        with self.span("plans.outbox"):
            # the batch_index jobs are done; the dimension stages
            # (bibliography, places) are out of scope, so their follow-up
            # jobs are consumed here; fetch_article ones carry over to the
            # next cycle's drain
            done = outbox.filter(F.col("processed_at").isNull()
                                 & (F.col("job_type") != "fetch_article"))
            store.write("outbox", OB.gc_processed(
                OB.mark_processed(outbox, done.select("id")), 0))
        self.last = {"diff": diff, "fetched": fetched_raw}
        return Op("cycle", self.expected_changes, self.input_bytes)

    def trace_counters(self) -> dict[str, float]:
        cls = dict(self.last["diff"].groupBy("classification").count().collect())
        listed = sum(v for k, v in cls.items() if not k.startswith("missing"))
        useful = sum(cls.get(k, 0) for k in ("changed", "new", "missing_recheck"))
        found = dict(self.last["fetched"].groupBy("found").count().collect())
        return {
            "plans.sync.diff_useful_ratio": useful / max(listed, 1),
            "sources.fetch_found_ratio": found.get(True, 0) / max(sum(found.values()), 1),
        }

    # --- gates -------------------------------------------------------------

    def written_documents(self) -> DataFrame:
        """The search index the sink batches build: the latest version of
        each document, minus documents deleted after it."""
        spark = self.spark
        docs_dir = os.path.join(self.out, "docs")
        del_dir = os.path.join(self.out, "deletes")
        frames, deletes = [], []
        for n, name in enumerate(sorted(os.listdir(docs_dir))):
            frames.append(spark.read.parquet(os.path.join(docs_dir, name))
                          .withColumn("_batch", F.lit(n)))
            if os.path.isdir(os.path.join(del_dir, name)):
                deletes.append(spark.read.schema("doc_id string")
                               .parquet(os.path.join(del_dir, name))
                               .withColumn("_batch", F.lit(n)))
        allv = frames[0]
        for f in frames[1:]:
            allv = allv.unionByName(f)
        latest = allv.groupBy("doc_id").agg(F.max("_batch").alias("_batch"))
        versions = allv.join(latest, ["doc_id", "_batch"])
        if deletes:
            gone = deletes[0]
            for f in deletes[1:]:
                gone = gone.unionByName(f)
            gone = gone.groupBy("doc_id").agg(F.max("_batch").alias("_del"))
            versions = versions.join(gone, "doc_id", "left").filter(
                F.col("_del").isNull() | (F.col("_del") < F.col("_batch"))).drop("_del")
        return versions.drop("_batch")

    def reference_documents(self) -> DataFrame:
        """A from-scratch build over the final upstream corpus."""
        from worker_spark.plans import sync as S

        fetched = self._fetched(sorted(self.up.revisions)).localCheckpoint(eager=True)
        ap = S.article_place_rows(S.analyze_articles(fetched))
        return self._documents(fetched, ap)

    def check(self) -> None:
        from worker_spark.plans.sync import table_fingerprint

        want = self.reference_documents()
        got = self.written_documents().select(*want.columns)
        fg, fw = table_fingerprint(got), table_fingerprint(want)
        if fg != fw:
            raise GateError(f"sync_cycle: search documents fingerprint {fg} != "
                            f"from-scratch build {fw}")
        for table in self.store.tables():
            try:
                self.store.verify_layout(table)
            except RuntimeError as exc:
                raise GateError(f"sync_cycle: {exc}") from exc


# ---------------------------------------------------------------------------
# dedup_ingest
# ---------------------------------------------------------------------------


class DedupIngest(Workload):
    """Micro-batches through StreamingNearDupPipeline.apply_batch, the
    foreachBatch body of the near-duplicate pipeline; state grows."""

    name = "dedup_ingest"
    warmup_ops = 2
    N_INITIAL = 1000
    BATCH = 250

    def setup(self) -> None:
        from worker_spark.streaming.dedup_pipeline import StreamingNearDupPipeline

        self.stream = I.DocStream(self.seed)
        self.pipe = StreamingNearDupPipeline(
            self.spark, os.path.join(self.work_dir, "neardup"), n_buckets=N_BUCKETS,
            threshold=0.5)
        self.pipe.apply_batch(self._frame(self.stream.batch(self.size(self.N_INITIAL, 20))),
                              batch_id=0)

    def prepare(self, i: int) -> None:
        rows = self.stream.batch(self.size(self.BATCH, 5))
        self.batch = self._frame(rows)
        self.n = len(rows)
        self.input_bytes = sum(len(t) for _, t in rows)

    def run_op(self, i: int) -> Op:
        self.pipe.apply_batch(self.batch, batch_id=i + 1)
        return Op("batch", self.n, self.input_bytes)

    def reference_clusters(self) -> DataFrame:
        from worker_spark.operators.components import cluster_assignments
        from worker_spark.operators.dedup import minhash_lsh_dedup_pairs

        live = self._frame(sorted(self.stream.live.items()))
        return cluster_assignments(
            minhash_lsh_dedup_pairs(live, threshold=0.5).select("id_a", "id_b"))

    def check(self) -> None:
        got = _rows(self.pipe.cluster_assignments())
        want = _rows(self.reference_clusters())
        if got != want:
            raise GateError(f"dedup_ingest: {len(got)} served cluster rows differ from "
                            f"{len(want)} batch reference rows")
        try:
            self.pipe.fsck()
        except RuntimeError as exc:
            raise GateError(f"dedup_ingest: {exc}") from exc


# ---------------------------------------------------------------------------
# bm25_serve
# ---------------------------------------------------------------------------


class Bm25Serve(Workload):
    """BM25 top-k reads on one IncrementalRetrievalIndex with an update
    batch (mostly corrections) as every third op."""

    name = "bm25_serve"
    WRITE_EVERY = 3
    # the first write and the first query after the initial build run
    # slower than later ones: both are untimed
    warmup_ops = 2
    # two writes and four queries
    group = 2 * WRITE_EVERY
    N_DOCS = 500
    WRITE_DOCS = 50
    K = 10
    N_CHECK_QUERIES = 12

    def setup(self) -> None:
        from worker_spark.streaming.retrieval_index import IncrementalRetrievalIndex

        self.stream = I.DocStream(self.seed)
        self.idx = IncrementalRetrievalIndex(
            self.spark, os.path.join(self.work_dir, "index"), n_buckets=N_BUCKETS)
        self.idx.apply_batch(self._frame(self.stream.fresh(self.size(self.N_DOCS, 50))),
                             batch_id=0)
        self.queries = I.queries(self.seed, self.stream, 1000)
        self.n_writes = 0

    def prepare(self, i: int) -> None:
        self.write = i % self.WRITE_EVERY == 0
        if self.write:
            n = self.size(self.WRITE_DOCS, 5)
            rows = self.stream.corrections(n - n // 5) + self.stream.fresh(n // 5)
            self.batch = self._frame(rows)
            self.input_bytes = sum(len(t) for _, t in rows)
        else:
            self.query = self.queries[i % len(self.queries)]

    def run_op(self, i: int) -> Op:
        if self.write:
            self.n_writes += 1
            self.idx.apply_batch(self.batch, batch_id=self.n_writes)
            return Op("write", 0, self.input_bytes)
        # bm25_topk only builds the plan: the span holds its collect
        with self.span("streaming.retrieval_index.query"):
            self.idx.bm25_topk([self.query], k=self.K).collect()
        return Op("query", 1, 0)

    def check_queries(self) -> list[str]:
        return I.queries(self.seed + 1, self.stream, self.N_CHECK_QUERIES)

    def check(self) -> None:
        from worker_spark.operators.retrieval import bm25_topk

        qs = self.check_queries()
        got = _rows(self.idx.bm25_topk(qs, k=self.K))
        live = self._frame(sorted(self.stream.live.items()))
        want = _rows(bm25_topk(live, qs, k=self.K))
        if got != want:
            raise GateError(f"bm25_serve: served top-{self.K} for {len(qs)} queries "
                            "differs from operators.retrieval.bm25_topk")


# BENCHMARK.json lists bm25_serve and sync_cycle. dedup_ingest runs by hand
# (--workload dedup_ingest): on a 4-core host one run of it takes about 80 s
# even at 50-doc batches (its initial batch alone ~26 s, each batch ~12 s).
# The listed workloads are sized so that a run, set-up and gates included,
# takes about a minute there, and a sync_cycle run alone already takes
# 65-95 s.
WORKLOADS = {w.name: w for w in (SyncCycle, DedupIngest, Bm25Serve)}
