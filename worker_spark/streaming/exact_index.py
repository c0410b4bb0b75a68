"""Incrementally-maintained EXACT dedup index (content-hash): the
fifth maintained index on the shared bucketed-state MERGE core, and
the one a 100 TB pipeline consults FIRST — exact dedup is the cheapest
pass, and production systems keep a content-hash index current rather
than re-hashing the corpus per ingest (the reference's add-or-replace
index sink discipline, src/indexing.rs:61-115 / src/storage.rs:118-167,
applied to a fingerprint table instead of search documents).

Two state tables, same layout contract as the SimHash/MinHash indexes:

* ``hashes`` (content_hash, doc_id) — bucketed by CONTENT_HASH, so a
  screening batch reads only the buckets its own hashes land in, and
  cluster serving groups within buckets (the groupBy key IS the bucket
  key — map-side partials never cross buckets for the heavy column);
* ``fps``    (doc_id, content_hash) — bucketed by DOC_ID; the manifest:
  an updated document's old hash row lives in the bucket of its OLD
  content hash, recoverable only from stored state.

Both tables are written by ``BucketedParquetStateStore.reindex``:
hashes (derived) before fps (manifest), the crash order its module
docstring argues.

Delete semantics: a batch document with empty/whitespace-only text has
no content — its rows are removed and nothing is re-inserted.

The payoff read side:

* ``dedup_clusters()`` == operators/dedup.exact_dedup over the corpus
  EXACTLY, served from maintained state with the corpus text never
  re-read and never re-hashed — which lets the registered streaming
  row reuse the batch dedup_exact oracle verbatim (one oracle, two
  rows — the family's established pattern, fifth instance);
* ``screen_batch(docs)`` — per-ingest exact-dup lookup: md5 the batch
  (map-only), read only the batch hashes' bucket FILES, one equi-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.plans.bucketed_state import BucketedParquetStateStore
from worker_spark.streaming.feed import DOC_FEED_SCHEMA, has_text

HASHES_SCHEMA = T.StructType(
    [
        T.StructField("content_hash", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
    ]
)
FPS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("content_hash", T.StringType(), False),
    ]
)


def _content_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, content_hash) with NULL hash for contentless docs —
    ONE definition shared by maintenance, screening and the tests
    (hash identical to operators/dedup.exact_dedup's md5(text))."""
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.when(has_text(), F.md5(F.col("text"))).alias("content_hash"),
    )


class IncrementalExactIndex:
    """Content-hash state with per-batch bucket-scoped MERGE maintenance
    and cluster/screening read sides served without corpus text."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    HASHES = "hashes"
    FPS = "fps"

    def __init__(self, spark: SparkSession, root: str, n_buckets: int = 16):
        self.spark = spark
        self.store = BucketedParquetStateStore(spark, root, n_buckets)

    # --- maintenance ----------------------------------------------------

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
        batch_ids: DataFrame | None = None,
        doc_buckets: list[int] | None = None,
    ) -> None:
        """The foreachBatch body: delete-then-insert the batch documents'
        hash rows (an updated document's content hash changes, so its
        row MOVES between hash buckets; a replayed batch rewrites
        identical rows) and refresh the per-doc manifest. Touched hash
        buckets = old-hash buckets ∪ new-hash buckets — exact and
        bounded, the old side recovered from the stored manifest.

        A batch carrying several versions of one doc_id is reduced to
        one row per key FIRST — last-wins (feed.last_wins); without it
        a document would keep BOTH versions' hash rows and serve as its
        own duplicate cluster.

        A handed-over ``batch_ids`` says the caller already ran
        last_wins on ``docs`` and derived their id frame (the composed
        dedup pipeline does) — the reduction is idempotent, so skipping
        the second pass changes nothing but the job count.
        ``doc_buckets`` likewise hands over the ids' bucket ids
        (same-modulus stores only). Checkpoints are LAZY (r15
        job-count discipline): each is materialized by reindex's
        bucket collects, which run before either table's swap."""
        from worker_spark.streaming.feed import batch_doc_ids, last_wins

        store = self.store
        if batch_ids is None:
            batch_ids = batch_doc_ids(docs)
            docs = last_wins(docs, ["doc_id"])
        new_fps = _content_hashes(docs).localCheckpoint(eager=False)
        inserts = new_fps.filter(F.col("content_hash").isNotNull())
        store.reindex(
            batch_ids,
            self.FPS,
            FPS_SCHEMA,
            inserts.select("doc_id", "content_hash"),
            self.HASHES,
            HASHES_SCHEMA,
            inserts.select("content_hash", "doc_id"),
            "content_hash",
            lambda old: old.select(store.bucket_of("content_hash")),
            id_buckets=doc_buckets,
        )

    def fsck(self) -> dict[str, int]:
        """Index-level consistency check (after surgery/migration):
        placement for both tables, then derivation — the hashes table
        must equal the column-swapped manifest EXACTLY (an orphan hash
        row clusters a document that no longer exists; a missing one
        hides a real duplicate). Raises on violation; returns checked
        row counts."""
        counts = {
            self.HASHES: self.store.verify_layout(self.HASHES),
            self.FPS: self.store.verify_layout(self.FPS),
        }
        want = self.fps().select("content_hash", "doc_id")
        got = self.hashes()
        drift = got.exceptAll(want).count() + want.exceptAll(got).count()
        if drift:
            raise RuntimeError(
                f"{self.store.root}: hashes drifted from the stored "
                f"manifest by {drift} rows — reseed or replay"
            )
        return counts

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalExactIndex":
        """Resize into a fresh root (blue/green re-shard). No manifest
        transform needed: neither table stores bucket ids in row data —
        the generic clone is already correct under a new modulus."""
        self.store.clone_rebucketed(new_root, n_buckets)
        return IncrementalExactIndex(self.spark, new_root)

    # --- read side --------------------------------------------------------

    def hashes(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.HASHES, HASHES_SCHEMA, buckets)

    def fps(self) -> DataFrame:
        return self.store.read(self.FPS, FPS_SCHEMA)

    def dedup_clusters(self) -> DataFrame:
        """Exact-dup clusters from the MAINTAINED state alone —
        (content_hash, canonical_id, n_dupes), min-id survivor — equal
        to operators/dedup.exact_dedup over the corpus, with the corpus
        text never read and never re-hashed. The groupBy key is the
        bucket key, so partials never cross buckets."""
        return self.hashes().groupBy("content_hash").agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_dupes"),
        )

    def screen_batch(self, docs: DataFrame) -> DataFrame:
        """Screen an ingest batch against the MAINTAINED index: map-only
        batch hashes, one equi-join reading ONLY the batch hashes'
        bucket files. Output (new_id, corpus_id, content_hash) — every
        stored document whose content equals a batch document's."""
        store = self.store
        qfps = (
            _content_hashes(docs)
            .filter(F.col("content_hash").isNotNull())
            # lazy: materialized by the probe collect just below
            .localCheckpoint(eager=False)
        )
        probe_buckets = store.touched_buckets(qfps, "content_hash")
        idx = self.hashes(buckets=probe_buckets)
        return (
            qfps.alias("a")
            .join(
                idx.alias("b"),
                F.col("a.content_hash") == F.col("b.content_hash"),
            )
            .filter(F.col("a.doc_id") != F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("new_id"),
                F.col("b.doc_id").alias("corpus_id"),
                F.col("a.content_hash").alias("content_hash"),
            )
        )
