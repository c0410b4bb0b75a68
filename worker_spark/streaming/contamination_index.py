"""Incrementally-maintained BENCHMARK-DECONTAMINATION screen: the
twelfth maintained structure on the shared bucketed-state MERGE core
(VERDICT r12 item 3 — the one LLM-pipeline gate that was still
batch-only: operators/text.benchmark_contamination re-shingled the
whole corpus per run). The reference's add-or-replace index sink
discipline (src/indexing.rs:61-115) applied to the eval-overlap
decision table.

Offline/online split (the centroid/LM-pin argument, fourth instance):
the EVAL SET is static by definition — benchmark text does not change
with the corpus — so its n-gram table pins in the state root at
creation, and every ingest batch screens against it FROM STATE. The
one corpus-derived knob, the stop-shingle df cap, is the interesting
part: the batch operator drops any n-gram whose document frequency
across eval + corpus exceeds ``df_cap`` BEFORE counting overlaps, and
that df moves as the corpus grows. The maintained form tracks it with
TOUCHED-SCOPE exactness rather than pinning it (pinning would diverge
from the batch operator and break the one-oracle-for-both contract):

* a batch can only change the df of shingles it adds or removes, so
  recomputing df for the batch's own shingles is O(batch);
* a shingle whose liveness FLIPS (df crosses the cap in either
  direction) invalidates stored overlap counts — but the fan-out is
  bounded: at an upward crossing the shingle lives in ~cap + batch
  documents, at a downward crossing in <= cap; those documents' pair
  rows (and the eval docs' gram counts) are re-derived, nothing else.

State tables (root, n_buckets):

* ``evg``   (shingle, eval_id)     — bucketed by SHINGLE; pinned at
  creation: the eval set's distinct n-grams, the screen's probe side.
* ``evman`` (eval_id, shingle)     — bucketed by EVAL_ID; pinned: the
  eval manifest, read back only to re-count an eval doc's live grams
  after a cap crossing.
* ``post``  (shingle, corpus_id)   — bucketed by SHINGLE: corpus
  postings (the retrieval index's orientation).
* ``man``   (corpus_id, shingle)   — bucketed by CORPUS_ID: the
  manifest — an updated document's old posting rows live in the
  buckets of its OLD shingles, recoverable only from stored state.
* ``hot``   (shingle)              — bucketed by SHINGLE: the dead
  (df > cap) shingles — small by Zipf construction, the batch
  operator's ``hot`` frame materialized.
* ``evsz``  (eval_id, n_eval_grams)— bucketed by EVAL_ID: each eval
  doc's LIVE gram count, the contamination-rate denominator.
* ``pairs`` (corpus_id, eval_id, n_shared) — bucketed by CORPUS_ID:
  the decision table, n_shared = live shared distinct n-grams.
* ``config`` one-row pin (n, min_shared, df_cap) — these decide which
  pairs exist in state; reopening with different values is refused
  loudly (the curation-index convention).
* ``journal`` (jkey, batch_id, doc_id, is_eval) — single-bucket scope
  journal (the components-index commit device): a batch's re-derive
  scope depends on which shingles CROSSED the cap, which is computed
  against the pre-batch ``hot`` — a replay of a torn batch would see
  the already-updated ``hot``, find no crossings, and silently skip
  the re-derives. The journal records the full scope BEFORE any swap;
  a replay of the SAME batch_id unions it back in.

Declared order: creation is one transaction, evg → evman → hot → evsz
→ post → man → pairs → config (the witness last). A batch is two
transactions: journal → post (data) → man (manifest — the exact-index
argument: a torn batch replays against the stale manifest, a superset
of everywhere the document's rows can be) → hot, then evsz → pairs,
which read the post-swap hot set and so cannot join the first. Every
write is a keyed MERGE derived from pre-transaction state, so replay
converges.

The contamination RATE is never stored: ``decisions()`` computes
round(n_shared / n_eval_grams, 6) at serve time from ``pairs`` ×
``evsz``, so a cap crossing inside an eval document re-prices every
one of its pairs through one updated evsz row instead of a pairs-wide
rewrite.

Convergence contract (pinned by tests): streaming the corpus through
apply_batch — including stale-then-corrected update batches — yields a
``decisions()`` table EXACTLY equal to
operators/text.benchmark_contamination over (pinned eval docs ∪ live
corpus docs), which is what lets the registered streaming row reuse
the batch contamination oracle verbatim (one oracle, two rows — the
family's pattern, ninth instance).

Scale shape at 100 TB: per batch O(batch shingles) winnowing-side work
+ O(touched buckets) rewrite + a crossing fan-out bounded by
df_cap + batch; the corpus is never re-shingled, the eval set never
re-read. No window over a hot key, no cartesian, no driver collect
beyond bounded bucket-id lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.plans.bucketed_state import BucketedParquetStateStore, local_frame
from worker_spark.streaming.feed import DOC_FEED_SCHEMA, has_text

EVG_SCHEMA = T.StructType(
    [
        T.StructField("shingle", T.StringType(), False),
        T.StructField("eval_id", T.LongType(), False),
    ]
)
EVMAN_SCHEMA = T.StructType(
    [
        T.StructField("eval_id", T.LongType(), False),
        T.StructField("shingle", T.StringType(), False),
    ]
)
POST_SCHEMA = T.StructType(
    [
        T.StructField("shingle", T.StringType(), False),
        T.StructField("corpus_id", T.LongType(), False),
    ]
)
MAN_SCHEMA = T.StructType(
    [
        T.StructField("corpus_id", T.LongType(), False),
        T.StructField("shingle", T.StringType(), False),
    ]
)
HOT_SCHEMA = T.StructType(
    [T.StructField("shingle", T.StringType(), False)]
)
EVSZ_SCHEMA = T.StructType(
    [
        T.StructField("eval_id", T.LongType(), False),
        T.StructField("n_eval_grams", T.LongType(), False),
    ]
)
PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("corpus_id", T.LongType(), False),
        T.StructField("eval_id", T.LongType(), False),
        T.StructField("n_shared", T.LongType(), False),
    ]
)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("config_id", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
        T.StructField("min_shared", T.LongType(), False),
        T.StructField("df_cap", T.LongType(), False),
    ]
)
JOURNAL_SCHEMA = T.StructType(
    [
        T.StructField("jkey", T.LongType(), False),
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("is_eval", T.BooleanType(), False),
    ]
)


def _grams(docs: DataFrame, n: int) -> DataFrame:
    """Distinct word n-grams of the LIVE documents (empty/whitespace
    text is the delete marker) — the batch operator's shingle pass,
    applied to a batch only."""
    from worker_spark.operators.dedup import word_shingles

    live = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    ).filter(has_text())
    return word_shingles(live, n=n).select(
        F.col("id").alias("doc_id"), "shingle"
    )


class IncrementalContaminationScreen:
    """Materialized eval-overlap decisions with per-batch bucket-scoped
    MERGE maintenance and a decisions() read side equal to the batch
    benchmark_contamination exactly."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    EVG = "evg"
    EVMAN = "evman"
    POST = "post"
    MAN = "man"
    HOT = "hot"
    EVSZ = "evsz"
    PAIRS = "pairs"
    CONFIG = "config"
    JOURNAL = "journal"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        eval_docs: DataFrame | None = None,
        n: int = 5,
        min_shared: int = 2,
        df_cap: int = 1000,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        created = self.store.has_schema_witness(self.CONFIG)
        if created:
            row = self.store.read(self.CONFIG, CONFIG_SCHEMA).collect()[0]
            pinned = (row["n"], row["min_shared"], row["df_cap"])
            if pinned != (n, min_shared, df_cap):
                raise ValueError(
                    f"{root}: screen state was built with (n, min_shared,"
                    f" df_cap)={pinned}, reopened with "
                    f"{(n, min_shared, df_cap)} — these decide which "
                    "pairs exist in state; rebuild into a fresh root to "
                    "change them"
                )
            if eval_docs is not None:
                raise ValueError(
                    f"{root}: the eval set is already pinned for this "
                    "root — a decontamination screen is defined BY its "
                    "eval set; screen against a new benchmark in a "
                    "fresh root"
                )
        elif eval_docs is not None:
            self._create(eval_docs, n, min_shared, df_cap)
        self.n = n
        self.min_shared = min_shared
        self.df_cap = df_cap

    def _create(
        self, eval_docs: DataFrame, n: int, min_shared: int, df_cap: int
    ) -> None:
        """Pin the eval set (its n-gram table + manifest), seed the
        eval-only df state, write the config witness LAST (the
        created-ness marker — a crash mid-create replays as 'not
        created' and re-pins everything, the curation-index argument)."""
        ev = _grams(eval_docs, n).select(
            F.col("doc_id").alias("eval_id"), "shingle"
        ).localCheckpoint(eager=True)
        store = self.store
        # the cap spans eval + corpus; at creation the corpus is empty,
        # so the initial dead set is eval-internal repetition only
        hot0 = (
            ev.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > df_cap)
            .select("shingle")
        )
        live_sz = (
            ev.join(hot0, "shingle", "left_anti")
            .groupBy("eval_id")
            .agg(F.count(F.lit(1)).alias("n_eval_grams"))
        )
        # total over every gram-bearing eval doc (an all-dead doc keeps
        # an explicit 0 row — same convention as the upsert path)
        evsz0 = (
            ev.select("eval_id")
            .distinct()
            .join(live_sz, "eval_id", "left")
            .select(
                "eval_id",
                F.coalesce("n_eval_grams", F.lit(0).cast("long")).alias(
                    "n_eval_grams"
                ),
            )
        )
        # one transaction: the seven pins are independent tables derived
        # from the one checkpointed ev frame, so one tagged collect sizes
        # them all and their staging jobs overlap; the CONFIG witness —
        # the created-ness marker — is declared LAST, so the crash story
        # is unchanged: no witness, replay re-pins all.
        with store.transaction() as tx:
            tx.write(self.EVG, ev.select("shingle", "eval_id"), keys=["shingle"])
            tx.write(self.EVMAN, ev.select("eval_id", "shingle"), keys=["eval_id"])
            tx.write(self.HOT, hot0, keys=["shingle"])
            tx.write(self.EVSZ, evsz0, keys=["eval_id"])
            for table, schema, key in (
                (self.POST, POST_SCHEMA, "shingle"),
                (self.MAN, MAN_SCHEMA, "corpus_id"),
                (self.PAIRS, PAIRS_SCHEMA, "corpus_id"),
            ):
                tx.write(table, local_frame(self.spark, [], schema), keys=[key])
            tx.write(
                self.CONFIG,
                local_frame(
                    self.spark,
                    [(0, int(n), int(min_shared), int(df_cap))],
                    CONFIG_SCHEMA,
                ),
                keys=["config_id"],
                touched=[store.bucket_of_long(0)],
            )

    # --- maintenance ----------------------------------------------------

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: shingle ONLY the batch documents,
        replace their posting/manifest rows, recompute df for the
        batch's own shingles, and re-derive overlap counts for exactly
        the documents a cap crossing (or the batch itself) touches."""
        from worker_spark.streaming.feed import last_wins

        if not self.store.has_schema_witness(self.CONFIG):
            raise ValueError(
                f"{self.root}: screen not created — construct with "
                "eval_docs once before applying batches"
            )
        store = self.store
        # lazy checkpoints (r15 job-count discipline): batch and
        # batch_ids are materialized by the doc_buckets collect, before
        # any swap
        batch = last_wins(docs, ["doc_id"]).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"
        ).localCheckpoint(eager=False)
        batch_ids = batch.select("doc_id").distinct().localCheckpoint(
            eager=False
        )
        doc_buckets = store.touched_buckets(batch_ids, "doc_id")
        # contract: eval ids are not corpus ids — a doc on both sides
        # would be screened against itself
        eval_hit = (
            store.read(self.EVMAN, EVMAN_SCHEMA, buckets=doc_buckets)
            .join(
                batch_ids.withColumnRenamed("doc_id", "eval_id"),
                "eval_id",
                "left_semi",
            )
            .limit(1)
            .count()
        )
        if eval_hit:
            raise ValueError(
                f"{self.root}: batch contains a pinned eval doc id — "
                "the eval set is static and disjoint from the corpus"
            )

        # lazy: materialized (with touched_sh) by the sh_buckets
        # collect, before any swap of the POST/MAN files read later
        new_g = (
            _grams(batch, self.n)
            .select(F.col("doc_id").alias("corpus_id"), "shingle")
            .localCheckpoint(eager=False)
        )
        # lazy: consumed exactly once, inside touched_sh's checkpoint
        # job below (pre-swap), so a separate materialization job would
        # buy nothing (r14 job trim)
        old_man = store.read(self.MAN, MAN_SCHEMA, buckets=doc_buckets).join(
            batch_ids.withColumnRenamed("doc_id", "corpus_id"),
            "corpus_id",
            "left_semi",
        )
        touched_sh = (
            old_man.select("shingle")
            .unionByName(new_g.select("shingle"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        sh_buckets = store.touched_buckets(touched_sh, "shingle")

        # --- df after the batch, computed WITHOUT swapping anything ----
        # (replay-safe: simulating the delete+insert over current post
        # yields the same df whether or not the post swap already
        # happened in a crashed attempt)
        post_t = store.read(self.POST, POST_SCHEMA, buckets=sh_buckets).join(
            touched_sh, "shingle", "left_semi"
        )
        bkeys = batch_ids.withColumnRenamed("doc_id", "corpus_id")
        post_after = post_t.join(bkeys, "corpus_id", "left_anti").unionByName(
            new_g
        )
        ev_t = store.read(self.EVG, EVG_SCHEMA, buckets=sh_buckets).join(
            touched_sh, "shingle", "left_semi"
        )
        df_after = (
            post_after.select("shingle")
            .unionByName(ev_t.select("shingle"))
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        hot_old_t = store.read(self.HOT, HOT_SCHEMA, buckets=sh_buckets).join(
            touched_sh, "shingle", "left_semi"
        )
        # eager: this frame is INSERTED after the post swap below has
        # replaced the files it lazily reads (the store's
        # write-invalidates-lazy-frames contract, NOTES gotcha)
        hot_after_t = (
            df_after.filter(F.col("df") > self.df_cap)
            .select("shingle")
            .localCheckpoint(eager=True)
        )
        # lazy: materialized by the cross_buckets collect just below,
        # while the HOT files its hot_old_t side reads are still pre-swap
        crossings = (
            hot_after_t.exceptAll(hot_old_t)
            .unionByName(hot_old_t.exceptAll(hot_after_t))
            .distinct()
            .localCheckpoint(eager=False)
        )

        # --- re-derive scope (journaled before any swap) ----------------
        # The journaled prior scope (torn-batch replay) is unioned in
        # LAZILY before the one distinct+checkpoint per frame: the
        # single-bucket journal read rides inside the same job, so the
        # happy path (no prior rows for this batch_id) no longer pays a
        # second round of checkpoint jobs per frame (r14 job trim;
        # replay semantics unchanged — union commutes with distinct).
        cross_buckets = store.touched_buckets(crossings, "shingle")
        cross_corpus = (
            store.read(self.POST, POST_SCHEMA, buckets=cross_buckets)
            .join(crossings, "shingle", "left_semi")
            .select("corpus_id")
        )
        d_c = batch_ids.withColumnRenamed("doc_id", "corpus_id").unionByName(
            cross_corpus
        )
        e_c = (
            store.read(self.EVG, EVG_SCHEMA, buckets=cross_buckets)
            .join(crossings, "shingle", "left_semi")
            .select("eval_id")
        )
        prior = store.journaled(self.JOURNAL, JOURNAL_SCHEMA, batch_id)
        if prior is not None:
            d_c = d_c.unionByName(
                prior.filter(~F.col("is_eval")).select(
                    F.col("doc_id").alias("corpus_id")
                )
            )
            e_c = e_c.unionByName(
                prior.filter(F.col("is_eval")).select(
                    F.col("doc_id").alias("eval_id")
                )
            )
        # journaled (stream) path: lazy — the journal staging write
        # materializes both before any swap of the POST/EVG files their
        # lineage reads. Direct calls (no batch_id => no journal write)
        # must force them NOW: both are consumed again after the swaps.
        d_c = d_c.distinct().localCheckpoint(eager=batch_id is None)
        e_c = e_c.distinct().localCheckpoint(eager=batch_id is None)
        # --- swaps, in declared (crash) order ---------------------------
        # journal first, then post (data) before man (manifest): a torn
        # batch replays against the STALE manifest, a superset of
        # everywhere the batch docs' posting rows can be
        with store.transaction() as tx:
            if batch_id is not None:
                tx.journal(
                    self.JOURNAL,
                    batch_id,
                    d_c.select(
                        F.col("corpus_id").alias("doc_id"), F.lit(False).alias("is_eval")
                    ).unionByName(
                        e_c.select(F.col("eval_id").alias("doc_id"), F.lit(True).alias("is_eval"))
                    ),
                )
            tx.delete_then_insert(
                self.POST,
                delete_keys=bkeys,
                inserts=new_g.select("shingle", "corpus_id"),
                schema=POST_SCHEMA,
                bucket_col="shingle",
                delete_on="corpus_id",
                touched=sh_buckets,
            )
            tx.delete_then_insert(
                self.MAN,
                delete_keys=bkeys,
                inserts=new_g.select("corpus_id", "shingle"),
                schema=MAN_SCHEMA,
                bucket_col="corpus_id",
                touched=doc_buckets,
            )
            tx.delete_then_insert(
                self.HOT,
                delete_keys=touched_sh,
                inserts=hot_after_t,
                schema=HOT_SCHEMA,
                bucket_col="shingle",
                touched=sh_buckets,
            )

        # a second transaction: both tables below read the POST-swap hot
        # set
        hot_now = self.hot()
        # pairs for the full re-derive scope: live shingles of the
        # affected corpus docs × the pinned eval grams
        scope_man = store.read(
            self.MAN, MAN_SCHEMA, buckets=store.touched_buckets(d_c, "corpus_id")
        ).join(d_c, "corpus_id", "left_semi")
        live_man = scope_man.join(hot_now, "shingle", "left_anti")
        probe_buckets = store.touched_buckets(live_man, "shingle")
        evg_probe = store.read(self.EVG, EVG_SCHEMA, buckets=probe_buckets)
        new_pairs = (
            live_man.join(evg_probe, "shingle")
            .groupBy("corpus_id", "eval_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= self.min_shared)
        )
        with store.transaction() as tx:
            # evsz for crossing-affected eval docs: re-count their live
            # grams against the post-swap dead set
            if e_c.limit(1).count() > 0:
                ev_rows = store.read(
                    self.EVMAN,
                    EVMAN_SCHEMA,
                    buckets=store.touched_buckets(e_c, "eval_id"),
                ).join(e_c, "eval_id", "left_semi")
                new_sz = (
                    ev_rows.join(hot_now, "shingle", "left_anti")
                    .groupBy("eval_id")
                    .agg(F.count(F.lit(1)).alias("n_eval_grams"))
                )
                # an eval doc whose every gram went dead keeps a 0 row
                # (the denominator table stays total over the pinned
                # eval set)
                new_sz = e_c.join(new_sz, "eval_id", "left").select(
                    "eval_id",
                    F.coalesce("n_eval_grams", F.lit(0).cast("long")).alias(
                        "n_eval_grams"
                    ),
                )
                tx.upsert(self.EVSZ, new_sz, keys=["eval_id"], schema=EVSZ_SCHEMA)
            tx.delete_then_insert(
                self.PAIRS,
                delete_keys=d_c,
                inserts=new_pairs,
                schema=PAIRS_SCHEMA,
                bucket_col="corpus_id",
            )

    # --- read side --------------------------------------------------------

    def hot(self) -> DataFrame:
        return self.store.read(self.HOT, HOT_SCHEMA)

    def postings(self) -> DataFrame:
        return self.store.read(self.POST, POST_SCHEMA)

    def manifest(self) -> DataFrame:
        return self.store.read(self.MAN, MAN_SCHEMA)

    def eval_sizes(self) -> DataFrame:
        return self.store.read(self.EVSZ, EVSZ_SCHEMA)

    def pairs(self) -> DataFrame:
        return self.store.read(self.PAIRS, PAIRS_SCHEMA)

    def decisions(self) -> DataFrame:
        """The contaminated-pair table from MAINTAINED state alone ==
        operators/text.benchmark_contamination(pinned eval ∪ live
        corpus) exactly — (eval_id, corpus_id, n_shared,
        contamination_rate), rate priced at serve time."""
        return (
            self.pairs()
            .join(self.eval_sizes(), "eval_id")
            .select(
                "eval_id",
                "corpus_id",
                "n_shared",
                F.round(
                    F.col("n_shared").cast("double")
                    / F.col("n_eval_grams").cast("double"),
                    6,
                ).alias("contamination_rate"),
            )
        )

    def screen_batch(self, docs: DataFrame) -> DataFrame:
        """Pre-ingest screen: shingle the batch only, probe ONLY the
        batch shingles' evg bucket files. (eval_id, corpus_id,
        n_shared) over currently-live shingles — the gate a pipeline
        consults BEFORE admitting a document to training data."""
        g = _grams(docs, self.n).select(
            F.col("doc_id").alias("corpus_id"), "shingle"
        ).localCheckpoint(eager=True)
        live = g.join(self.hot(), "shingle", "left_anti")
        pb = self.store.touched_buckets(live, "shingle")
        evg = self.store.read(self.EVG, EVG_SCHEMA, buckets=pb)
        return (
            live.join(evg, "shingle")
            .groupBy("eval_id", "corpus_id")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= self.min_shared)
        )

    def fsck(self) -> dict[str, int]:
        """Layout for every table, then derivation: post must equal the
        column-swapped manifest; hot must equal the df>cap set derived
        from evg+post; pairs must equal the live-gram join re-derived
        from scratch. Raises on violation; returns checked counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in (
                self.EVG,
                self.EVMAN,
                self.POST,
                self.MAN,
                self.HOT,
                self.EVSZ,
                self.PAIRS,
            )
        }
        want_post = self.manifest().select("shingle", "corpus_id")
        got_post = self.postings()
        drift = (
            got_post.exceptAll(want_post).count()
            + want_post.exceptAll(got_post).count()
        )
        if drift:
            raise RuntimeError(
                f"{self.root}: postings drifted from the manifest by "
                f"{drift} rows — reseed or replay"
            )
        df_all = (
            self.postings()
            .select("shingle")
            .unionByName(
                self.store.read(self.EVG, EVG_SCHEMA).select("shingle")
            )
            .groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        want_hot = df_all.filter(F.col("df") > self.df_cap).select("shingle")
        got_hot = self.hot()
        hdrift = (
            got_hot.exceptAll(want_hot).count()
            + want_hot.exceptAll(got_hot).count()
        )
        if hdrift:
            raise RuntimeError(
                f"{self.root}: hot set drifted from derived df by "
                f"{hdrift} shingles — reseed or replay"
            )
        return counts
