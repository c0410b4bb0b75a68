"""Incrementally-maintained CURATION decisions: the sixth maintained
index on the shared bucketed-state MERGE core — the materialized
keep/reject table a 100 TB training-data pipeline serves downstream
consumers from, kept current per ingest batch instead of re-deciding
the whole corpus per run (the reference's add-or-replace index sink
discipline, src/indexing.rs:61-115 / src/storage.rs:118-167, applied
to the curation decision table).

Offline/online split (the centroid-pin argument, third instance): the
decision chain has exactly two corpus-derived inputs —

* the character-bigram LM (the CCNet/RefinedWeb perplexity filter's
  model) — trained ONCE at index creation and pinned in the state root
  (``lm`` table), because incremental decisions can only converge to
  the batch decision table if every batch scores against the same
  model; retraining is a fresh root (the recluster discipline);
* the five gate thresholds (corpus-measured quantiles) — pinned in a
  one-row ``config`` table at creation; reopening with DIFFERENT
  thresholds is refused loudly (mixing two threshold regimes in one
  decisions table would be silent corruption), reopening with none
  loads the pinned ones.

Everything else in the chain is map-only over the batch rows
(language-ID vote, quality score, repetition signals, Gopher rules),
so a micro-batch costs O(batch) compute plus O(touched buckets)
rewrite — and since ``decisions`` is bucketed by DOC_ID, the batch's
own key, touched buckets are exactly the batch's doc buckets: no
manifest table is needed (unlike the fingerprint/vector indexes, a
decision row never moves buckets when its document changes). A batch
is one transaction, declared decisions → texts.

Delete semantics: a batch document with empty/whitespace-only text has
no content — its decision row is removed.

Convergence contract (pinned by tests): streaming the corpus through
apply_batch — including stale-then-corrected update batches — yields a
``decisions()`` table EXACTLY equal to the batch curation query
composed over the canonical corpus with the same pinned LM and
thresholds, which is what lets the registered streaming row reuse the
batch curation oracle verbatim (one oracle, two rows — the family's
pattern, sixth instance).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from worker_spark.operators.text import (
    curation_reason,
    repetition_frame,
    score_bigram_lm,
    with_gopher_rules,
    with_lang_id,
    with_quality_score,
)
from worker_spark.plans.bucketed_state import BucketedParquetStateStore, local_frame
from worker_spark.streaming.feed import DOC_FEED_SCHEMA

LM_SCHEMA = T.StructType(
    [
        T.StructField("bigram", T.StringType(), False),
        T.StructField("lp_micro", T.LongType(), False),
    ]
)
CONFIG_SCHEMA = T.StructType(
    [
        T.StructField("config_id", T.LongType(), False),
        T.StructField("target_lang", T.StringType(), False),
        T.StructField("min_quality", T.DoubleType(), False),
        T.StructField("min_ttr", T.DoubleType(), False),
        T.StructField("max_tbr", T.DoubleType(), False),
        T.StructField("min_logp", T.DoubleType(), False),
        T.StructField("gopher_min_words", T.LongType(), False),
        T.StructField(
            "gopher_stopwords", T.ArrayType(T.StringType()), False
        ),
        T.StructField("gopher_min_sw_hits", T.LongType(), False),
    ]
)
TEXTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
    ]
)
DECISIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("pred_lang", T.StringType(), True),
        T.StructField("quality_score", T.DoubleType(), True),
        T.StructField("type_token_ratio", T.DoubleType(), True),
        T.StructField("top_bigram_ratio", T.DoubleType(), True),
        T.StructField("avg_logp", T.DoubleType(), True),
        T.StructField("passes_gopher", T.BooleanType(), True),
        T.StructField("keep", T.BooleanType(), True),
        T.StructField("reject_reason", T.StringType(), True),
    ]
)


@dataclass(frozen=True)
class CurationConfig:
    """The pinned decision parameters: gate thresholds (corpus-measured
    once, offline) plus the Gopher knobs. Frozen so a config compares
    by value — the reopen guard relies on equality."""

    target_lang: str
    min_quality: float
    min_ttr: float
    max_tbr: float
    min_logp: float
    gopher_min_words: int
    gopher_stopwords: tuple[str, ...]
    gopher_min_sw_hits: int

    def __post_init__(self):
        # normalize: a caller-supplied LIST round-trips from parquet as
        # a tuple, and raw dataclass equality would then spuriously
        # refuse every reopen-with-config (review finding)
        object.__setattr__(
            self, "gopher_stopwords", tuple(self.gopher_stopwords)
        )


class IncrementalCurationIndex:
    """Materialized curation decisions with per-batch bucket-scoped
    MERGE maintenance: map-only gates over the batch, LM scoring
    against the pinned model, decisions replaced by doc_id."""

    FEED_SCHEMA = DOC_FEED_SCHEMA

    DECISIONS = "decisions"
    TEXTS = "texts"
    LM = "lm"
    CONFIG = "config"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        lm_train_docs: DataFrame | None = None,
        config: CurationConfig | None = None,
        n_buckets: int = 16,
    ):
        self.spark = spark
        self.root = root
        self.store = BucketedParquetStateStore(spark, root, n_buckets)
        created = self.store.exists(self.CONFIG) and (
            self.store.has_schema_witness(self.CONFIG)
        )
        if created:
            pinned = self._load_config()
            if config is not None and config != pinned:
                raise ValueError(
                    f"{root}: config differs from the pinned one — "
                    "decisions already in this root were made under "
                    f"{pinned}; mixing threshold regimes in one table "
                    "is silent corruption. Re-curate into a fresh root "
                    "(the retrain discipline), or reopen with no "
                    "config to use the pinned one."
                )
            if lm_train_docs is not None:
                raise ValueError(
                    f"{root}: the LM is already pinned for this root — "
                    "incremental decisions only converge against ONE "
                    "model; re-curate into a fresh root to retrain"
                )
            self.config = pinned
        else:
            if config is None or lm_train_docs is None:
                raise ValueError(
                    f"{root}: a new curation index needs both its "
                    "config (pinned thresholds) and lm_train_docs "
                    "(the offline LM training corpus)"
                )
            from worker_spark.operators.text import bigram_lm_model

            model = bigram_lm_model(lm_train_docs)
            if model.isEmpty():
                raise ValueError(
                    f"{root}: refusing to pin an EMPTY LM — every "
                    "batch would score over no support and the "
                    "lm gate would never fire"
                )
            # one transaction, declared lm → texts → config: the
            # config's schema witness is the created-ness marker
            # (checked above), so a crash between the swaps replays as
            # "not created" and re-pins everything
            with self.store.transaction() as tx:
                tx.write(self.LM, model, keys=["bigram"])
                tx.write(
                    self.TEXTS, local_frame(spark, [], TEXTS_SCHEMA), keys=["doc_id"]
                )
                row = (
                    0,
                    config.target_lang,
                    float(config.min_quality),
                    float(config.min_ttr),
                    float(config.max_tbr),
                    float(config.min_logp),
                    int(config.gopher_min_words),
                    list(config.gopher_stopwords),
                    int(config.gopher_min_sw_hits),
                )
                tx.write(
                    self.CONFIG,
                    self.spark.createDataFrame([row], CONFIG_SCHEMA),
                    keys=["config_id"],
                    touched=[self.store.bucket_of_long(0)],
                )
            self.config = config

    def _load_config(self) -> CurationConfig:
        row = self.store.read(self.CONFIG, CONFIG_SCHEMA).collect()[0]
        return CurationConfig(
            target_lang=row["target_lang"],
            min_quality=row["min_quality"],
            min_ttr=row["min_ttr"],
            max_tbr=row["max_tbr"],
            min_logp=row["min_logp"],
            gopher_min_words=row["gopher_min_words"],
            gopher_stopwords=tuple(row["gopher_stopwords"]),
            gopher_min_sw_hits=row["gopher_min_sw_hits"],
        )

    def lm_model(self) -> DataFrame:
        return self.store.read(self.LM, LM_SCHEMA)

    # --- maintenance ----------------------------------------------------

    def decide(self, docs: DataFrame) -> DataFrame:
        """The decision chain over any (doc_id, text) frame, scored
        against the PINNED model and thresholds — map-only gates plus
        one broadcast LM join; per-doc layers meet in equi-joins on
        doc_id. The LM layer is LEFT-joined (r11 advice): it is the one
        layer that can miss a document (no bigram, or bigrams entirely
        outside the pinned LM's support), and an inner join silently
        dropped such docs from decisions() — indistinguishable from
        'never ingested' downstream. A NULL avg_logp now resolves to an
        explicit 'no_lm_support' reject (curation_reason), so decide()
        is TOTAL over its input: every ingested doc_id gets a row."""
        cfg = self.config
        # the language/quality/Gopher layers are map-only column
        # expressions, so they CHAIN into one scan of the batch instead
        # of meeting in per-layer doc_id joins (guide §2.4: the joins
        # were three removable shuffles of full doc frames; each layer
        # is withColumns-based, so chaining computes identical values).
        # Only the two aggregation layers — repetition (per-doc bigram
        # stats) and the LM score — still join, on doc_id.
        base = with_gopher_rules(
            with_quality_score(with_lang_id(docs)),
            min_words=cfg.gopher_min_words,
            required_stopwords=cfg.gopher_stopwords,
            min_stopword_hits=cfg.gopher_min_sw_hits,
        ).select("doc_id", "pred_lang", "quality_score", "passes_gopher")
        rep = repetition_frame(docs).select(
            "doc_id", "type_token_ratio", "top_bigram_ratio"
        )
        lm = score_bigram_lm(docs, self.lm_model()).select(
            "doc_id", "avg_logp"
        )
        reason = curation_reason(
            cfg.target_lang,
            cfg.min_quality,
            cfg.min_ttr,
            cfg.max_tbr,
            cfg.min_logp,
        )
        return (
            base.join(rep, "doc_id")
            .join(lm, "doc_id", "left")
            .select(
                "doc_id",
                "pred_lang",
                "quality_score",
                "type_token_ratio",
                "top_bigram_ratio",
                "avg_logp",
                "passes_gopher",
                (reason == "kept").alias("keep"),
                reason.alias("reject_reason"),
            )
        )

    def apply_batch(
        self,
        docs: DataFrame,
        batch_id: int | None = None,
    ) -> None:
        """The foreachBatch body: re-decide the batch documents and
        delete-then-insert their decision rows (an updated document's
        decision is recomputed under the pinned model/thresholds; a
        replayed batch rewrites identical rows). Decisions are
        bucketed by doc_id — the batch key — so touched buckets are
        exactly the batch's own doc buckets and no manifest is needed.
        A batch carrying several versions of one doc_id is reduced to
        one row per key FIRST (feed.last_wins); an empty-text row is a
        delete."""
        from worker_spark.streaming.feed import (
            batch_doc_ids,
            has_text,
            last_wins,
        )

        store = self.store
        batch = last_wins(
            docs.select(
                F.col("doc_id").cast("long").alias("doc_id"), "text"
            ),
            ["doc_id"],
        )
        # checkpoint the deduped batch ONCE: decide()'s five gate
        # layers are five plan branches over it, and without the
        # checkpoint each branch re-pays the last_wins shuffle (and the
        # feed scan) — 5x the batch cost per trigger at scale. Lazy
        # (r15 job-count discipline): live and rows materialize inside
        # the staging jobs (their lineage reads only the feed batch and
        # the pinned LM tables, neither swapped here), and batch_ids by
        # the one doc_buckets collect below.
        live = (
            batch.filter(has_text())
            .localCheckpoint(eager=False)
        )
        rows = self.decide(live).localCheckpoint(eager=False)
        batch_ids = batch_doc_ids(docs)
        # ONE touched-bucket collect serves both MERGEs (r15): both
        # tables bucket on doc_id and both delete exactly the batch ids,
        # so the touched set is the batch ids' buckets for each (insert
        # rows are a subset of the batch ids).
        doc_buckets = store.touched_buckets(batch_ids, "doc_id")
        # one transaction, declared decisions → texts (the retained
        # corpus text, r12 item 5 — what makes retrain() self-contained):
        # a torn batch replays the identical delete-then-insert on both
        with store.transaction() as tx:
            tx.delete_then_insert(
                self.DECISIONS,
                delete_keys=batch_ids,
                inserts=rows,
                schema=DECISIONS_SCHEMA,
                bucket_col="doc_id",
                touched=doc_buckets,
            )
            tx.delete_then_insert(
                self.TEXTS,
                delete_keys=batch_ids,
                inserts=live.select("doc_id", "text"),
                schema=TEXTS_SCHEMA,
                bucket_col="doc_id",
                touched=doc_buckets,
            )

    # --- lifecycle (VERDICT r12 item 5: the IVF recluster discipline) ---

    def retrain_advice(self, max_lm_reject_rate: float = 0.1) -> dict:
        """The drift monitor production curation polls to decide WHEN
        to retrain (retrain is the how — the recluster_advice analog).
        The pinned LM is the one decision input that DRIFTS: it was
        trained on the creation-time corpus, and as the live corpus
        moves (new domains, new languages), documents increasingly
        score outside its support (no_lm_support) or far below its
        norm (lm_outlier). Both rejects are LM-attributable, so their
        combined rate against the current decision table is the drift
        signal; the funnel mix is reported alongside. Cost: one
        conditional count over decisions() — cheap enough to run per
        maintenance tick."""
        agg = self.decisions().agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.col("reject_reason")
                .isin("no_lm_support", "lm_outlier")
                .cast("long")
            ).alias("lm_rejects"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
        ).collect()[0]
        n = agg["n"] or 0
        lm_rejects = agg["lm_rejects"] or 0
        rate = (lm_rejects / n) if n else 0.0
        return {
            "n_docs": n,
            "n_kept": agg["kept"] or 0,
            "lm_rejects": lm_rejects,
            "lm_reject_rate": round(rate, 3),
            "needs_retrain": n > 0 and rate >= max_lm_reject_rate,
        }

    def retrain(
        self,
        new_root: str,
        lm_train_docs: DataFrame | None = None,
        config: CurationConfig | None = None,
        n_buckets: int | None = None,
    ) -> "IncrementalCurationIndex":
        """LM/threshold refresh as a blue/green migration — the same
        lifecycle step the IVF index got as recluster(): the pinned LM
        cannot be swapped IN PLACE (every stored decision derives from
        it — the convergence contract), so a retrain is a FRESH ROOT:
        train the new model, pin it with the (possibly new) thresholds,
        and re-derive every decision in one bulk MERGE. The corpus is
        never re-read from source — the state's own ``texts`` table is
        both the default training corpus and the re-decide input — and
        the old root stays live for serving until the caller cuts the
        maintenance stream over (blue/green). Reusing apply_batch for
        the bulk load makes equality to a batch build under the new pin
        hold by construction. O(state) once per retrain, the same cost
        class as a capacity re-shard; refuses a non-empty target (an
        aborted retrain's bulk load can be torn and converging over it
        is not replay-safe — the recluster discipline)."""
        import os

        leftovers = (
            sorted(
                t
                for t in os.listdir(new_root)
                if os.path.isdir(os.path.join(new_root, t))
            )
            if os.path.isdir(new_root)
            else []
        )
        if leftovers:
            raise ValueError(
                f"{new_root}: target root already holds tables "
                f"{leftovers} — discard the root and rerun (the "
                "recluster discipline)"
            )
        corpus = self.texts().localCheckpoint(eager=True)
        fresh = IncrementalCurationIndex(
            self.spark,
            new_root,
            lm_train_docs=(
                lm_train_docs if lm_train_docs is not None else corpus
            ),
            config=config or self.config,
            n_buckets=n_buckets or self.store.n_buckets,
        )
        fresh.apply_batch(corpus)
        return fresh

    def clone_rebucketed(
        self, new_root: str, n_buckets: int
    ) -> "IncrementalCurationIndex":
        """Resize into a fresh root (blue/green re-shard). No manifest
        transform needed: no table stores bucket ids in row data."""
        self.store.clone_rebucketed(new_root, n_buckets)
        return IncrementalCurationIndex(self.spark, new_root)

    def fsck(self) -> dict[str, int]:
        """Placement check for all four tables, then derivation: the
        decisions and texts key sets must be identical (a decision with
        no retained text would silently vanish from the next retrain).
        Raises on violation, returns checked row counts."""
        counts = {
            t: self.store.verify_layout(t)
            for t in (self.DECISIONS, self.TEXTS, self.LM, self.CONFIG)
        }
        d = self.decisions().select("doc_id")
        t = self.texts().select("doc_id")
        drift = d.exceptAll(t).count() + t.exceptAll(d).count()
        if drift:
            raise RuntimeError(
                f"{self.root}: decisions and retained texts drifted by "
                f"{drift} doc ids — reseed or replay"
            )
        return counts

    # --- read side --------------------------------------------------------

    def texts(self) -> DataFrame:
        return self.store.read(self.TEXTS, TEXTS_SCHEMA)

    def decisions(self, buckets: list[int] | None = None) -> DataFrame:
        return self.store.read(self.DECISIONS, DECISIONS_SCHEMA, buckets)

    def kept_ids(self) -> DataFrame:
        """(doc_id): the current training-set membership — the table a
        downstream mixture/packing stage consumes."""
        return self.decisions().filter(F.col("keep")).select("doc_id")

    def dashboard(self) -> DataFrame:
        """(reject_reason, n_docs): the curation funnel from maintained
        state — the A1-style conditional-count dashboard with no corpus
        scan."""
        return self.decisions().groupBy("reject_reason").agg(
            F.count(F.lit(1)).alias("n_docs")
        )
