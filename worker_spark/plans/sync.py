"""§3.1/§3.2 — the incremental sync pipeline as batch DataFrame jobs.

Stage map (reference file:line in each function):

  diff_job          — J1 full-outer list-vs-DB diff -> fetch work + outbox
  store_job         — analysis + link replacement (S8) + missing-entity
                      discovery (J3) + follow-up outbox rows
  invalidation_job  — J7 reverse-dependency reindex marking
  resolve_codes_job — J8/J9 inline-code -> bibliography/place resolution
  late_resolution   — J11 newly-synced code resolves waiting refs
  settledness       — T9 quiescence gate for snapshot publishing
  snapshot_publish  — S12 parquet snapshot + manifest + retention prune

Everything is expressed as DataFrame -> DataFrame so the same functions
serve the batch tick and the Structured Streaming foreachBatch stages
(worker_spark.streaming.pipeline).
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from worker_spark import extraction as X
from worker_spark.operators.diff import classify_list_db_diff
from worker_spark.plans import outbox as OB


# ---------------------------------------------------------------------------
# §3.1 step 3-4: diff -> outbox
# ---------------------------------------------------------------------------


def diff_job(article_list: DataFrame, articles: DataFrame) -> DataFrame:
    """J1 (src/sync_service.rs:104-163), per dictionary: classify every id.
    Returns (dictionary, article_id, classification, list_revision,
    db_revision)."""
    lst = article_list.select(
        F.concat_ws(":", "dictionary", "article_id").alias("k"),
        F.col("revision"),
        F.col("updated_at"),
    )
    db = articles.select(
        F.concat_ws(":", "dictionary", "id").alias("k"),
        F.col("revision"),
        F.col("updated_at"),
        F.col("sync_status"),
    )
    diff = classify_list_db_diff(
        lst.select(F.col("k").alias("article_id"), "revision", "updated_at"),
        db.withColumnRenamed("k", "article_id"),
        key="article_id",
    )
    return diff.select(
        F.split(F.col("article_id"), ":").getItem(0).alias("dictionary"),
        F.try_element_at(F.split(F.col("article_id"), ":"), F.lit(2))
        .cast("long")
        .alias("article_id"),
        "classification",
        "list_revision",
        "db_revision",
    )


def fetch_jobs_from_diff(diff: DataFrame) -> DataFrame:
    """Outbox rows for new/changed ids (src/sync_service.rs:165-178):
    job_key '{dict}:{id}', payload carries (dictionary, article_id)."""
    need = diff.filter(F.col("classification").isin("new", "changed"))
    return need.select(
        F.lit("fetch_article").alias("job_type"),
        F.concat_ws(":", "dictionary", "article_id").alias("job_key"),
        F.to_json(
            F.struct(
                F.col("dictionary"), F.col("article_id"), F.col("list_revision").alias("revision")
            )
        ).alias("payload"),
    )


# ---------------------------------------------------------------------------
# §3.1 step 7: transactional store (analysis + links + discovery)
# ---------------------------------------------------------------------------


def analyze_articles(fetched: DataFrame) -> DataFrame:
    """analyze_article (src/extraction.rs:746-773) over fetched
    (dictionary, id, data) rows. Inline-ref extraction applies to the
    'no' dictionary only (src/extraction.rs:759-763) — handled in
    inline_ref_rows."""
    d = F.col("data")
    return fetched.withColumns(
        {
            "primary_lemma": X.first_lemma_col(d),
            "bibl_ids": X.all_bibl_ids_col(d),
            "dialect_place_ids": X.dialect_place_ids_col(d),
            "attestation_place_ids": X.attestation_place_ids_col(d),
            "related_article_ids": X.related_article_ids_col(d),
        }
    )


def article_bibliography_rows(analyzed: DataFrame) -> DataFrame:
    """S8 replacement rows for article_bibliography (per-article full set —
    the delete-then-insert contract means downstream replaces by key)."""
    return analyzed.select(
        "dictionary",
        F.col("id").alias("article_id"),
        F.explode("bibl_ids").alias("bibl_id"),
    ).distinct()


def article_place_rows(analyzed: DataFrame) -> DataFrame:
    """S8 replacement rows for article_place with context, 'no' dictionary
    only (src/storage.rs:210-221)."""
    scoped = analyzed.filter(F.col("dictionary") == "no")
    dialect = scoped.select(
        "dictionary",
        F.col("id").alias("article_id"),
        F.explode("dialect_place_ids").alias("place_id"),
        F.lit("dialect").alias("context"),
    )
    attest = scoped.select(
        "dictionary",
        F.col("id").alias("article_id"),
        F.explode("attestation_place_ids").alias("place_id"),
        F.lit("attestation").alias("context"),
    )
    return dialect.unionByName(attest).distinct()


def replace_links(existing: DataFrame, replacement: DataFrame, keys: list[str]) -> DataFrame:
    """S8 delete-then-insert: drop existing rows for the touched composite
    keys, append the replacement set (src/storage.rs:150-167,248-288)."""
    touched = replacement.select(*keys).distinct()
    kept = existing.join(touched, keys, "left_anti")
    return kept.unionByName(replacement.select(*existing.columns))


def inline_ref_rows(fetched: DataFrame) -> DataFrame:
    """inline_ref_parse replacement rows ('no' only): every example quote /
    explanation content in the definition tree run through F1/F2."""
    from worker_spark.functions.inline_refs import inline_refs_udf

    scoped = fetched.filter(F.col("dictionary") == "no")
    d = F.col("data")

    def per_def(defn):
        els = F.coalesce(defn["elements"], F.array())
        return F.filter(
            F.transform(
                els,
                lambda e: F.when(e["type_"] == "example", e["quote"]["content"]).otherwise(
                    F.when(e["type_"] == "explanation", e["content"])
                ),
            ),
            lambda c: c.isNotNull(),
        )

    contents = scoped.select(
        "dictionary",
        F.col("id").alias("article_id"),
        F.explode(X._definitions_flat(d, per_def)).alias("quote_content"),
    )
    return contents.select(
        "dictionary",
        "article_id",
        "quote_content",
        F.explode(inline_refs_udf("quote_content")).alias("r"),
    ).select(
        "dictionary",
        "article_id",
        "quote_content",
        F.col("r.offset_start").alias("offset_start"),
        F.col("r.offset_end").alias("offset_end"),
        F.col("r.code").alias("code"),
        F.col("r.spec").alias("spec"),
        F.lit(None).cast("string").alias("ref_type"),
        F.lit(None).cast("bigint").alias("bibl_id"),
        F.lit(None).cast("bigint").alias("place_id"),
    )


def missing_entity_jobs(
    analyzed: DataFrame,
    bibliography: DataFrame,
    places: DataFrame,
    articles: DataFrame,
) -> DataFrame:
    """J3 in-transaction discovery (src/storage.rs:205-237,619-665):
    referenced-but-absent bibliography/place/related-article ids become
    follow-up outbox jobs (the recursive crawl)."""
    bibl_needed = (
        analyzed.select(F.explode("bibl_ids").alias("bibl_id"))
        .distinct()
        .join(bibliography.select(F.col("id").alias("bibl_id")), "bibl_id", "left_anti")
        .select(
            F.lit("fetch_bibliography").alias("job_type"),
            F.col("bibl_id").cast("string").alias("job_key"),
            F.to_json(F.struct(F.col("bibl_id"))).alias("payload"),
        )
    )
    place_needed = (
        analyzed.filter(F.col("dictionary") == "no")
        .select(
            F.explode(
                F.array_union(F.col("dialect_place_ids"), F.col("attestation_place_ids"))
            ).alias("place_id")
        )
        .distinct()
        .join(places.select(F.col("id").alias("place_id")), "place_id", "left_anti")
        .select(
            F.lit("fetch_place").alias("job_type"),
            F.col("place_id").cast("string").alias("job_key"),
            F.to_json(F.struct(F.col("place_id"))).alias("payload"),
        )
    )
    related_needed = (
        analyzed.select(
            "dictionary", F.explode("related_article_ids").alias("article_id")
        )
        .distinct()
        .join(
            articles.select("dictionary", F.col("id").alias("article_id")),
            ["dictionary", "article_id"],
            "left_anti",
        )
        .select(
            F.lit("fetch_article").alias("job_type"),
            F.concat_ws(":", "dictionary", "article_id").alias("job_key"),
            F.to_json(F.struct(F.col("dictionary"), F.col("article_id"))).alias("payload"),
        )
    )
    batch_index_self = analyzed.select(
        F.lit("batch_index").alias("job_type"),
        F.concat_ws(":", "dictionary", "id").alias("job_key"),
        F.to_json(
            F.struct(F.array(F.concat_ws(":", "dictionary", "id")).alias("article_keys"))
        ).alias("payload"),
    )
    return bibl_needed.unionByName(place_needed).unionByName(related_needed).unionByName(
        batch_index_self
    )


# ---------------------------------------------------------------------------
# §3.2: dimension follow-ups
# ---------------------------------------------------------------------------


def invalidation_job(
    articles: DataFrame, links: DataFrame, changed_ids: DataFrame, link_id_col: str
) -> DataFrame:
    """J7 (src/storage.rs:378-413): idle articles referencing a changed
    dimension id -> flip to pending_index and emit batch_index jobs.
    Returns the affected (dictionary, id) set."""
    hit = links.join(
        F.broadcast(changed_ids.select(F.col("id").alias(link_id_col))),
        link_id_col,
        "inner",
    ).select("dictionary", F.col("article_id").alias("id")).distinct()
    return (
        articles.filter(F.col("sync_status") == "idle")
        .join(hit, ["dictionary", "id"], "left_semi")
        .select("dictionary", "id")
    )


def reindex_jobs(affected: DataFrame) -> DataFrame:
    return affected.select(
        F.lit("batch_index").alias("job_type"),
        F.concat_ws(":", "dictionary", "id").alias("job_key"),
        F.to_json(
            F.struct(F.array(F.concat_ws(":", "dictionary", "id")).alias("article_keys"))
        ).alias("payload"),
    )


def resolve_codes_job(codes: DataFrame, bibliography: DataFrame, places: DataFrame) -> DataFrame:
    """J8 + J9 (src/storage.rs:461-517): distinct codes resolve first
    against bibliography.code (min id wins), then against places by name —
    exact name preferred over the trailing-'M'-stripped candidate."""
    bib_hit = (
        codes.join(bibliography.select("code", F.col("id").alias("bibl_id")), "code")
        .groupBy("code")
        .agg(F.min("bibl_id").alias("bibl_id"))
        .withColumn("ref_type", F.lit("bibl"))
        .withColumn("place_id", F.lit(None).cast("bigint"))
    )
    unresolved = codes.join(bib_hit.select("code"), "code", "left_anti")
    cands = unresolved.select("code", F.col("code").alias("cand"), F.lit(1).alias("prio")).unionByName(
        unresolved.filter(F.col("code").endswith("M")).select(
            "code",
            F.expr("substring(code, 1, length(code) - 1)").alias("cand"),
            F.lit(2).alias("prio"),
        )
    )
    place_hits = (
        cands.join(places.select(F.col("place_name").alias("cand"), F.col("id").alias("place_id")), "cand")
        .groupBy("code", "prio")
        .agg(F.min("place_id").alias("place_id"))
    )
    w = Window.partitionBy("code").orderBy("prio", "place_id")
    place_hit = (
        place_hits.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "code",
            F.lit(None).cast("bigint").alias("bibl_id"),
            F.lit("place").alias("ref_type"),
            "place_id",
        )
    )
    return bib_hit.select("code", "bibl_id", "ref_type", "place_id").unionByName(
        place_hit.select("code", "bibl_id", "ref_type", "place_id")
    )


def late_resolution_job(inline_refs: DataFrame, resolutions: DataFrame) -> DataFrame:
    """J11 (src/storage.rs:570-595): resolutions fill rows where ref_type
    IS NULL; already-resolved rows are untouched. Also derives the
    article_bibliography rows via derived_links()."""
    res = resolutions.select(
        F.col("code").alias("_code"),
        F.col("bibl_id").alias("_bibl_id"),
        F.col("ref_type").alias("_ref_type"),
        F.col("place_id").alias("_place_id"),
    )
    joined = inline_refs.join(
        F.broadcast(res), inline_refs["code"] == res["_code"], "left"
    )
    fill = F.col("ref_type").isNull() & F.col("_ref_type").isNotNull()
    return joined.select(
        "dictionary",
        "article_id",
        "quote_content",
        "offset_start",
        "offset_end",
        "code",
        "spec",
        F.when(fill, F.col("_ref_type")).otherwise(F.col("ref_type")).alias("ref_type"),
        F.when(fill, F.col("_bibl_id")).otherwise(F.col("bibl_id")).alias("bibl_id"),
        F.when(fill, F.col("_place_id")).otherwise(F.col("place_id")).alias("place_id"),
    )


def derived_links(inline_refs: DataFrame) -> DataFrame:
    """SELECT DISTINCT article_bibliography rows from resolved bibl refs
    (src/storage.rs:583-586)."""
    return (
        inline_refs.filter((F.col("ref_type") == "bibl") & F.col("bibl_id").isNotNull())
        .select("dictionary", "article_id", "bibl_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# T9 + S12: settledness gate and snapshot publish
# ---------------------------------------------------------------------------


def pending_counts(outbox: DataFrame, *entity_tables: DataFrame) -> dict[str, int]:
    """T9 quiescence inputs (src/snapshot.rs:396-460): unprocessed outbox
    rows and non-idle entities."""
    counts = {"outbox": outbox.filter(F.col("processed_at").isNull()).count()}
    for i, t in enumerate(entity_tables):
        counts[f"entities_{i}"] = t.filter(
            F.col("sync_status").isin("pending_fetch", "pending_index")
        ).count()
    return counts


def content_cursor(*frames_and_cols: tuple[DataFrame, str]) -> str | None:
    """A2 cursor: max timestamp across the content tables, ISO-formatted
    (src/snapshot.rs:412-438)."""
    best = None
    for df, col in frames_and_cols:
        v = df.agg(F.max(col).alias("m")).collect()[0]["m"]
        if v is not None and (best is None or v > best):
            best = v
    return best.isoformat() if best is not None else None


class SettlednessGate:
    """T9: publish only when nothing is pending AND the content cursor has
    been stable for ``settle_seconds`` (src/snapshot.rs:145-151,474-482).
    Single-driver state replaces the advisory lock."""

    def __init__(self, settle_seconds: float = 120.0):
        self.settle_seconds = settle_seconds
        self._stable_cursor: str | None = None
        self._stable_since: float | None = None

    def check(self, quiescent: bool, cursor: str | None, now: float | None = None) -> bool:
        now = time.time() if now is None else now
        if not quiescent:
            self._stable_cursor = None
            self._stable_since = None
            return False
        # _stable_since is None until a cursor is observed: content_cursor
        # returns None for empty content tables, so a None cursor cannot
        # mean "not yet observed"
        if self._stable_since is None or cursor != self._stable_cursor:
            self._stable_cursor = cursor
            self._stable_since = now
            return False
        return (now - self._stable_since) >= self.settle_seconds


def table_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content fingerprint of a table: the sum of 64-bit
    row hashes over canonicalized (JSON) rows, hex-encoded. The S12/S13
    integrity check analog of the reference's dump SHA-256
    (src/snapshot.rs:531-545, verified on restore by
    docker-scripts/bootstrap.sh:163-200) — computed distributed, no
    single-stream hashing bottleneck."""
    total = (
        df.select(
            F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in df.columns])))
            # DECIMAL(38,0) accumulator: a long sum of 64-bit hashes
            # overflows (and ANSI mode turns that into a hard error)
            .cast("decimal(38,0)")
            .alias("h")
        )
        .agg(F.sum("h").alias("s"))
        .collect()[0]["s"]
    )
    return format(int(total or 0) & 0xFFFFFFFFFFFFFFFF, "016x")


def verify_snapshot(spark, out_root: str, snapshot_id: str) -> None:
    """S13 restore gate: recompute each table's fingerprint from the
    written parquet and compare with the manifest; raise on mismatch."""
    target = os.path.join(out_root, snapshot_id)
    with open(os.path.join(target, "manifest.json")) as f:
        manifest = json.load(f)
    for name, meta in manifest["tables"].items():
        df = spark.read.parquet(os.path.join(target, name))
        actual = table_fingerprint(df)
        if actual != meta["fingerprint"]:
            raise ValueError(
                f"snapshot {snapshot_id} table {name}: fingerprint mismatch "
                f"(manifest {meta['fingerprint']}, actual {actual})"
            )


def snapshot_publish(
    out_root: str,
    tables: dict[str, DataFrame],
    cursor: str,
    retention: int = 3,
) -> str:
    """S12 (src/snapshot.rs:303-363,578-651): write each table under
    ``{out_root}/{snapshot_id}/``, a manifest.json with row counts and
    content fingerprints, refresh ``latest``, prune to the newest
    ``retention`` snapshots (lexical id sort).

    The tables and manifest are written into a ``.stage-*`` dir whose
    rename to the id is the commit, so a crashed publish never leaves a
    snapshot-named dir. Only dirs holding a manifest are snapshots:
    retention counts and prunes nothing else. Snapshots are immutable:
    republishing a committed id (a polling publisher whose gate stays
    open) returns the id and changes nothing."""
    snapshot_id = cursor.replace(":", "-").replace("+", "Z")
    target = os.path.join(out_root, snapshot_id)
    if os.path.exists(os.path.join(target, "manifest.json")):
        return snapshot_id
    stage = f"{target}.stage-{uuid.uuid4().hex[:8]}"
    manifest: dict[str, object] = {"cursor": cursor, "tables": {}}
    for name, df in tables.items():
        path = os.path.join(stage, name)
        df.write.mode("overwrite").parquet(path)
        # count + fingerprint from the parquet just written, NOT the lazy
        # input plan: re-executing the plan could see concurrently-swapped
        # upstream state (or nondeterminism) and publish a manifest that
        # does not describe the data on disk — and it runs the pipeline
        # once instead of three times.
        written = df.sparkSession.read.parquet(path)
        manifest["tables"][name] = {  # type: ignore[index]
            "rows": written.count(),
            "fingerprint": table_fingerprint(written),
        }
    with open(os.path.join(stage, "manifest.json"), "w") as f:
        json.dump(manifest, f, sort_keys=True)
    # a manifest-less dir under the id is a torn pre-staging publish
    shutil.rmtree(target, ignore_errors=True)
    os.rename(stage, target)
    latest = os.path.join(out_root, "latest")
    with open(latest + ".tmp", "w") as f:
        f.write(snapshot_id)
    os.replace(latest + ".tmp", latest)
    snaps = sorted(
        d
        for d in os.listdir(out_root)
        if ".stage-" not in d
        and os.path.exists(os.path.join(out_root, d, "manifest.json"))
    )
    for stale in snaps[:-retention]:
        shutil.rmtree(os.path.join(out_root, stale), ignore_errors=True)
    return snapshot_id
