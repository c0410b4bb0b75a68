"""The one drive path of every maintained structure: a parquet file
directory as the change feed, the structure's ``apply_batch`` as the
foreachBatch consumer.

The feed contract: each maintained structure declares a ``FEED_SCHEMA``
class attribute in its own column names, and that schema is the one
place its input columns are named. ``file_feed_stream`` reads the feed
with it, and ``apply_batch`` reads those columns by name; a caller whose
data uses other names aliases them when it stages the feed, never per
call. The document structures share ``DOC_FEED_SCHEMA`` ``(doc_id,
text)``, where an empty or whitespace-only ``text`` is a delete
(``has_text``). ``last_wins`` is the within-batch version rule the
structures apply to what the stream hands them."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# the (doc_id, text) document feed most structures maintain from
DOC_FEED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def has_text(field: str = "text") -> Column:
    """The live-document predicate: false for an empty or
    whitespace-only ``field``, the delete marker of the document
    feeds."""
    return F.length(F.trim(F.col(field))) > 0


def _refuse_map_columns(schema: T.DataType, path: str = "") -> None:
    """Recursive MapType sweep over a schema (struct/array nesting
    included) — see last_wins' docstring for why maps cannot be
    fingerprinted with to_json."""
    if isinstance(schema, T.MapType):
        raise ValueError(
            f"last_wins cannot fingerprint MapType column {path or '<root>'}: "
            "to_json map key order is not canonical, so replayed batches "
            "could elect different winners. Serialize the map to a sorted "
            "array<struct<key,value>> column before the feed."
        )
    if isinstance(schema, T.StructType):
        for f in schema.fields:
            _refuse_map_columns(f.dataType, f"{path}.{f.name}" if path else f.name)
    elif isinstance(schema, T.ArrayType):
        _refuse_map_columns(schema.elementType, f"{path}[]")


def last_wins(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One row per key tuple: LAST version wins — the reference index
    sink's add_or_replace-by-id semantics (src/indexing.rs:61-115)
    applied WITHIN a micro-batch. Without this, a trigger that merges a
    draft file and its correction (max_files_per_trigger=None, or a
    backlog drained in one availableNow batch) carries two versions of
    one key, and every apply_batch body silently double-applies: the
    vector index re-expands its per-key assignment into duplicate
    cells/vecmap rows, the retrieval index sums both versions' tf, the
    dedup index merges both versions' shingles (round-9 advice,
    medium).

    "Last" inside one Spark micro-batch: the file source exposes no
    per-row arrival order, so version order is the lexicographic
    source-file order (``input_file_name()`` — later feed files sort
    after earlier ones under any sortable batch naming; the empty
    string for non-file frames), tie-broken by a deterministic row
    fingerprint so a REPLAYED batch always elects the same winner (the
    idempotent-replay contract every index depends on). Within-FILE
    duplicates of a key have no defined version order anywhere — the
    fingerprint makes that choice stable rather than meaningful.

    One map-side-combinable max_by agg on the key — no window, no
    join; cost O(batch), hot keys collapse to one partial per task.
    The order columns are materialized in a projection BELOW the agg:
    input_file_name() is non-deterministic to Catalyst and may not
    appear inside an aggregate function directly.

    MapType columns are REFUSED up front (round-10 advice): the
    fingerprint is md5(to_json(struct(*))) and to_json's map key
    order is not canonical, so a replayed batch could serialize the
    same row differently and elect a DIFFERENT winner — silently
    breaking the idempotent-replay contract. No current feed schema
    carries a map; the guard keeps a future one from compiling into
    a latent replay divergence instead of a loud error here."""
    _refuse_map_columns(df.schema)
    cols = df.columns
    tagged = df.select(
        *cols,
        F.input_file_name().alias("_src"),
        F.md5(F.to_json(F.struct(*cols))).alias("_fp"),
    )
    return (
        tagged.groupBy(*[F.col(k) for k in key_cols])
        .agg(
            F.max_by(
                F.struct(*cols), F.struct(F.col("_src"), F.col("_fp"))
            ).alias("_row")
        )
        .select(*[F.col(f"_row.{c}").alias(c) for c in cols])
    )


def batch_doc_ids(docs: DataFrame) -> DataFrame:
    """The batch's distinct ids as one long ``doc_id`` column, lazily
    checkpointed (r15 job-count discipline: the caller's first bucket
    collect materializes it, before any swap). Pass the raw batch or an
    already-checkpointed reduced one: the key set is the same before and
    after ``last_wins``, and deriving it from an unmaterialized reduced
    frame would run the reduction twice."""
    return (
        docs.select(F.col("doc_id").cast("long").alias("doc_id"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def file_feed_stream(
    spark: SparkSession,
    feed_dir: str,
    structure,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
) -> StreamingQuery:
    """ONE definition of the feed topology, for every maintained
    structure: each new parquet file under ``feed_dir`` is a
    micro-batch, read with the structure's ``FEED_SCHEMA`` and drained
    with an availableNow trigger into ``structure.apply_batch(batch,
    batch_id=...)``, with the source offsets checkpointed in
    ``checkpoint_dir`` so a restart resumes instead of reprocessing.
    The schema's column order is part of the replay contract
    (last_wins fingerprints ``to_json(struct(*cols))``)."""
    reader = spark.readStream.schema(structure.FEED_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return (
        reader.parquet(feed_dir)
        .writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(
            lambda batch, bid: structure.apply_batch(batch, batch_id=bid)
        )
        .trigger(availableNow=True)
        .start()
    )
