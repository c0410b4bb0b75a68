"""S6/S7 — JDBC source/sink configuration (the BASELINE.json approach:
"DataFrame JDBC read + transforms").

The reference reads Postgres with keyed scans and server-side streaming
cursors (src/storage.rs:416-441, src/meili.rs:541-545) and writes with
INSERT ... ON CONFLICT upserts (src/storage.rs:134-148).

Spark mapping: a *partitioned* JDBC read — never a single-connection full
pull — with predicate pushdown handled by the JDBC dialect, and writes
staged to parquet + MERGE (plain JDBC append cannot express upsert; the
reference's at-least-once + idempotent-upsert contract requires the MERGE
path in plans.bucketed_state).

No Postgres is available in this environment, but the read path IS
integration-tested end-to-end against embedded Apache Derby (on Spark's
own classpath): tests/test_sources.py round-trips a testdata table
through a real JDBC write + partitioned read and asserts the partition
count and filter pushdown into the JDBCRelation scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrameReader, SparkSession


def jdbc_options(
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 16,
    fetch_size: int = 10_000,
    properties: dict[str, str] | None = None,
) -> dict[str, str]:
    """Options for a partitioned JDBC read: ``num_partitions`` parallel
    range scans over ``partition_column`` (the streamed-cursor analog —
    bounded per-task memory at any table size), ``fetchsize`` batching the
    wire protocol (the reference's chunked reads, SURVEY O7)."""
    opts = {"url": url, "dbtable": table, "fetchsize": str(fetch_size)}
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update(properties or {})
    return opts


def jdbc_reader(spark: SparkSession, **kwargs) -> DataFrameReader:
    """A fully-configured partitioned JDBC reader (see jdbc_options)."""
    return spark.read.format("jdbc").options(**jdbc_options(**kwargs))
