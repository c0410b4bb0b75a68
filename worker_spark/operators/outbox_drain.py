"""A8/T3 — budgeted outbox drain with a running-sum cap.

Reference semantics (/root/reference/migrations/20260526010803_add_outbox_
drain_batch_index_function.sql:19-44, invoked from src/outbox.rs:128-133):
take unprocessed ``batch_index`` rows in ``id`` order until the cumulative
number of article keys exceeds the target (default 5,000), always taking at
least one row; the drained keys are deduplicated into one coalesced job
(src/outbox.rs:135-144 — ``plans/outbox.coalesced_batch_keys``).

Spark formulation: a running sum over ``Window.orderBy("id")``. A global
ordered window is single-partition by nature — that is *correct* here and
cheap at any scale because the input is pre-filtered to the unprocessed
slice of one job type (bounded by the backpressure watermark, never the
full table). The filter is pushed to the scan; only the candidate rows
shuffle to one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def drain_with_cap(
    outbox: DataFrame,
    size_col: str = "n_keys",
    id_col: str = "id",
    target: int = 5000,
) -> DataFrame:
    """Rows drained this tick: FIFO by ``id_col``, cumulative ``size_col``
    capped at ``target`` (first row always taken).

    Output adds ``running_keys`` (inclusive running sum) and ``drain_rank``.
    """
    w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, 0)
    ranked = outbox.withColumn(
        "running_keys", F.sum(F.col(size_col)).over(w)
    ).withColumn("drain_rank", F.row_number().over(Window.orderBy(id_col)))
    # take while the sum *before* this row is under target (<=> inclusive
    # running sum minus own size < target); row 1 unconditionally.
    return ranked.filter(
        ((F.col("running_keys") - F.col(size_col)) < F.lit(target))
        | (F.col("drain_rank") == 1)
    )

