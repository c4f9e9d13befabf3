"""Distributed prefix sums (running totals over a GLOBAL order).

A plain ``Window.orderBy(...)`` with no partitionBy collapses the
whole frame into one task — fine for a bounded dimension (a calendar
of days), fatal for a row-scale sweep at 100 TB. The textbook
distributed form is implemented here:

  1. ``repartitionByRange`` on the order key — equal keys co-locate,
     partition i holds keys strictly below partition i+1;
  2. per-partition running sums (ordinary windows, fully parallel);
  3. per-partition TOTALS (one tiny row each) prefix-summed on the
     driver-side-free path: a window over the partition-id order —
     ≤ a few hundred rows — broadcast-joined back as offsets.

The result equals the single-task global window exactly (pinned in
tests/test_operators.py::test_partitioned_running_sum_matches_global)
while every row-scale stage runs one task per range partition, one
range partition per default-parallelism slot.

Storage trade: the ranged frame is pinned with an eager
localCheckpoint before its two consumers — correctness requires both
spark_partition_id() readings to see ONE physical partitioning (an
AQE recompute could re-sample range bounds and silently mis-assign
offsets). The pin materializes the row-scale frame once
(MEMORY_AND_DISK blocks); measured cost ~1 s at sf1
(j_overlap_census_sweep 7.2 -> 8.3 s, SCALING.md) — at cluster scale
budget executor storage for one pass of the input, or substitute a
scratch-parquet write where memory is tighter than disk.

Used by the sweep-line interval census (queries/temporal.py
j_overlap_census_sweep) — the O(n log n) alternative to enumerating
qualifying interval pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def partitioned_running_sum(
    df: DataFrame,
    order_cols: list,
    value_cols: list,
) -> DataFrame:
    """Add ``"cum_" + c`` running-total columns (inclusive of the
    current row) for each value column, over the GLOBAL order given
    by ``order_cols`` — which must be a deterministic total order
    (include a unique tiebreak key; ties would otherwise make the
    row-level prefix non-deterministic)."""
    # Pin the ranged frame ONCE before both consumers below. The local
    # window and the offsets groupBy both key on spark_partition_id();
    # if the two branches re-executed the repartitionByRange separately
    # (AQE recompute, fresh range-bound samples), _rpid could diverge
    # between them and the offsets join would silently mis-assign
    # running totals. localCheckpoint materializes one physical
    # partitioning both branches read.
    ranged = (
        df.repartitionByRange(
            df.sparkSession.sparkContext.defaultParallelism, *order_cols
        )
        .withColumn("_rpid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_local = (
        Window.partitionBy("_rpid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.select(
        "*", *[F.sum(c).over(w_local).alias(f"_loc_{c}") for c in value_cols]
    )

    # Partition totals -> exclusive prefix over partition order. This
    # frame has one row per range partition; the single-task window is
    # free.
    w_pid = (
        Window.orderBy("_rpid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        ranged.groupBy("_rpid")
        .agg(*[F.sum(c).alias(f"_tot_{c}") for c in value_cols])
        .select(
            "_rpid",
            *[
                (F.sum(f"_tot_{c}").over(w_pid) - F.col(f"_tot_{c}")).alias(
                    f"_off_{c}"
                )
                for c in value_cols
            ],
        )
    )
    out = local.join(F.broadcast(offsets), "_rpid")
    for c in value_cols:
        out = out.withColumn(
            "cum_" + c,
            F.col(f"_loc_{c}") + F.coalesce(F.col(f"_off_{c}"), F.lit(0)),
        ).drop(f"_loc_{c}", f"_off_{c}")
    return out.drop("_rpid")
