"""Top-K / ranking operators.

Reference shapes: row_number top-K per group
(listenbrainz_spark/stats/incremental/user/artist.py:87,102), global
ORDER BY..LIMIT (stats/incremental/sitewide/artist.py:73-77), rank /
dense_rank (troi/periodic_jams.py:49-55, tags/tags.py:14-22).

Scale notes:
- ``top_k_per_group`` is one shuffle on the partition keys; Spark
  plans it as a WindowExec after a hash partition. With AQE skew
  handling on, a hot group is split. For extreme K<<group sizes, a
  pre-aggregation before the window (count first, window over the
  much smaller agg) is the right call — that is what every caller in
  this engine does (aggregate, then rank the aggregate).
- ``global_top_k`` compiles to TakeOrderedAndProject — no full sort,
  per-partition heap + driver merge. Safe at any scale for small K.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rank",
    method: str = "row_number",
    keep_rank: bool = True,
) -> DataFrame:
    """Keep the top ``k`` rows per group.

    ``order_by`` must include a unique tie-break column when
    ``method='row_number'`` is expected to be deterministic.
    ``method`` ∈ {row_number, rank, dense_rank}.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    fn = {"row_number": F.row_number, "rank": F.rank, "dense_rank": F.dense_rank}[method]
    ranked = df.withColumn(rank_col, fn().over(w)).where(F.col(rank_col) <= k)
    return ranked if keep_rank else ranked.drop(rank_col)


def global_top_k(df: DataFrame, order_by: Sequence[Column], k: int) -> DataFrame:
    """Global ORDER BY ... LIMIT k (planned as TakeOrderedAndProject)."""
    return df.orderBy(*order_by).limit(k)
