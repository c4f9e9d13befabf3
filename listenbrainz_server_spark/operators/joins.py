"""Join operators.

Reference shapes (SURVEY.md §2.3): broadcast-able dimension left joins
(stats/incremental/user/artist.py:26-32), two-hop dimension chains
(stats/incremental/user/era_activity.py:40-41), cross-join densify +
zero-fill (stats/incremental/user/daily_activity.py:73-90), tombstone
anti joins (listens/data.py:71-75), semi-join affected-key pruning
(stats/incremental/user/entity.py:44-53), explode-to-equi-join instead
of arrays_overlap nested loop
(year_in_music/new_releases_of_top_artists.py:39-43 — the reference's
documented 3h → 2min rewrite, preserved here as a first-class op).

Scale notes:
- Dimension joins take an explicit ``broadcast`` flag: at 100TB the
  fact side must never shuffle for a 1M-row dimension.
- ``densify`` cross-joins only *distinct keys × buckets* (tiny) and
  left-joins facts once — never fact × buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dim_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Column,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fact × dimension equi join; broadcast the dim by default."""
    d = F.broadcast(dim) if broadcast_dim else dim
    return fact.join(d, on=on, how=how)


def anti_join(df: DataFrame, tombstones: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Delete-tombstone subtraction (listens/data.py:71-75)."""
    return df.join(tombstones, on=list(keys), how="left_anti")


def semi_join(df: DataFrame, keys_df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Affected-key pruning (EXISTS → left_semi; user/entity.py:44-53)."""
    return df.join(keys_df, on=list(keys), how="left_semi")


def explode_equi_join(
    left: DataFrame,
    left_array_col: str,
    right: DataFrame,
    right_array_col: str,
) -> DataFrame:
    """Join two tables on *any shared array element* by exploding both
    sides and equi-joining on the element — the semantic rewrite of an
    ``arrays_overlap`` theta join that Catalyst cannot do itself
    (new_releases_of_top_artists.py:39-43). Result may contain one row
    per shared element; callers dedup on their keys.
    """
    l_ex = left.withColumn("_elem", F.explode(left_array_col))
    r_ex = right.withColumn("_elem", F.explode(right_array_col))
    return l_ex.join(r_ex, on="_elem", how="inner")


def densify(
    keys_df: DataFrame,
    buckets_df: DataFrame,
    facts: DataFrame,
    join_keys: Sequence[str],
    fill: dict[str, Column],
) -> DataFrame:
    """Dense grid: distinct keys × buckets LEFT JOIN facts, zero-filling
    missing cells (user/listening_activity.py:63-84,
    user/daily_activity.py:73-90). ``buckets_df`` is driver-generated
    and broadcast-small.
    """
    grid = keys_df.crossJoin(F.broadcast(buckets_df))
    joined = grid.join(facts, on=list(join_keys), how="left")
    for name, default in fill.items():
        joined = joined.withColumn(name, F.coalesce(F.col(name), default))
    return joined


def symmetric_pairs(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Forward ∪ backward expansion of an undirected pair table
    (similarity/user.py:70-81)."""
    fwd = pairs
    bwd = pairs.withColumnRenamed(a, "_tmp").withColumnRenamed(b, a).withColumnRenamed("_tmp", b)
    return fwd.unionByName(bwd)


def priority_pick(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keep, per key group, the single row with the lowest (= best)
    priority — the reference's multi-source tag merge
    (year_in_music/top_genres.py:62-79: recording > release-group >
    artist genre sources, the winner's genre_count survives).

    Callers must guarantee one row per (keys, priority) — the
    reference's tag tables are pre-aggregated per source, which is what
    makes the ROW_NUMBER pick deterministic. One window (single hash
    shuffle on ``keys``), no join.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(F.col("priority").asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn", "priority")
    )
