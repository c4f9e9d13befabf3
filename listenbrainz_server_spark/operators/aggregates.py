"""Aggregation operators.

Reference shapes (SURVEY.md §2.4): group-count workhorse
(stats/incremental/user/artist.py:34-48), capped count for anti-abuse /
skew control (stats/incremental/sitewide/entity.py:50-59), partial +
final combine for incremental stats
(stats/incremental/incremental_stats_engine.py:86-142), count-distinct
listener counts (popularity/common.py:17,54).

Scale notes:
- Every groupBy here benefits from Spark's map-side partial
  aggregation automatically; ``capped_count`` additionally bounds a
  single key's contribution *before* the global aggregate, which is
  both an anti-abuse rule and a shuffle-skew cap — one user with 10M
  listens contributes ≤cap rows of weight to the sitewide shuffle.
- ``combine_aggregates`` is the job-level analog of partial/final
  hash aggregation: union(existing_partial, delta_partial) →
  re-aggregate. Both inputs are already aggregates, so the shuffle is
  over group keys of the *aggregate* cardinality, not fact rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def capped_count(
    df: DataFrame,
    user_key: str,
    entity_keys: Sequence[str],
    cap: int,
) -> DataFrame:
    """Two-level aggregate: per-(user, entity) count capped at ``cap``,
    then summed per entity (stats/incremental/sitewide/entity.py:50-59).
    """
    per_user = df.groupBy(user_key, *entity_keys).agg(
        F.least(F.count(F.lit(1)), F.lit(cap)).alias("_capped")
    )
    return per_user.groupBy(*entity_keys).agg(F.sum("_capped").alias("listen_count"))


def combine_aggregates(
    existing: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """UNION ALL + re-GROUP BY + SUM — the incremental-stats combine
    (stats/incremental/user/artist.py:50-73). Inputs must share schema.

    Count-distinct semantics (SURVEY §7.4.3): when a ``sum_cols`` entry
    is itself a per-partial distinct count (e.g. ``total_user_count``),
    summing partials DOUBLE-COUNTS members spanning both sides. This is
    the reference's deliberate choice — popularity/listens.py:56-75
    sums total_user_count across existing+incremental aggregates rather
    than re-deduplicating (which would require keeping the raw member
    sets per group). We pin the same semantics
    (tests/test_incremental.py::test_combine_double_counts_spanning_users);
    exact recount requires re-aggregating from facts, HLL sketch merge
    (approx_count_distinct) is the bounded-state middle ground.
    """
    unioned = existing.unionByName(delta)
    aggs = [F.sum(c).alias(c) for c in sum_cols]
    return unioned.groupBy(*keys).agg(*aggs)
