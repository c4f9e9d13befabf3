"""Sessionization + within-session pair generation.

Reference shapes (SURVEY.md §2.5, §3.3): LAG inter-event gap
(similarity/recording/common.py:87-94), LEAD skip detection
(common.py:96-103), running conditional count assigning session ids
(common.py:95-103, similarity/artist.py:46-55 — the canonical Spark
sessionization since window aggs lack FILTER), within-session
self-join pair counts with key ordering
(similarity/recording/common.py:111-125).

Scale notes:
- One shuffle on the partition key (user) serves all three window
  steps — same window spec ⇒ same exchange, Catalyst reuses it.
- Pair generation is quadratic per session; the caps (max session
  length via contribution cap, chunked execution over user ranges)
  are the reference's mitigation and belong to callers. The self-join
  is an equi join on (user, session) with the ``a.key < b.key``
  residual — a shuffled hash join, never a nested loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def with_session_ids(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak: tuple[str, ...] = (),
) -> DataFrame:
    """Assign per-user session ids: a session breaks when the gap from
    the previous event exceeds ``gap_seconds``. Pass ``tiebreak``
    (e.g. an event id) to keep the ordering total when timestamps
    collide — otherwise session assignment at a boundary is
    nondeterministic across runs.
    """
    order = [ts_col, *tiebreak]
    w = Window.partitionBy(user_col).orderBy(*order)
    gap = F.col(ts_col).cast("long") - F.lag(F.col(ts_col).cast("long"), 1).over(w)
    run = Window.partitionBy(user_col).orderBy(*order).rowsBetween(Window.unboundedPreceding, 0)
    is_break = F.when(gap > F.lit(gap_seconds), 1).otherwise(0)
    return df.withColumn("_gap", gap).withColumn(
        "session_id", F.sum(is_break).over(run)
    ).drop("_gap")


def session_pairs(
    df: DataFrame,
    user_col: str,
    session_col: str,
    item_col: str,
    max_contribution: int | None = None,
) -> DataFrame:
    """Co-occurrence pairs within a session, canonicalized so
    item_a < item_b, counted across all sessions
    (similarity/recording/common.py:111-131 shape).

    ``max_contribution`` caps one user's total contribution to a
    pair's score — the reference's anti-abuse LEAST cap
    (similarity/recording/common.py:126-131): a single obsessive user
    can't dominate global pair scores, and the per-user pre-aggregate
    also shrinks the final shuffle.
    """
    a = df.select(user_col, session_col, F.col(item_col).alias("item_a"))
    b = df.select(user_col, session_col, F.col(item_col).alias("item_b"))
    pairs = a.join(b, on=[user_col, session_col], how="inner").where(
        F.col("item_a") < F.col("item_b")
    )
    if max_contribution is None:
        return pairs.groupBy("item_a", "item_b").agg(F.count(F.lit(1)).alias("score"))
    per_user = pairs.groupBy(user_col, "item_a", "item_b").agg(
        F.least(F.count(F.lit(1)), F.lit(max_contribution)).alias("_contrib")
    )
    return per_user.groupBy("item_a", "item_b").agg(F.sum("_contrib").alias("score"))
