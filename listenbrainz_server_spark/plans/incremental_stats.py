"""Incremental mode for handler stats: the reference's provider
interface (stats/incremental/query_provider.py:34-40) — every stat
declares (aggregate, keys, sum_cols) once and the IncrementalEngine
gives it partial/delta/combine + affected-key pruning; the final
stats query (top-K, totals) then runs over the combined aggregate
(incremental_stats_engine.py:229-232 generate_stats).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.incremental.engine import IncrementalEngine, IncrementalStat
from listenbrainz_server_spark.operators.topk import top_k_per_group


def user_entity_stat(
    user_col: str = "user_id", entity_col: str = "event_type"
) -> IncrementalStat:
    """stats.user.entity as an incremental provider."""
    return IncrementalStat(
        name="user_entity",
        aggregate=lambda df: df.groupBy(user_col, entity_col).agg(
            F.count(F.lit(1)).alias("listen_count")
        ),
        keys=(user_col, entity_col),
        sum_cols=("listen_count",),
    )


def sitewide_entity_stat(
    user_col: str = "user_id", entity_col: str = "event_type", cap: int = 500
) -> IncrementalStat:
    """stats.sitewide.entity: the partial keeps per-(user, entity)
    capped counts so the cap composes under combine the way the
    reference's does (cap applies within each aggregation pass —
    sitewide/entity.py:50-59; documented approximation under combine,
    like the reference's summed partial count-distincts)."""
    return IncrementalStat(
        name="sitewide_entity",
        aggregate=lambda df: df.groupBy(user_col, entity_col).agg(
            F.least(F.count(F.lit(1)), F.lit(cap)).alias("capped_count")
        ),
        keys=(user_col, entity_col),
        sum_cols=("capped_count",),
    )


def entity_listener_stat(
    user_col: str = "user_id", entity_col: str = "event_type"
) -> IncrementalStat:
    """stats.entity.listeners as an incremental provider
    (stats/listener/entity.py:20-28): the partial keeps per-(entity,
    user) listen counts; combine sums them, and the final query
    recomputes total_listeners + top-K from the combined aggregate."""
    return IncrementalStat(
        name="entity_listeners",
        aggregate=lambda df: df.groupBy(entity_col, user_col).agg(
            F.count(F.lit(1)).alias("listen_count")
        ),
        keys=(entity_col, user_col),
        sum_cols=("listen_count",),
    )


def final_sitewide_entity_stats(
    combined: DataFrame,
    entity_col: str = "event_type",
    k: int = 1000,
) -> DataFrame:
    """generate_stats for the sitewide entity aggregate: global sum of
    the per-(user, entity) capped partials, then global top-K. The
    direct stats.sitewide.entity request runs this over a single
    aggregate pass.

    NEVER-PRUNED (the reference's sitewide semantics,
    stats/incremental/sitewide/entity.py:38-40): a sitewide stat's
    final aggregate needs EVERY key's total, so sitewide combines must
    run without affected-key pruning — a delta touching one user still
    re-ranks against all entities' standing totals. Callers therefore
    pass the full combined frame (only_affected=False)."""
    from listenbrainz_server_spark.operators.topk import global_top_k

    totals = combined.groupBy(entity_col).agg(
        F.sum("capped_count").alias("listen_count")
    )
    return global_top_k(
        totals, [F.col("listen_count").desc(), F.col(entity_col)], k
    )


def final_entity_listener_stats(
    combined: DataFrame,
    user_col: str = "user_id",
    entity_col: str = "event_type",
    k: int = 10,
) -> DataFrame:
    """generate_stats for the listener aggregate: per-entity distinct
    listener total (window count over the combined per-(entity, user)
    rows) + top-K listeners. The direct stats.entity.listeners request
    runs this over a single aggregate pass."""
    w_total = Window.partitionBy(entity_col)
    enriched = combined.withColumn(
        "total_listeners", F.count(F.lit(1)).over(w_total).cast("bigint")
    )
    return top_k_per_group(
        enriched,
        partition_by=[entity_col],
        order_by=[F.col("listen_count").desc(), F.col(user_col)],
        k=k,
    ).withColumn("rank", F.col("rank").cast("bigint"))


def final_user_entity_stats(
    combined: DataFrame,
    user_col: str = "user_id",
    entity_col: str = "event_type",
    k: int = 1000,
) -> DataFrame:
    """generate_stats over the combined aggregate: top-K plus each
    user's listen total and distinct-entity count
    (stats/incremental/user/artist.py:77-110). The direct
    stats.user.entity request runs this over a single aggregate pass."""
    w_total = Window.partitionBy(user_col)
    enriched = combined.withColumn(
        "total_count", F.sum("listen_count").over(w_total).cast("bigint")
    ).withColumn(
        "entity_count", F.count(F.lit(1)).over(w_total).cast("bigint")
    )
    return top_k_per_group(
        enriched,
        partition_by=[user_col],
        order_by=[F.col("listen_count").desc(), F.col(entity_col)],
        k=k,
    ).withColumn("rank", F.col("rank").cast("bigint"))


def run_incremental_user_entity(
    engine: IncrementalEngine,
    full_df: DataFrame,
    delta_df: DataFrame,
    from_date: str,
    to_date: str,
    created: str,
    k: int = 1000,
    only_affected: bool = False,
) -> DataFrame:
    """Full handler lifecycle: partial/delta/combine → final stats."""
    stat = user_entity_stat()
    combined = engine.run(
        stat, full_df, delta_df, from_date, to_date, created, only_affected=only_affected
    )
    return final_user_entity_stats(combined, k=k)
