"""Query-handler providers: the reference's ~40-handler API surface
(listenbrainz_spark/query_map.py:45-96) re-expressed over a generic
event fact table (user_id, ts, entity columns).

Each provider returns a DataFrame; the dispatch table in ``api.py``
maps handler names to providers. The testdata ``events`` table plays
the listens role (user_id≈user, event_type≈entity, ts≈listened_at,
value≈duration); the same providers run unchanged on a real listens
schema by passing different column names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.operators.joins import densify
from listenbrainz_server_spark.operators.sessionize import session_pairs, with_session_ids
from listenbrainz_server_spark.operators.topk import top_k_per_group


def daily_activity(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """stats.user.daily_activity (user/daily_activity.py:28-90):
    weekday × hour dense grid per user, zero-filled."""
    spark = events.sparkSession
    users = events.select(user_col).distinct()
    grid = spark.range(7).select(F.col("id").alias("dow")).crossJoin(
        spark.range(24).select(F.col("id").alias("hour"))
    )
    agg = events.groupBy(
        user_col,
        (F.weekday(ts_col) + 1).cast("bigint").alias("dow"),
        F.hour(ts_col).cast("bigint").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("listen_count"))
    grid = grid.withColumn("dow", F.col("dow") + 1)
    return densify(
        users,
        grid,
        agg,
        join_keys=[user_col, "dow", "hour"],
        fill={"listen_count": F.lit(0).cast("bigint")},
    ).select(user_col, "dow", "hour", "listen_count")


def listening_activity(
    events: DataFrame,
    buckets: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """stats.user.listening_activity (user/listening_activity.py:63-84):
    users × time-range buckets cross join, left-join facts, zero-fill.
    ``buckets`` has (bucket STRING, start TIMESTAMP, end TIMESTAMP)."""
    users = events.select(user_col).distinct()
    facts = (
        events.join(
            F.broadcast(buckets),
            (F.col(ts_col) >= F.col("start")) & (F.col(ts_col) < F.col("end")),
        )
        .groupBy(user_col, "bucket")
        .agg(F.count(F.lit(1)).alias("listen_count"))
    )
    return densify(
        users,
        buckets.select("bucket"),
        facts,
        join_keys=[user_col, "bucket"],
        fill={"listen_count": F.lit(0).cast("bigint")},
    ).select(user_col, "bucket", "listen_count")


def sitewide_listening_activity(events: DataFrame, buckets: DataFrame) -> DataFrame:
    """stats.sitewide.listening_activity: the global listen count per
    time-range bucket, zero-filled; ``buckets`` as in
    ``listening_activity``."""
    agg = (
        events.join(
            F.broadcast(buckets),
            (F.col("ts") >= F.col("start")) & (F.col("ts") < F.col("end")),
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("listen_count"))
    )
    return (
        buckets.select("bucket")
        .join(agg, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("listen_count", F.lit(0).cast("bigint")).alias("listen_count"),
        )
    )


def popularity(
    events: DataFrame,
    entity_col: str = "event_type",
    user_col: str = "user_id",
) -> DataFrame:
    """popularity.popularity (popularity/common.py:17,54): total listen
    count + distinct listener count per entity."""
    return events.groupBy(entity_col).agg(
        F.count(F.lit(1)).alias("total_listen_count"),
        F.countDistinct(user_col).alias("total_user_count"),
    )


def similar_entities(
    events: DataFrame,
    user_col: str = "user_id",
    entity_col: str = "event_type",
    ts_col: str = "ts",
    session_gap_s: int = 1800,
    threshold: int = 1,
    limit: int = 100,
    tiebreak: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """similarity.recording (similarity/recording/common.py:59-172):
    sessionize → within-session co-occurrence pairs → threshold →
    per-entity rank limit."""
    sess = with_session_ids(events, user_col, ts_col, session_gap_s, tiebreak=tiebreak)
    pairs = session_pairs(sess, user_col, "session_id", entity_col)
    scored = pairs.where(F.col("score") > threshold)
    return top_k_per_group(
        scored,
        partition_by=["item_a"],
        order_by=[F.col("score").desc(), F.col("item_b")],
        k=limit,
        method="rank",
    ).withColumn("rank", F.col("rank").cast("bigint"))


def day_of_week(
    events: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """year_in_music.day_of_week (year_in_music/day_of_week.py:8-31):
    each user's most-listened weekday, emitted as the weekday NAME the
    reference's date_format(ts, 'EEEE') produces. The reference's
    row_number has no tie-break (nondeterministic); we pin ties to the
    ISO weekday index so results are engine-comparable."""
    counts = events.groupBy(
        user_col,
        (F.weekday(ts_col) + 1).cast("bigint").alias("dow"),
        F.date_format(ts_col, "EEEE").alias("weekday"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        top_k_per_group(
            counts,
            partition_by=[user_col],
            order_by=[F.col("n").desc(), F.col("dow")],
            k=1,
            keep_rank=False,
        )
    ).select(user_col, "dow", "weekday", "n")


def playlist_picks(
    events: DataFrame,
    user_col: str = "user_id",
    entity_col: str = "event_type",
    picks: int = 2,
) -> DataFrame:
    """troi.playlists diversification (troi/periodic_jams.py:56-64):
    per-user 'random' picks — derived from md5(entity) so results are
    deterministic and testable (the reference seeds RANDOM())."""
    distinct = events.select(user_col, entity_col).distinct()
    w = Window.partitionBy(user_col).orderBy(F.md5(F.col(entity_col)))
    return (
        distinct.withColumn("pick", F.row_number().over(w).cast("bigint"))
        .where(F.col("pick") <= picks)
    )
