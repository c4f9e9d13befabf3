"""Stats handlers (SURVEY.md §2.12): the reference's `stats.*` and
`popularity.*` query-map entries. The events table plays the listens
fact; orders, customer and part stand in where multi-year history or
dimensions are needed. Handlers that exist in plans/api.QUERY_MAP run
through `dispatch`, so the registry and the handler API share one
provider.

- per user: `h_user_entity_stats`, `h_daily_activity`,
  `h_era_activity`, `h_genre_activity`, `h_artist_evolution`,
  `h_artist_map`, `h_listening_activity`;
- sitewide and per entity: `h_sitewide_entity`, `h_entity_listeners`,
  `h_sitewide_listening_activity`, `h_tags_percentile`;
- popularity: `h_popularity`, `h_popularity_per_artist`.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.joins import dim_join
from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.plans.handlers import (
    listening_activity,
    sitewide_listening_activity,
)
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# stats.user.entity — the M0 vertical slice: group-count → top-K →
# totals alongside (user/artist.py:34-110).
# --------------------------------------------------------------------------
@register(
    "h_user_entity_stats",
    """
    WITH counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT user_id, event_type, listen_count,
               CAST(SUM(listen_count) OVER (PARTITION BY user_id) AS BIGINT) AS total_count,
               CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS entity_count
        FROM counts
    )
    SELECT * FROM (
        SELECT user_id, event_type, listen_count, total_count, entity_count,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY listen_count DESC, event_type) AS BIGINT) AS rank
        FROM tot
    ) WHERE rank <= 3
    """,
    doc="stats.user.entity handler: per-user top-K entities + totals",
)
def h_user_entity_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.entity", spark, sf_dir, k=3)


# --------------------------------------------------------------------------
# stats.user.daily_activity — weekday×hour dense grid
# (user/daily_activity.py:28-90).
# --------------------------------------------------------------------------
@register(
    "h_daily_activity",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    grid AS (
        SELECT d.dow + 1 AS dow, h.hour
        FROM (SELECT UNNEST(range(7)) AS dow) d
        CROSS JOIN (SELECT UNNEST(range(24)) AS hour) h
    ),
    agg AS (
        SELECT user_id,
               CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS dow,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
               COUNT(*) AS listen_count
        FROM events GROUP BY 1, 2, 3
    )
    SELECT u.user_id, g.dow, g.hour, COALESCE(a.listen_count, 0) AS listen_count
    FROM users u CROSS JOIN grid g
    LEFT JOIN agg a ON a.user_id = u.user_id AND a.dow = g.dow AND a.hour = g.hour
    """,
    doc="stats.user.daily_activity handler: weekday×hour zero-filled grid",
)
def h_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.daily_activity", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.user.era_activity (era_activity.py:40-43): listens bucketed by
# the era (year) of the entity — order year per customer here.
# --------------------------------------------------------------------------
@register(
    "h_era_activity",
    """
    SELECT o_custkey AS user_id,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS era_year,
           COUNT(*) AS listen_count
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) >= 1800
    GROUP BY 1, 2
    """,
    doc="stats.user.era_activity handler: per-user era-year counts",
)
def h_era_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.era_activity", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.user.genre_activity (genre_activity.py:39,65-79): top-K entity
# per hour-of-day.
# --------------------------------------------------------------------------
@register(
    "h_genre_activity",
    """
    WITH agg AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
               event_type, COUNT(*) AS listen_count
        FROM events GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT hour, event_type, listen_count,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY hour
                   ORDER BY listen_count DESC, event_type) AS BIGINT) AS rank
        FROM agg
    ) WHERE rank <= 2
    """,
    doc="stats.user.genre_activity handler: top-K entity per hour",
)
def h_genre_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.genre_activity", spark, sf_dir, k=2)


# --------------------------------------------------------------------------
# stats.user.artist_evolution_activity
# (artist_evolution_activity.py:33-54): entity × year evolution.
# --------------------------------------------------------------------------
@register(
    "h_artist_evolution",
    """
    SELECT o_custkey AS user_id,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
           o_orderpriority AS entity,
           COUNT(*) AS listen_count
    FROM orders
    GROUP BY 1, 2, 3
    """,
    doc="stats.user.artist_evolution_activity handler: entity×year counts",
)
def h_artist_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.artist_evolution_activity", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.user.artist_map (stats/user/entity.py:34-42 +
# sitewide/artist_map.py:10-55): counts rolled up to country — region
# via the nation dim plays the ISO-country role.
# --------------------------------------------------------------------------
@register(
    "h_artist_map",
    """
    SELECT c.c_custkey AS user_id, r.r_name AS country, COUNT(*) AS listen_count
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="stats.user.artist_map handler: per-user country rollup via dim chain",
)
def h_artist_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), F.col("r_name").alias("country")
    )
    joined = dim_join(
        dim_join(
            dim_join(orders, cust, on=["o_custkey"], how="inner"),
            nation,
            on=["c_nationkey"],
        ),
        region,
        on=["n_regionkey"],
    )
    return joined.groupBy(
        F.col("o_custkey").alias("user_id"), "country"
    ).agg(F.count(F.lit(1)).alias("listen_count"))


# --------------------------------------------------------------------------
# stats.user.listening_activity (listening_activity.py:63-84): range
# buckets from the anchored selector, densified per user.
# --------------------------------------------------------------------------
@register(
    "h_listening_activity",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    buckets(bucket, bstart, bend) AS (
        VALUES ('week1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
               ('week2', TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15'),
               ('week3', TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22'),
               ('week4', TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29'),
               ('week5', TIMESTAMP '2024-01-29', TIMESTAMP '2024-02-05')
    ),
    agg AS (
        SELECT e.user_id, b.bucket, COUNT(*) AS listen_count
        FROM events e JOIN buckets b ON e.ts >= b.bstart AND e.ts < b.bend
        GROUP BY 1, 2
    )
    SELECT u.user_id, b.bucket, COALESCE(a.listen_count, 0) AS listen_count
    FROM users u CROSS JOIN buckets b
    LEFT JOIN agg a ON a.user_id = u.user_id AND a.bucket = b.bucket
    """,
    doc="stats.user.listening_activity handler: range buckets densified",
)
def h_listening_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return listening_activity(ev, _week_buckets(spark, 5))


def _week_buckets(spark: SparkSession, n: int) -> DataFrame:
    """``n`` consecutive weeks from 2024-01-01, named week1..weekN, as
    the (bucket, start, end) frame the listening-activity providers
    take."""
    anchor = datetime(2024, 1, 1)
    return spark.createDataFrame(
        [
            (f"week{i + 1}", anchor + timedelta(days=7 * i), anchor + timedelta(days=7 * (i + 1)))
            for i in range(n)
        ],
        "bucket string, start timestamp, end timestamp",
    )


# --------------------------------------------------------------------------
# stats.sitewide.entity — per-user cap before global agg + top-K
# (sitewide/entity.py:50-59, sitewide/artist.py:73-77).
# --------------------------------------------------------------------------
@register(
    "h_sitewide_entity",
    """
    WITH per_user AS (
        SELECT user_id, event_type, LEAST(COUNT(*), 10) AS capped
        FROM events GROUP BY 1, 2
    )
    SELECT event_type, CAST(SUM(capped) AS BIGINT) AS listen_count
    FROM per_user GROUP BY event_type
    ORDER BY listen_count DESC, event_type
    LIMIT 3
    """,
    doc="stats.sitewide.entity handler: capped counts, global top-K",
)
def h_sitewide_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.sitewide.entity", spark, sf_dir, cap=10, k=3)


# --------------------------------------------------------------------------
# stats.entity.listeners — top listeners per entity
# (stats/listener/entity.py:20-28).
# --------------------------------------------------------------------------
@register(
    "h_entity_listeners",
    """
    WITH counts AS (
        SELECT event_type, user_id, COUNT(*) AS listen_count
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, user_id, listen_count,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS total_listeners
        FROM counts
    )
    SELECT * FROM (
        SELECT event_type, user_id, listen_count, total_listeners,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY listen_count DESC, user_id) AS BIGINT) AS rank
        FROM tot
    ) WHERE rank <= 3
    """,
    doc="stats.entity.listeners handler: top-K listeners per entity",
)
def h_entity_listeners(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.entity.listeners", spark, sf_dir, k=3)


# --------------------------------------------------------------------------
# stats.sitewide.listening_activity (sitewide variant of
# listening_activity.py:63-84): global counts per time bucket,
# zero-filled buckets included.
# --------------------------------------------------------------------------
@register(
    "h_sitewide_listening_activity",
    """
    WITH buckets(bucket, bstart, bend) AS (
        VALUES ('week1', TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
               ('week2', TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15'),
               ('week3', TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22'),
               ('week4', TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29'),
               ('week5', TIMESTAMP '2024-01-29', TIMESTAMP '2024-02-05'),
               ('week6', TIMESTAMP '2024-02-05', TIMESTAMP '2024-02-12')
    ),
    agg AS (
        SELECT b.bucket, COUNT(*) AS listen_count
        FROM events e JOIN buckets b ON e.ts >= b.bstart AND e.ts < b.bend
        GROUP BY 1
    )
    SELECT b.bucket, COALESCE(a.listen_count, 0) AS listen_count
    FROM buckets b LEFT JOIN agg a ON a.bucket = b.bucket
    """,
    doc="stats.sitewide.listening_activity handler: global bucket counts, zero-filled",
)
def h_sitewide_listening_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return sitewide_listening_activity(ev, _week_buckets(spark, 6))


# --------------------------------------------------------------------------
# tags.default (tags/tags.py:14-50): dense_rank popularity + percentile
# from max-over-partition.
# --------------------------------------------------------------------------
@register(
    "h_tags_percentile",
    """
    WITH ranked AS (
        SELECT p_type AS tag, p_partkey,
               CAST(DENSE_RANK() OVER (
                   PARTITION BY p_type ORDER BY p_retailprice DESC, p_partkey
               ) AS BIGINT) AS ranking
        FROM part
    )
    SELECT tag, p_partkey, ranking,
           ROUND(CASE WHEN MAX(ranking) OVER (PARTITION BY tag) = 1 THEN 1.0
                 ELSE (ranking - 1.0) / (MAX(ranking) OVER (PARTITION BY tag) - 1.0)
            END, 6) AS percent
    FROM ranked
    """,
    doc="tags.default handler: dense_rank + max-over-partition percentile",
)
def h_tags_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_type").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    ranked = part.select(
        F.col("p_type").alias("tag"),
        "p_partkey",
        F.dense_rank().over(w).cast("bigint").alias("ranking"),
    )
    wmax = Window.partitionBy("tag")
    mx = F.max("ranking").over(wmax)
    return ranked.withColumn(
        "percent",
        F.round(
            F.when(mx == 1, F.lit(1.0)).otherwise(
                (F.col("ranking") - 1.0) / (mx - 1.0)
            ),
            6,
        ),
    )


# --------------------------------------------------------------------------
# popularity.popularity — listen totals + distinct listeners
# (popularity/common.py:17,54).
# --------------------------------------------------------------------------
@register(
    "h_popularity",
    """
    SELECT event_type,
           COUNT(*) AS total_listen_count,
           COUNT(DISTINCT user_id) AS total_user_count
    FROM events GROUP BY event_type
    """,
    doc="popularity.popularity handler",
)
def h_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("popularity.popularity", spark, sf_dir)


# --------------------------------------------------------------------------
# popularity.popularity per-artist variant (popularity/main.py:15-33):
# per (artist, recording) totals — brand plays artist, part plays
# recording.
# --------------------------------------------------------------------------
@register(
    "h_popularity_per_artist",
    """
    SELECT p.p_brand AS artist, l.l_partkey AS recording_id,
           COUNT(*) AS total_listen_count,
           COUNT(DISTINCT o.o_custkey) AS total_user_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY 1, 2
    """,
    doc="popularity per-artist variant: per (artist, item) totals + distinct listeners",
)
def h_popularity_per_artist(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("p_brand").alias("artist"),
            F.col("l_partkey").alias("recording_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("total_listen_count"),
            F.countDistinct("o_custkey").alias("total_user_count"),
        )
    )
