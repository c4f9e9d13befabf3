"""Handler-API coverage, part 2: era/genre/evolution activity,
artist-map, listening-activity buckets, tags percentile, and the
year-in-music family (SURVEY.md §2.12) — orders/customer tables play
the listens/dimension roles where multi-year history is needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.joins import densify, dim_join
from listenbrainz_server_spark.operators.topk import top_k_per_group
from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.queries import register


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
    from datetime import datetime, timedelta

    from listenbrainz_server_spark.plans.handlers import listening_activity

    ev = load_table(spark, sf_dir, "events")
    anchor = datetime(2024, 1, 1)
    buckets = spark.createDataFrame(
        [
            (f"week{i + 1}", anchor + timedelta(days=7 * i), anchor + timedelta(days=7 * (i + 1)))
            for i in range(5)
        ],
        "bucket string, start timestamp, end timestamp",
    )
    return listening_activity(ev, buckets)


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
# year_in_music.listening_time (listening_time.py:20-27).
# --------------------------------------------------------------------------
@register(
    "h_yim_listening_time",
    """
    SELECT user_id, ROUND(SUM(COALESCE(value, 180.0)), 2) AS total_listening_time
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01'
    GROUP BY user_id
    """,
    doc="year_in_music.listening_time handler",
)
def h_yim_listening_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2025-01-01").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(180.0))), 2).alias(
                "total_listening_time"
            )
        )
    )


# --------------------------------------------------------------------------
# year_in_music.most_listened_year (most_listened_year.py): per user,
# the year with the most listens.
# --------------------------------------------------------------------------
@register(
    "h_yim_most_listened_year",
    """
    WITH counts AS (
        SELECT o_custkey AS user_id,
               CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS year,
               COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT user_id, year, n FROM (
        SELECT user_id, year, n,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, year) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
    doc="year_in_music.most_listened_year handler",
)
def h_yim_most_listened_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.year("o_orderdate").cast("bigint").alias("year"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return top_k_per_group(
        counts,
        partition_by=["user_id"],
        order_by=[F.col("n").desc(), F.col("year")],
        k=1,
        keep_rank=False,
    ).select("user_id", "year", "n")


# --------------------------------------------------------------------------
# year_in_music.new_artists_discovered (new_artists_discovered.py:36):
# entities whose FIRST interaction falls in the target year.
# --------------------------------------------------------------------------
@register(
    "h_yim_new_entities",
    """
    WITH first_seen AS (
        SELECT o_custkey AS user_id, o_orderpriority AS entity,
               MIN(o_orderdate) AS first_date
        FROM orders GROUP BY 1, 2
    )
    SELECT user_id, COUNT(*) AS new_entities
    FROM first_seen
    WHERE EXTRACT(year FROM first_date) = 1998
    GROUP BY user_id
    """,
    doc="year_in_music.new_artists_discovered handler: first-seen-in-year count",
)
def h_yim_new_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    first_seen = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderpriority").alias("entity"),
    ).agg(F.min("o_orderdate").alias("first_date"))
    return (
        first_seen.where(F.year("first_date") == 1998)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("new_entities"))
    )


# --------------------------------------------------------------------------
# year_in_music.top_missed_recordings (top_missed_recordings.py:54-62):
# popular entities the user has NEVER interacted with — explicit ANTI
# JOIN against the user's own history, ranked by global popularity.
# --------------------------------------------------------------------------
@register(
    "h_yim_top_missed",
    """
    WITH global_counts AS (
        SELECT o_orderpriority AS entity, COUNT(*) AS global_n
        FROM orders GROUP BY 1
    ),
    users AS (SELECT DISTINCT o_custkey AS user_id FROM orders),
    history AS (SELECT DISTINCT o_custkey AS user_id, o_orderpriority AS entity FROM orders)
    SELECT u.user_id, g.entity, g.global_n
    FROM users u CROSS JOIN global_counts g
    WHERE NOT EXISTS (
        SELECT 1 FROM history h WHERE h.user_id = u.user_id AND h.entity = g.entity
    )
    """,
    doc="year_in_music.top_missed handler: popular entities anti-joined vs history",
)
def h_yim_top_missed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.joins import anti_join

    orders = load_table(spark, sf_dir, "orders")
    global_counts = orders.groupBy(F.col("o_orderpriority").alias("entity")).agg(
        F.count(F.lit(1)).alias("global_n")
    )
    users = orders.select(F.col("o_custkey").alias("user_id")).distinct()
    history = orders.select(
        F.col("o_custkey").alias("user_id"), F.col("o_orderpriority").alias("entity")
    ).distinct()
    candidates = users.crossJoin(F.broadcast(global_counts))
    return anti_join(candidates, history, ["user_id", "entity"])


# --------------------------------------------------------------------------
# cf.missing_mb_data (missing_mb_data/missing_mb_data.py:13-57): top
# recent "unmapped" rows per user — P-status orders play the unmapped
# role; row_number by recency.
# --------------------------------------------------------------------------
@register(
    "h_missing_data",
    """
    SELECT * FROM (
        SELECT o_custkey AS user_id, o_orderkey, o_orderdate,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey) AS BIGINT) AS rank
        FROM orders WHERE o_orderstatus = 'P'
    ) WHERE rank <= 3
    """,
    doc="cf.missing_mb_data handler: top recent unmapped rows per user",
)
def h_missing_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    unmapped = orders.where(F.col("o_orderstatus") == "P").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate"
    )
    return top_k_per_group(
        unmapped,
        partition_by=["user_id"],
        order_by=[F.col("o_orderdate").desc(), F.col("o_orderkey")],
        k=3,
    ).withColumn("rank", F.col("rank").cast("bigint"))


# --------------------------------------------------------------------------
# year_in_music.top_discoveries shape (top_discoveries.py:75-86):
# entities first seen this year AND interacted with > threshold times.
# --------------------------------------------------------------------------
@register(
    "h_yim_top_discoveries",
    """
    WITH per_entity AS (
        SELECT o_custkey AS user_id, o_orderpriority AS entity,
               MIN(o_orderdate) AS first_date, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT user_id, entity, n
    FROM per_entity
    WHERE EXTRACT(year FROM first_date) = 1995 AND n > 3
    """,
    doc="year_in_music.top_discoveries handler: first-seen + HAVING threshold",
)
def h_yim_top_discoveries(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    per_entity = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderpriority").alias("entity"),
    ).agg(
        F.min("o_orderdate").alias("first_date"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_entity.where(
        (F.year("first_date") == 1995) & (F.col("n") > 3)
    ).select("user_id", "entity", "n")
