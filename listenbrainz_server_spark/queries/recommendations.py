"""Similarity and recommendation handlers (SURVEY.md §2.12): the
reference's `similarity.*`, `cf.*`, `releases.fresh` and `troi.*`
entries.

- similarity: `h_similar_entities`, `h_similar_capped`,
  `h_similar_weighted`, `h_similar_users`;
- recommendation: `h_discovery`, `h_missing_data`, `h_fresh_releases`;
- playlists: `h_playlist_picks`, `h_troi_periodic_jams`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.joins import anti_join
from listenbrainz_server_spark.operators.sessionize import (
    session_pairs,
    with_session_ids,
)
from listenbrainz_server_spark.operators.topk import global_top_k, top_k_per_group
from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.plans.cf import similar_users_handler, similar_users_sql
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# similarity.recording — sessionized co-occurrence similarity
# (similarity/recording/common.py:59-172).
# --------------------------------------------------------------------------
@register(
    "h_similar_entities",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               DATE_DIFF('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_type,
               SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    ),
    pairs AS (
        SELECT a.event_type AS item_a, b.event_type AS item_b, COUNT(*) AS score
        FROM sessions a
        JOIN sessions b ON a.user_id = b.user_id AND a.session_id = b.session_id
                        AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT item_a, item_b, score,
               CAST(RANK() OVER (
                   PARTITION BY item_a ORDER BY score DESC, item_b) AS BIGINT) AS rank
        FROM pairs WHERE score > 1
    ) WHERE rank <= 100
    """,
    doc="similarity.recording handler: sessionize → pair counts → rank limit",
)
def h_similar_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # events ordering tie-break is handled inside sessionize via ts only;
    # events have unique (user, ts) at this scale — rank method matches.
    return dispatch(
        "similarity.recording", spark, sf_dir, session_gap_s=1800, threshold=1, limit=100
    )


# --------------------------------------------------------------------------
# similarity with per-user contribution cap
# (similarity/recording/common.py:126-131 LEAST cap).
# --------------------------------------------------------------------------
@register(
    "h_similar_capped",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               DATE_DIFF('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_type,
               SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    ),
    per_user AS (
        SELECT a.user_id, a.event_type AS item_a, b.event_type AS item_b,
               LEAST(COUNT(*), 5) AS contrib
        FROM sessions a
        JOIN sessions b ON a.user_id = b.user_id AND a.session_id = b.session_id
                        AND a.event_type < b.event_type
        GROUP BY 1, 2, 3
    )
    SELECT item_a, item_b, CAST(SUM(contrib) AS BIGINT) AS score
    FROM per_user GROUP BY 1, 2
    """,
    doc="sessionized similarity with per-user LEAST contribution cap",
)
def h_similar_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = with_session_ids(ev, "user_id", "ts", 1800, tiebreak=("event_id",))
    return session_pairs(
        sess, "user_id", "session_id", "event_type", max_contribution=5
    )


# --------------------------------------------------------------------------
# similarity.artist weighted variant (similarity/artist.py:28-43,64-73):
# pair scores weighted per occurrence — featured credits contribute
# 0.25 (IF(after_ft_jp, 0.25, 1)); here 'skip' events play the
# featured role. Sum of min-weight products per pair.
# --------------------------------------------------------------------------
@register(
    "h_similar_weighted",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN event_type = 'skip' THEN 0.25 ELSE 1.0 END AS w,
               DATE_DIFF('second',
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                         ts) AS gap_s
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_type, w,
               SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    )
    SELECT a.event_type AS item_a, b.event_type AS item_b,
           ROUND(SUM(LEAST(a.w, b.w)), 2) AS score
    FROM sessions a
    JOIN sessions b ON a.user_id = b.user_id AND a.session_id = b.session_id
                    AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    doc="similarity.artist weighted pairs: featured-credit 0.25 weighting",
)
def h_similar_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    sess = with_session_ids(ev, "user_id", "ts", 1800, tiebreak=("event_id",))
    weighted = sess.withColumn(
        "w", F.when(F.col("event_type") == "skip", 0.25).otherwise(1.0)
    )
    a = weighted.select(
        "user_id", "session_id", F.col("event_type").alias("item_a"), F.col("w").alias("w_a")
    )
    b = weighted.select(
        "user_id", "session_id", F.col("event_type").alias("item_b"), F.col("w").alias("w_b")
    )
    pairs = a.join(b, ["user_id", "session_id"]).where(F.col("item_a") < F.col("item_b"))
    return pairs.groupBy("item_a", "item_b").agg(
        F.round(F.sum(F.least(F.col("w_a"), F.col("w_b"))), 2).alias("score")
    )


# --------------------------------------------------------------------------
# similarity.similar_users (similarity/user.py:63-86): cosine pairs
# (i<j) expanded symmetrically, row_number per user by similarity,
# top-N kept. The handler and its oracle twin live in plans/cf.py with
# the degree-capped cosine pair source they share with the m_user_cosine
# queries and the dispatch table.
# --------------------------------------------------------------------------
@register(
    "h_similar_users",
    similar_users_sql(25),
    doc="similarity.similar_users handler: symmetric expansion + top-25 "
    "(similarity/user.py:70-86)",
)
def h_similar_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similar_users_handler(spark, sf_dir)


# --------------------------------------------------------------------------
# cf.recommendations.recording.discovery
# (recommendations/recording/discovery.py:17-28): latest interaction
# per (user, item) — feeds recommendation recency.
# --------------------------------------------------------------------------
@register(
    "h_discovery",
    """
    SELECT o_custkey AS user_id, o_orderpriority AS entity,
           MAX(o_orderdate) AS latest_listened_at,
           MIN(o_orderdate) AS first_listened_at
    FROM orders
    GROUP BY 1, 2
    """,
    doc="cf.discovery handler: first/latest interaction per (user, entity)",
)
def h_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderpriority").alias("entity"),
    ).agg(
        F.max("o_orderdate").alias("latest_listened_at"),
        F.min("o_orderdate").alias("first_listened_at"),
    )


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
# releases.fresh (fresh_releases/fresh_releases.py:44-115): per-user
# affinity to "fresh" items — upcoming parts (stand-in: partkey%20==0)
# scored by the user's historical affinity to the part's brand,
# confidence-ranked per user.
# --------------------------------------------------------------------------
@register(
    "h_fresh_releases",
    """
    WITH purchases AS (
        SELECT o.o_custkey AS user_id, p.p_brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ),
    affinity AS (
        SELECT user_id, p_brand, COUNT(*) AS brand_count
        FROM purchases GROUP BY 1, 2
    ),
    fresh AS (
        SELECT p_partkey, p_name, p_brand FROM part WHERE p_partkey % 20 = 0
    )
    SELECT * FROM (
        SELECT a.user_id, f.p_partkey, f.p_name, a.brand_count AS score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY a.user_id
                   ORDER BY a.brand_count DESC, f.p_partkey) AS BIGINT) AS rank
        FROM affinity a JOIN fresh f ON a.p_brand = f.p_brand
    ) WHERE rank <= 3
    """,
    doc="releases.fresh handler: brand-affinity scoring of fresh items, top-K per user",
)
def h_fresh_releases(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_name", "p_brand")
    purchases = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(F.col("o_custkey").alias("user_id"), "p_brand")
    )
    affinity = purchases.groupBy("user_id", "p_brand").agg(
        F.count(F.lit(1)).alias("brand_count")
    )
    fresh = part.where(F.col("p_partkey") % 20 == 0)
    scored = affinity.join(F.broadcast(fresh), "p_brand").select(
        "user_id", "p_partkey", "p_name", F.col("brand_count").alias("score")
    )
    return top_k_per_group(
        scored,
        partition_by=["user_id"],
        order_by=[F.col("score").desc(), F.col("p_partkey")],
        k=3,
    ).withColumn("rank", F.col("rank").cast("bigint")).select(
        "user_id", "p_partkey", "p_name", "score", "rank"
    )


# --------------------------------------------------------------------------
# troi.playlists — deterministic md5-shuffle picks
# (troi/periodic_jams.py:56-64).
# --------------------------------------------------------------------------
@register(
    "h_playlist_picks",
    """
    SELECT * FROM (
        SELECT user_id, event_type,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY MD5(event_type)) AS BIGINT) AS pick
        FROM (SELECT DISTINCT user_id, event_type FROM events)
    ) WHERE pick <= 2
    """,
    doc="troi.playlists handler: md5-derived diversification picks",
)
def h_playlist_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("troi.playlists", spark, sf_dir, picks=2)


# --------------------------------------------------------------------------
# troi.playlists periodic-jams, fully composed
# (troi/periodic_jams.py:15-90): candidate generation (globally popular
# brands) → recency anti-join (not bought in the recent window) →
# negative-feedback anti-join (never returned by the user) →
# deterministic md5 diversification picks.
# --------------------------------------------------------------------------
@register(
    "h_troi_periodic_jams",
    """
    WITH purchases AS (
        SELECT o.o_custkey AS user_id, p.p_brand AS brand,
               l.l_returnflag, o.o_orderdate
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ),
    top_brands AS (
        SELECT brand, COUNT(*) AS global_n
        FROM purchases GROUP BY brand
        ORDER BY global_n DESC, brand LIMIT 10
    ),
    users AS (SELECT DISTINCT user_id FROM purchases),
    recent AS (
        SELECT DISTINCT user_id, brand FROM purchases
        WHERE o_orderdate >= TIMESTAMP '1999-01-01'
    ),
    hated AS (
        SELECT DISTINCT user_id, brand FROM purchases WHERE l_returnflag = 'R'
    ),
    candidates AS (
        SELECT u.user_id, t.brand, t.global_n
        FROM users u CROSS JOIN top_brands t
    ),
    filtered AS (
        SELECT c.user_id, c.brand, c.global_n
        FROM candidates c
        WHERE NOT EXISTS (
            SELECT 1 FROM recent r WHERE r.user_id = c.user_id AND r.brand = c.brand
        )
        AND NOT EXISTS (
            SELECT 1 FROM hated h WHERE h.user_id = c.user_id AND h.brand = c.brand
        )
    )
    SELECT * FROM (
        SELECT user_id, brand, global_n,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY MD5(brand)) AS BIGINT) AS pick
        FROM filtered
    ) WHERE pick <= 3
    """,
    doc="troi.playlists periodic-jams: candidates → recency/feedback anti-joins → md5 picks",
)
def h_troi_periodic_jams(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    purchases = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("p_brand").alias("brand"),
            "l_returnflag",
            "o_orderdate",
        )
    )
    top_brands = global_top_k(
        purchases.groupBy("brand").agg(F.count(F.lit(1)).alias("global_n")),
        [F.col("global_n").desc(), F.col("brand")],
        10,
    )
    users = purchases.select("user_id").distinct()
    recent = (
        purchases.where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
        .select("user_id", "brand")
        .distinct()
    )
    hated = (
        purchases.where(F.col("l_returnflag") == "R").select("user_id", "brand").distinct()
    )
    candidates = users.crossJoin(F.broadcast(top_brands))
    filtered = anti_join(
        anti_join(candidates, recent, ["user_id", "brand"]), hated, ["user_id", "brand"]
    )
    w = Window.partitionBy("user_id").orderBy(F.md5("brand"))
    return (
        filtered.withColumn("pick", F.row_number().over(w).cast("bigint"))
        .where(F.col("pick") <= 3)
    )
