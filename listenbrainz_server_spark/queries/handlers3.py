"""Handler-API coverage, part 3: capped-contribution similarity and
the composed troi periodic-jams pipeline (SURVEY.md §2.12).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.joins import anti_join, dim_join
from listenbrainz_server_spark.operators.sessionize import session_pairs, with_session_ids
from listenbrainz_server_spark.operators.topk import global_top_k, top_k_per_group
from listenbrainz_server_spark.plans.handlers import sitewide_listening_activity
from listenbrainz_server_spark.queries import register


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
    from listenbrainz_server_spark.operators.sessionize import with_session_ids

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
    from datetime import datetime, timedelta

    ev = load_table(spark, sf_dir, "events")
    anchor = datetime(2024, 1, 1)
    buckets = spark.createDataFrame(
        [
            (f"week{i + 1}", anchor + timedelta(days=7 * i), anchor + timedelta(days=7 * (i + 1)))
            for i in range(6)
        ],
        "bucket string, start timestamp, end timestamp",
    )
    return sitewide_listening_activity(ev, buckets)


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
# year_in_music.top_genres (top_genres.py:29-95), fully composed:
# three overlapping tag sources with priorities (recording > artist >
# release-group ≈ part-type > brand-word > order-priority here),
# best-priority dedup per (user, genre), counts, then share-of-total.
# --------------------------------------------------------------------------
@register(
    "h_top_genres",
    """
    WITH purchases AS (
        SELECT o.o_custkey AS user_id, o.o_orderkey, o.o_orderpriority,
               p.p_type, p.p_brand
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ),
    tagged AS (
        SELECT user_id, o_orderkey, LOWER(p_type) AS genre, 1 AS priority FROM purchases
        UNION ALL
        SELECT user_id, o_orderkey, LOWER(p_brand) AS genre, 2 AS priority FROM purchases
        UNION ALL
        SELECT user_id, o_orderkey, LOWER(o_orderpriority) AS genre, 3 AS priority FROM purchases
    ),
    deduped AS (
        SELECT user_id, o_orderkey, genre,
               MIN(priority) AS best_priority
        FROM tagged GROUP BY 1, 2, 3
    ),
    counts AS (
        SELECT user_id, genre, CAST(MIN(best_priority) AS INT) AS priority,
               COUNT(*) AS genre_count
        FROM deduped GROUP BY 1, 2
    )
    SELECT user_id, genre, priority, genre_count,
           ROUND(genre_count * 100.0 / SUM(genre_count) OVER (PARTITION BY user_id), 6)
               AS genre_count_percent
    FROM counts
    """,
    doc="year_in_music.top_genres handler: 3-source priority dedup + share of total",
)
def h_top_genres(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type", "p_brand")
    purchases = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            "o_orderkey",
            "o_orderpriority",
            "p_type",
            "p_brand",
        )
        # ONE user-keyed exchange, placed BEFORE the 3× explode: hash
        # partitioning on user_id satisfies the clustering requirement
        # of the (user, order, genre) dedup agg, the (user, genre)
        # count agg, AND the share-of-total window — so the exploded
        # rows (3× the fact) never shuffle at all; only the pre-explode
        # purchase rows do. 3.6× faster at sf0.1, and at 100 TB it
        # removes the largest shuffle in the query. Skew exposure is
        # user_id — identical to what the window already requires.
        .repartition("user_id")
    )

    # One pass over the join: a UNION ALL of three projections would
    # execute the scan + 3-way fact join three times (union branches
    # don't share subtrees) — 3× the fact scan at 100 TB; exploding an
    # inline (genre, priority) array reads it once. (On a 3-file
    # local corpus the union's extra branches LOOK faster — more tasks
    # in flight — but that is parallelism the cluster already has.)
    tagged = purchases.select(
        "user_id",
        "o_orderkey",
        F.explode(
            F.array(
                F.struct(F.lower("p_type").alias("genre"), F.lit(1).alias("priority")),
                F.struct(F.lower("p_brand").alias("genre"), F.lit(2).alias("priority")),
                F.struct(
                    F.lower("o_orderpriority").alias("genre"),
                    F.lit(3).alias("priority"),
                ),
            )
        ).alias("gp"),
    ).select("user_id", "o_orderkey", "gp.genre", "gp.priority")
    deduped = tagged.groupBy("user_id", "o_orderkey", "genre").agg(
        F.min("priority").alias("best_priority")
    )
    counts = deduped.groupBy("user_id", "genre").agg(
        F.min("best_priority").cast("int").alias("priority"),
        F.count(F.lit(1)).alias("genre_count"),
    )
    w = Window.partitionBy("user_id")
    return counts.withColumn(
        "genre_count_percent",
        F.round(F.col("genre_count") * 100.0 / F.sum("genre_count").over(w), 6),
    )


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
