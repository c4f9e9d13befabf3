"""Year-in-music handlers (SURVEY.md §2.12): the reference's
`year_in_music.*` entries. Table roles: events ≈ listens for the
time-series handlers; orders ≈ listens (o_custkey ≈ user) where
multi-year history is needed; the supplier set of an order ≈ its
artist-credit array; part ≈ release group.

- listening totals: `h_day_of_week`, `h_yim_listening_time`,
  `h_yim_listen_count`, `h_yim_listens_per_day`,
  `h_yim_most_listened_year`;
- discoveries: `h_yim_new_entities`, `h_yim_top_discoveries`,
  `h_yim_top_missed`, `h_yim_new_releases`;
- top lists: `h_yim_top_stats`, `h_top_genres`, `h_top_genres_exact`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.joins import densify, priority_pick
from listenbrainz_server_spark.operators.topk import top_k_per_group
from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# year_in_music.day_of_week — per-user argmax weekday
# (year_in_music/day_of_week.py:22-28).
# --------------------------------------------------------------------------
@register(
    "h_day_of_week",
    """
    WITH counts AS (
        SELECT user_id, CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS dow,
               dayname(ts) AS weekday, COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, dow, weekday, n FROM (
        SELECT user_id, dow, weekday, n,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, dow) AS rn
        FROM counts
    ) WHERE rn = 1
    """,
    doc="year_in_music.day_of_week handler: per-user top weekday "
    "(EEEE-style name like the reference, ISO-index tie-break)",
)
def h_day_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("year_in_music.day_of_week", spark, sf_dir)


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
# year_in_music.listen_count (listen_count.py:16-31): yearly per-user
# totals; the reference folds them into one JSON map — same map built
# here (collect over aggregate cardinality, never fact rows).
# --------------------------------------------------------------------------
@register(
    "h_yim_listen_count",
    """
    SELECT user_id, COUNT(*) AS listen_count
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01'
    GROUP BY user_id
    """,
    doc="year_in_music.listen_count handler (listen_count.py:16-40)",
)
def h_yim_listen_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2025-01-01").cast("timestamp"))
        )
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("listen_count"))
    )


# --------------------------------------------------------------------------
# year_in_music.listens_per_day (listens_per_day.py:7-14): per-user
# per-day listen counts over the year, zero-filled on the dense
# user × day grid (the listening-activity engine with day buckets).
# --------------------------------------------------------------------------
@register(
    "h_yim_listens_per_day",
    """
    WITH users AS (SELECT DISTINCT user_id FROM events),
    days AS (
        SELECT CAST(d AS DATE) AS day
        FROM generate_series(DATE '2024-01-01', DATE '2024-12-31', INTERVAL 1 DAY) t(d)
    ),
    agg AS (
        SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS listen_count
        FROM events
        WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2025-01-01'
        GROUP BY 1, 2
    )
    SELECT u.user_id, d.day, COALESCE(a.listen_count, 0) AS listen_count
    FROM users u CROSS JOIN days d
    LEFT JOIN agg a ON a.user_id = u.user_id AND a.day = d.day
    """,
    doc="year_in_music.listens_per_day handler: dense user×day grid "
    "(listens_per_day.py:7-14)",
)
def h_yim_listens_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    users = ev.select("user_id").distinct()
    days = spark.sql(
        "SELECT explode(sequence(DATE '2024-01-01', DATE '2024-12-31', "
        "INTERVAL 1 DAY)) AS day"
    )
    agg = (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2025-01-01").cast("timestamp"))
        )
        .groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("listen_count"))
    )
    return densify(
        users,
        days,
        agg,
        join_keys=["user_id", "day"],
        fill={"listen_count": F.lit(0).cast("bigint")},
    ).select("user_id", "day", "listen_count")


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
# year_in_music.new_releases_of_top_artists
# (new_releases_of_top_artists.py:39-133) — the 3h→2min join lesson
# composed end-to-end: artist-credit ARRAYS are grouped as keys,
# per-user top arrays are exploded to artist ids, the release side
# explodes its own artist array, and the match is an equi join on the
# exploded id — never arrays_overlap (BroadcastNestedLoopJoin).
#
# Roles: a listen := an order; its artist-credit array := the sorted
# set of suppliers in the order; release_group := part (p_size <= 2 ≈
# "first_release_date_year = Y"); release's artist array := suppliers
# who shipped it; primary_type priority := p_type prefix
# (STANDARD < SMALL < MEDIUM < LARGE < other ≈ Album < EP < Single < Other < Broadcast).
# --------------------------------------------------------------------------
_TOP_ARTISTS = 5
_MAX_RELEASES_PER_ARTIST = 1
_TYPE_PRIORITY_SQL = """CASE
        WHEN p_type LIKE 'STANDARD%' THEN 1
        WHEN p_type LIKE 'SMALL%' THEN 2
        WHEN p_type LIKE 'MEDIUM%' THEN 3
        WHEN p_type LIKE 'LARGE%' THEN 4
        ELSE 5 END"""


@register(
    "h_yim_new_releases",
    f"""
    WITH listens AS (
        SELECT o.o_custkey AS user_id, o.o_orderkey,
               list_sort(list(DISTINCT l.l_suppkey)) AS artist_credit_ids
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    ),
    artist_counts AS (
        SELECT user_id, artist_credit_ids, COUNT(*) AS listen_count
        FROM listens GROUP BY 1, 2
    ),
    top_artists AS (
        SELECT user_id, artist_credit_ids,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id
                   ORDER BY listen_count DESC,
                            array_to_string(artist_credit_ids, ',')
               ) AS rn
        FROM artist_counts
    ),
    top_n_artists AS (
        SELECT DISTINCT user_id, UNNEST(artist_credit_ids) AS artist_id
        FROM top_artists WHERE rn <= {_TOP_ARTISTS}
    ),
    releases_of_year AS (
        SELECT p.p_partkey, p.p_name, p.p_type,
               UNNEST(list_sort(list(DISTINCT l.l_suppkey))) AS artist_id
        FROM part p JOIN lineitem l ON l.l_partkey = p.p_partkey
        WHERE p.p_size <= 2
        GROUP BY p.p_partkey, p.p_name, p.p_type
    ),
    matched AS (
        SELECT t.user_id, t.artist_id, r.p_partkey, r.p_name,
               {_TYPE_PRIORITY_SQL} AS type_priority
        FROM releases_of_year r JOIN top_n_artists t ON r.artist_id = t.artist_id
    ),
    ranked AS (
        SELECT user_id, artist_id, p_partkey, p_name, type_priority,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, artist_id
                   ORDER BY type_priority ASC, p_partkey ASC
               ) AS release_rank
        FROM matched
    )
    SELECT user_id, CAST(artist_id AS BIGINT) AS artist_id,
           p_partkey AS release_id, p_name AS title,
           CAST(type_priority AS BIGINT) AS type_priority
    FROM ranked WHERE release_rank <= {_MAX_RELEASES_PER_ARTIST}
    """,
    doc="year_in_music.new_releases_of_top_artists handler: array group "
    "keys + explode-both-sides equi join + type-priority rank "
    "(new_releases_of_top_artists.py:39-133)",
)
def h_yim_new_releases(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_type", "p_size"
    )

    # Listen-level artist-credit arrays (sorted set → deterministic
    # group keys, exactly the reference's artist_credit_mbids role).
    listens = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderkey")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("artist_credit_ids"))
    )
    artist_counts = listens.groupBy("user_id", "artist_credit_ids").agg(
        F.count(F.lit(1)).alias("listen_count")
    )
    top_arrays = top_k_per_group(
        artist_counts,
        partition_by=["user_id"],
        order_by=[
            F.col("listen_count").desc(),
            F.array_join(F.col("artist_credit_ids"), ","),
        ],
        k=_TOP_ARTISTS,
        keep_rank=False,
    )
    top_n_artists = (
        top_arrays.select(
            "user_id", F.explode("artist_credit_ids").alias("artist_id")
        ).distinct()
    )

    releases = (
        part.where(F.col("p_size") <= 2)
        .join(li, li.l_partkey == part.p_partkey)
        .groupBy("p_partkey", "p_name", "p_type")
        .agg(F.sort_array(F.collect_set("l_suppkey")).alias("artists"))
        .select(
            "p_partkey",
            "p_name",
            F.explode("artists").alias("artist_id"),
            F.when(F.col("p_type").startswith("STANDARD"), 1)
            .when(F.col("p_type").startswith("SMALL"), 2)
            .when(F.col("p_type").startswith("MEDIUM"), 3)
            .when(F.col("p_type").startswith("LARGE"), 4)
            .otherwise(5)
            .alias("type_priority"),
        )
    )
    matched = releases.join(top_n_artists, "artist_id")
    ranked = top_k_per_group(
        matched,
        partition_by=["user_id", "artist_id"],
        order_by=[F.col("type_priority").asc(), F.col("p_partkey").asc()],
        k=_MAX_RELEASES_PER_ARTIST,
        keep_rank=False,
    )
    return ranked.select(
        "user_id",
        F.col("artist_id").cast("bigint").alias("artist_id"),
        F.col("p_partkey").alias("release_id"),
        F.col("p_name").alias("title"),
        F.col("type_priority").cast("bigint").alias("type_priority"),
    )


# --------------------------------------------------------------------------
# year_in_music.top_stats (top_stats.py:33-54): top-50 per user for
# each entity kind, one unioned frame tagged with entity_kind (the
# reference loops artists/recordings/release_groups through one
# engine).
# --------------------------------------------------------------------------
_YIM_K = 50


def _top_stats_kind_sql(kind: str, expr: str) -> str:
    return f"""
    SELECT user_id, entity_kind, entity, listen_count, rank FROM (
        SELECT user_id, '{kind}' AS entity_kind, {expr} AS entity,
               COUNT(*) AS listen_count,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY COUNT(*) DESC, {expr}
               ) AS BIGINT) AS rank
        FROM events GROUP BY user_id, {expr}
    ) WHERE rank <= {_YIM_K}
    """


@register(
    "h_yim_top_stats",
    " UNION ALL ".join(
        [
            _top_stats_kind_sql("artists", "event_type"),
            _top_stats_kind_sql("recordings", "json_extract_string(props, '$.k')"),
            _top_stats_kind_sql(
                "release_groups", "CAST(CAST(ts AS DATE) AS VARCHAR)"
            ),
        ]
    ),
    doc="year_in_music.top_stats handler: per-user top-50 across three "
    "entity kinds in one pass (top_stats.py:33-54)",
)
def h_yim_top_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    kinds = {
        "artists": F.col("event_type"),
        "recordings": F.get_json_object("props", "$.k"),
        "release_groups": F.col("ts").cast("date").cast("string"),
    }
    outs = []
    for kind, expr in kinds.items():
        counts = ev.groupBy("user_id", expr.alias("entity")).agg(
            F.count(F.lit(1)).alias("listen_count")
        )
        top = top_k_per_group(
            counts,
            partition_by=["user_id"],
            order_by=[F.col("listen_count").desc(), F.col("entity")],
            k=_YIM_K,
        )
        outs.append(
            top.select(
                "user_id",
                F.lit(kind).alias("entity_kind"),
                "entity",
                "listen_count",
                F.col("rank").cast("bigint").alias("rank"),
            )
        )
    merged = outs[0]
    for o in outs[1:]:
        merged = merged.unionByName(o)
    return merged


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
# year_in_music.top_genres EXACT semantics (top_genres.py:29-110):
# h_top_genres covers the priority dedup but counts occurrences; the
# reference keeps the PRIORITY-WINNING SOURCE'S genre_count value
# (ROW_NUMBER pick), sums those, computes percent, keeps RANK <= 25,
# and packs a descending-sorted struct list per user. This handler
# reproduces that exactly; the struct list is serialized to a string
# (genre:count:pct_micro joined by '|') so both engines hash it
# identically. Sources mirror the reference's three pre-aggregated tag
# tables: each emits one row per (user, item, genre) with its own
# count, over OVERLAPPING row subsets so the priority pick is
# exercised (recording-tags ≈ returnflag-N lines, release-group-tags ≈
# low line numbers, artist-tags ≈ all lines).
# --------------------------------------------------------------------------
@register(
    "h_top_genres_exact",
    """
    WITH purchases AS (
        SELECT o.o_custkey AS user_id, l.l_partkey AS item_id,
               LOWER(split_part(p.p_type, ' ', 1)) AS genre,
               l.l_quantity, l.l_linenumber, l.l_returnflag
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN part p ON l.l_partkey = p.p_partkey
    ),
    src1 AS (
        SELECT user_id, item_id, genre, 1 AS priority,
               CAST(MAX(l_quantity) AS BIGINT) AS genre_count
        FROM purchases WHERE l_returnflag = 'N' GROUP BY 1, 2, 3
    ),
    src2 AS (
        SELECT user_id, item_id, genre, 2 AS priority,
               CAST(SUM(l_quantity) AS BIGINT) AS genre_count
        FROM purchases WHERE l_linenumber <= 3 GROUP BY 1, 2, 3
    ),
    src3 AS (
        SELECT user_id, item_id, genre, 3 AS priority,
               COUNT(*) AS genre_count
        FROM purchases GROUP BY 1, 2, 3
    ),
    all_genres AS (
        SELECT * FROM src1 UNION ALL SELECT * FROM src2 UNION ALL SELECT * FROM src3
    ),
    prioritized AS (
        SELECT user_id, item_id, genre, genre_count FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY user_id, item_id, genre ORDER BY priority ASC) AS rn
            FROM all_genres
        ) WHERE rn = 1
    ),
    together AS (
        SELECT user_id, genre, SUM(genre_count) AS genre_count
        FROM prioritized GROUP BY 1, 2
    ),
    percentage AS (
        SELECT user_id, genre, genre_count,
               CAST(ROUND(genre_count * 1000000.0 /
                    SUM(genre_count) OVER (PARTITION BY user_id), 0) AS BIGINT)
                   AS pct_micro,
               RANK() OVER (PARTITION BY user_id ORDER BY genre_count DESC) AS ranking
        FROM together
    )
    SELECT user_id,
           STRING_AGG(genre || ':' || genre_count || ':' || pct_micro, '|'
                      ORDER BY genre_count DESC, genre DESC, pct_micro DESC) AS data
    FROM percentage WHERE ranking <= 25 GROUP BY user_id
    """,
    doc="year_in_music.top_genres exact handler: priority-winner count pick, "
    "RANK<=25, sorted struct list (top_genres.py:29-110)",
)
def h_top_genres_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity", "l_linenumber", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    purchases = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.col("o_custkey").alias("user_id"),
            F.col("l_partkey").alias("item_id"),
            F.lower(F.substring_index("p_type", " ", 1)).alias("genre"),
            "l_quantity",
            "l_linenumber",
            "l_returnflag",
        )
        # ONE user-keyed exchange before the explode: hash(user_id)
        # satisfies every downstream clustering requirement — the
        # (user, item, genre, priority) agg, the priority-pick window,
        # the (user, genre) agg, the share/rank windows, and the final
        # per-user pack — so the exploded rows never shuffle (same
        # rationale as h_top_genres; measured there at 3.6×).
        .repartition("user_id")
    )

    # One pass over the join: three per-source aggregations as separate
    # frames would execute the fact join three times. Instead each row
    # emits its applicable (priority, value) entries via a filtered
    # inline array, and one grouped aggregation computes every
    # source's statistic; the priority-appropriate one is selected per
    # group (MAX for source 1, SUM for source 2, COUNT for source 3).
    entries = F.filter(
        F.array(
            F.struct(
                F.lit(1).alias("priority"),
                F.when(F.col("l_returnflag") == "N", F.col("l_quantity")).alias("v"),
            ),
            F.struct(
                F.lit(2).alias("priority"),
                F.when(F.col("l_linenumber") <= 3, F.col("l_quantity")).alias("v"),
            ),
            F.struct(F.lit(3).alias("priority"), F.lit(1.0).alias("v")),
        ),
        lambda s: s["v"].isNotNull(),
    )
    all_genres = (
        purchases.select(
            "user_id", "item_id", "genre", F.explode(entries).alias("pv")
        )
        .select("user_id", "item_id", "genre", "pv.priority", "pv.v")
        .groupBy("user_id", "item_id", "genre", "priority")
        .agg(
            F.max("v").alias("_mx"),
            F.sum("v").alias("_sm"),
            F.count(F.lit(1)).alias("_cnt"),
        )
        .withColumn(
            "genre_count",
            F.when(F.col("priority") == 1, F.col("_mx"))
            .when(F.col("priority") == 2, F.col("_sm"))
            .otherwise(F.col("_cnt"))
            .cast("bigint"),
        )
        .drop("_mx", "_sm", "_cnt")
    )
    prioritized = priority_pick(
        all_genres, keys=["user_id", "item_id", "genre"]
    ).select("user_id", "genre", "genre_count")
    together = prioritized.groupBy("user_id", "genre").agg(
        F.sum("genre_count").alias("genre_count")
    )
    user_w = Window.partitionBy("user_id")
    percentage = together.withColumn(
        "pct_micro",
        F.round(
            F.col("genre_count") * 1000000.0 / F.sum("genre_count").over(user_w), 0
        ).cast("bigint"),
    ).withColumn(
        "ranking",
        F.rank().over(Window.partitionBy("user_id").orderBy(F.col("genre_count").desc())),
    )
    # sort_array on struct(genre_count, genre, pct_micro) descending ==
    # ORDER BY genre_count DESC, genre DESC, pct_micro DESC.
    packed = (
        percentage.where(F.col("ranking") <= 25)
        .groupBy("user_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("genre_count", "genre", "pct_micro")), False
            ).alias("arr")
        )
    )
    return packed.select(
        "user_id",
        F.array_join(
            F.transform(
                "arr",
                lambda s: F.concat_ws(
                    ":", s["genre"], s["genre_count"], s["pct_micro"]
                ),
            ),
            "|",
        ).alias("data"),
    )
