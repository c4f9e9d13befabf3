"""Oracle-checked parameterized dispatch variants: the named handler
surface (plans/api.QUERY_MAP) exercised with the reference's request
params — entity/range/k — proving the param plumbing end-to-end
(query_map.py names + stats/__init__.py:150-218 range selection).

Ranges anchor to the latest listen timestamp, so the oracles compute
the same anchor with max(ts) instead of hardcoding dates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.plans.cf import similar_users_sql
from listenbrainz_server_spark.queries import register

# --------------------------------------------------------------------------
# stats.user.entity at range=week: last COMPLETE week before the
# anchor's week (stats/__init__.py week semantics).
# --------------------------------------------------------------------------
@register(
    "api_user_entity_week",
    """
    WITH a AS (SELECT date_trunc('week', max(ts)) AS wk FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= a.wk - INTERVAL 7 DAY AND e.ts < a.wk
    ),
    counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
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
    doc="stats.user.entity dispatched with stats_range=week, k=3",
)
def api_user_entity_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.entity", spark, sf_dir, stats_range="week", k=3)


# --------------------------------------------------------------------------
# stats.sitewide.entity at range=this_month (running period).
# --------------------------------------------------------------------------
@register(
    "api_sitewide_entity_this_month",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= date_trunc('month', a.anchor)
          AND e.ts < a.anchor + INTERVAL 1 SECOND
    ),
    per_user AS (
        SELECT user_id, event_type, LEAST(COUNT(*), 10) AS capped
        FROM ranged GROUP BY 1, 2
    )
    SELECT event_type, CAST(SUM(capped) AS BIGINT) AS listen_count
    FROM per_user GROUP BY event_type
    ORDER BY listen_count DESC, event_type
    LIMIT 5
    """,
    doc="stats.sitewide.entity dispatched with stats_range=this_month, cap=10, k=5",
)
def api_sitewide_entity_this_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch(
        "stats.sitewide.entity", spark, sf_dir, stats_range="this_month", cap=10, k=5
    )


# --------------------------------------------------------------------------
# stats.user.listening_activity at range=this_week: running week as
# generated day buckets, user-densified, zero-filled.
# --------------------------------------------------------------------------
@register(
    "api_listening_activity_this_week",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    b AS (
        SELECT CAST(CAST(anchor AS DATE) AS TIMESTAMP) AS d0,
               CAST(date_trunc('week', anchor) AS TIMESTAMP) AS monday
        FROM a
    ),
    rng AS (
        SELECT CASE WHEN d0 = monday THEN monday - INTERVAL 14 DAY
                    ELSE monday - INTERVAL 7 DAY END AS frm,
               d0 AS tend
        FROM b
    ),
    days AS (
        SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS bucket,
               CAST(d AS TIMESTAMP) AS bstart,
               CAST(d AS TIMESTAMP) + INTERVAL 1 DAY AS bend
        FROM generate_series(DATE '2024-01-01', DATE '2025-12-31', INTERVAL 1 DAY) t(d), rng
        WHERE CAST(d AS TIMESTAMP) >= rng.frm
          AND CAST(d AS TIMESTAMP) < rng.tend
    ),
    ranged AS (
        SELECT e.* FROM events e, rng
        WHERE e.ts >= rng.frm AND e.ts < rng.tend
    ),
    users AS (SELECT DISTINCT user_id FROM ranged),
    agg AS (
        SELECT r.user_id, d.bucket, COUNT(*) AS listen_count
        FROM ranged r JOIN days d ON r.ts >= d.bstart AND r.ts < d.bend
        GROUP BY 1, 2
    )
    SELECT u.user_id, d.bucket, COALESCE(a2.listen_count, 0) AS listen_count
    FROM users u CROSS JOIN days d
    LEFT JOIN agg a2 ON a2.user_id = u.user_id AND a2.bucket = d.bucket
    """,
    doc="stats.user.listening_activity dispatched with stats_range=this_week (doubled window: previous week + current through the latest day's midnight)",
)
def api_listening_activity_this_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch(
        "stats.user.listening_activity", spark, sf_dir, stats_range="this_week"
    )


# --------------------------------------------------------------------------
# stats.sitewide.era_activity: the sitewide param variant of the era
# handler (user dimension dropped).
# --------------------------------------------------------------------------
@register(
    "api_sitewide_era_activity",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS era_year,
           COUNT(*) AS listen_count
    FROM orders
    WHERE EXTRACT(year FROM o_orderdate) >= 1800
    GROUP BY 1
    """,
    doc="stats.sitewide.era_activity dispatched (sitewide param variant)",
)
def api_sitewide_era_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.sitewide.era_activity", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.user.entity at range=all_time: floor anchored at the
# founding-year constant (2002) — on this corpus, every event.
# --------------------------------------------------------------------------
@register(
    "api_user_entity_all_time",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= TIMESTAMP '2002-01-01'
          AND e.ts < a.anchor + INTERVAL 1 SECOND
    ),
    counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
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
    doc="stats.user.entity dispatched with stats_range=all_time (2002 floor), k=3",
)
def api_user_entity_all_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.entity", spark, sf_dir, stats_range="all_time", k=3)


# --------------------------------------------------------------------------
# stats.user.entity at range=this_month: the running month (the
# corpus spans a single month, so complete-prior-period ranges are
# empty — the running ranges are the non-degenerate checks here).
# --------------------------------------------------------------------------
@register(
    "api_user_entity_this_month",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= date_trunc('month', a.anchor)
          AND e.ts < a.anchor + INTERVAL 1 SECOND
    ),
    counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
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
    doc="stats.user.entity dispatched with stats_range=this_month (running), k=3",
)
def api_user_entity_this_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.entity", spark, sf_dir, stats_range="this_month", k=3)


# --------------------------------------------------------------------------
# stats.user.entity at range=this_year: running year (full corpus on
# the single-month fixture — the substantive yearly check).
# --------------------------------------------------------------------------
@register(
    "api_user_entity_this_year",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= date_trunc('year', a.anchor)
          AND e.ts < a.anchor + INTERVAL 1 SECOND
    ),
    counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
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
    doc="stats.user.entity dispatched with stats_range=this_year (running), k=3",
)
def api_user_entity_this_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.entity", spark, sf_dir, stats_range="this_year", k=3)


# --------------------------------------------------------------------------
# stats.user.entity at range=quarter: the previous COMPLETE quarter
# (stats/__init__.py:130-145). On the single-month fixture this range
# is [2023-10-01, 2024-01-01) — empty, which is exactly the
# discriminating check: a broken "rolling 3 months" implementation
# would return rows and fail against the empty oracle.
# --------------------------------------------------------------------------
@register(
    "api_user_entity_quarter",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= date_trunc('quarter', a.anchor) - INTERVAL 3 MONTH
          AND e.ts < date_trunc('quarter', a.anchor)
    ),
    counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
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
    doc="stats.user.entity dispatched with stats_range=quarter (previous "
    "complete quarter; empty on the single-month fixture by design)",
)
def api_user_entity_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.entity", spark, sf_dir, stats_range="quarter", k=3)


# --------------------------------------------------------------------------
# stats.user.entity at range=half_yearly: the previous COMPLETE
# half-year (stats/__init__.py:118-127) — [2023-07-01, 2024-01-01) on
# the fixture; empty by design, same discriminating role as quarter.
# --------------------------------------------------------------------------
@register(
    "api_user_entity_half_yearly",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    b AS (
        SELECT CASE WHEN EXTRACT(month FROM anchor) <= 6
                    THEN date_trunc('year', anchor)
                    ELSE date_trunc('year', anchor) + INTERVAL 6 MONTH
               END AS hend
        FROM a
    ),
    ranged AS (
        SELECT e.* FROM events e, b
        WHERE e.ts >= b.hend - INTERVAL 6 MONTH AND e.ts < b.hend
    ),
    counts AS (
        SELECT user_id, event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
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
    doc="stats.user.entity dispatched with stats_range=half_yearly "
    "(previous complete half-year; empty on the fixture by design)",
)
def api_user_entity_half_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch(
        "stats.user.entity", spark, sf_dir, stats_range="half_yearly", k=3
    )


# --------------------------------------------------------------------------
# stats.user.daily_activity at range=this_week: the weekday×hour dense
# grid (S13 generated dim + J5 zero-fill) over only the running week's
# events — range resolution and grid densify exercised together
# through dispatch. Users = those active IN the range (the grid is not
# emitted for users with no ranged events).
# --------------------------------------------------------------------------
@register(
    "api_daily_activity_this_week",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= date_trunc('week', a.anchor)
          AND e.ts < a.anchor + INTERVAL 1 SECOND
    ),
    users AS (SELECT DISTINCT user_id FROM ranged),
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
        FROM ranged GROUP BY 1, 2, 3
    )
    SELECT u.user_id, g.dow, g.hour, COALESCE(a2.listen_count, 0) AS listen_count
    FROM users u CROSS JOIN grid g
    LEFT JOIN agg a2 ON a2.user_id = u.user_id AND a2.dow = g.dow AND a2.hour = g.hour
    """,
    doc="stats.user.daily_activity dispatched with stats_range=this_week "
    "(ranged weekday×hour grid)",
)
def api_daily_activity_this_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch(
        "stats.user.daily_activity", spark, sf_dir, stats_range="this_week"
    )


# --------------------------------------------------------------------------
# stats.user.genre_activity at range=this_week: top-k entity per hour
# over the running week only (genre_activity.py:22-79 + range
# resolution through dispatch).
# --------------------------------------------------------------------------
@register(
    "api_genre_activity_this_week",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= date_trunc('week', a.anchor)
          AND e.ts < a.anchor + INTERVAL 1 SECOND
    ),
    agg AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
               event_type, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
    )
    SELECT * FROM (
        SELECT hour, event_type, listen_count,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY hour
                   ORDER BY listen_count DESC, event_type) AS BIGINT) AS rank
        FROM agg
    ) WHERE rank <= 2
    """,
    doc="stats.user.genre_activity dispatched with stats_range=this_week",
)
def api_genre_activity_this_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch(
        "stats.user.genre_activity", spark, sf_dir, stats_range="this_week"
    )


# --------------------------------------------------------------------------
# similarity.similar_users at max_num_users=1: the reference's request
# param (request_manage.py:355-360, default 25) narrowed through
# dispatch to "single most similar user" — discriminating against the
# default (the fixture's densest user has 3 similars).
# --------------------------------------------------------------------------
@register(
    "api_similar_users_top1",
    similar_users_sql(1),
    doc="similarity.similar_users dispatched with max_num_users=1",
)
def api_similar_users_top1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("similarity.similar_users", spark, sf_dir, max_num_users=1)


# --------------------------------------------------------------------------
# stats.user.era_activity: user x era-year counts (era_activity.py
# semantics; sitewide variant covered by api_sitewide_era_activity).
# --------------------------------------------------------------------------
@register(
    "api_user_era_activity",
    """
    SELECT o_custkey AS user_id,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS era_year,
           COUNT(*) AS listen_count
    FROM orders
    WHERE EXTRACT(YEAR FROM o_orderdate) >= 1800
    GROUP BY 1, 2
    """,
    doc="stats.user.era_activity dispatched (user x era-year counts)",
)
def api_user_era_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.user.era_activity", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.sitewide.artist_evolution_activity: year x entity counts with
# the user dimension aggregated away.
# --------------------------------------------------------------------------
@register(
    "api_artist_evolution_sitewide",
    """
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS year,
           o_orderpriority AS entity,
           COUNT(*) AS listen_count
    FROM orders
    GROUP BY 1, 2
    """,
    doc="stats.sitewide.artist_evolution_activity dispatched "
    "(year x entity counts, sitewide)",
)
def api_artist_evolution_sitewide(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("stats.sitewide.artist_evolution_activity", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.entity.listeners at range=week: top-K listeners per entity
# over the last COMPLETE week before the anchor's week, plus the
# entity's total listener count. (The fixture's events span a single
# month, so week is the narrowest range with guaranteed rows.)
# --------------------------------------------------------------------------
@register(
    "api_listener_entity_week",
    """
    WITH a AS (SELECT date_trunc('week', max(ts)) AS wend FROM events),
    ranged AS (
        SELECT e.* FROM events e, a
        WHERE e.ts >= a.wend - INTERVAL 7 DAY AND e.ts < a.wend
    ),
    counts AS (
        SELECT event_type, user_id, COUNT(*) AS listen_count
        FROM ranged GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, user_id, listen_count,
               CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
                   AS total_listeners
        FROM counts
    )
    SELECT * FROM (
        SELECT event_type, user_id, listen_count, total_listeners,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY listen_count DESC, user_id) AS BIGINT) AS rank
        FROM tot
    ) WHERE rank <= 2
    """,
    doc="stats.entity.listeners dispatched with stats_range=week, k=2",
)
def api_listener_entity_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch(
        "stats.entity.listeners", spark, sf_dir, stats_range="week", k=2
    )


# --------------------------------------------------------------------------
# stats.sitewide.listening_activity at range=week: zero-filled day
# buckets over the last complete week, user dimension aggregated.
# --------------------------------------------------------------------------
@register(
    "api_sitewide_listening_activity_week",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    rng AS (
        SELECT CAST(date_trunc('week', CAST(a.anchor AS DATE) - INTERVAL 14 DAY)
                    AS TIMESTAMP) AS mstart,
               CAST(date_trunc('week', CAST(a.anchor AS DATE) - INTERVAL 14 DAY)
                    AS TIMESTAMP) + INTERVAL 14 DAY AS mend
        FROM a
    ),
    days AS (
        SELECT strftime(CAST(d AS DATE), '%Y-%m-%d') AS bucket,
               CAST(d AS TIMESTAMP) AS bstart,
               CAST(d AS TIMESTAMP) + INTERVAL 1 DAY AS bend
        FROM generate_series(DATE '2024-01-01', DATE '2025-12-31',
                             INTERVAL 1 DAY) t(d), rng
        WHERE CAST(d AS TIMESTAMP) >= rng.mstart
          AND CAST(d AS TIMESTAMP) < rng.mend
    ),
    ranged AS (
        SELECT e.* FROM events e, rng
        WHERE e.ts >= rng.mstart AND e.ts < rng.mend
    ),
    agg AS (
        SELECT d.bucket, COUNT(*) AS listen_count
        FROM ranged r JOIN days d ON r.ts >= d.bstart AND r.ts < d.bend
        GROUP BY 1
    )
    SELECT d.bucket, COALESCE(a2.listen_count, 0) AS listen_count
    FROM days d LEFT JOIN agg a2 USING (bucket)
    """,
    doc="stats.sitewide.listening_activity dispatched with "
    "stats_range=week (two previous complete weeks, zero-filled day buckets)",
)
def api_sitewide_listening_activity_week(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dispatch(
        "stats.sitewide.listening_activity", spark, sf_dir, stats_range="week"
    )


# --------------------------------------------------------------------------
# year_in_music.day_of_week: each user's most-listened weekday
# (ISO weekday, deterministic tie-break on weekday index).
# --------------------------------------------------------------------------
@register(
    "api_yim_day_of_week",
    """
    WITH counts AS (
        SELECT user_id, CAST(isodow(ts) AS BIGINT) AS dow,
               dayname(ts) AS weekday, COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    )
    SELECT user_id, dow, weekday, n FROM (
        SELECT user_id, dow, weekday, n,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY n DESC, dow) AS rk
        FROM counts
    ) WHERE rk = 1
    """,
    doc="year_in_music.day_of_week dispatched (per-user top weekday, EEEE-style name like the reference, ISO-index tie-break)",
)
def api_yim_day_of_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("year_in_music.day_of_week", spark, sf_dir)


# --------------------------------------------------------------------------
# popularity.popularity: total listens + distinct listeners per entity.
# --------------------------------------------------------------------------
@register(
    "api_popularity",
    """
    SELECT event_type,
           COUNT(*) AS total_listen_count,
           COUNT(DISTINCT user_id) AS total_user_count
    FROM events GROUP BY 1
    """,
    doc="popularity.popularity dispatched (listens + listeners per entity)",
)
def api_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("popularity.popularity", spark, sf_dir)


# --------------------------------------------------------------------------
# troi.playlists: per-user deterministic diversification picks
# (md5-ordered in place of the reference's seeded RANDOM()).
# --------------------------------------------------------------------------
@register(
    "api_troi_playlists",
    """
    WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT user_id, event_type, pick FROM (
        SELECT user_id, event_type,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY md5(event_type))
                   AS BIGINT) AS pick
        FROM d
    ) WHERE pick <= 2
    """,
    doc="troi.playlists dispatched (per-user md5-deterministic picks)",
)
def api_troi_playlists(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dispatch("troi.playlists", spark, sf_dir)


# --------------------------------------------------------------------------
# stats.sitewide.listening_activity at range=this_year: MONTH buckets
# (the reference's step table uses month steps for year ranges —
# stats/common/listening_activity.py:60-130), zero-filled.
# --------------------------------------------------------------------------
@register(
    "api_listening_activity_this_year_monthly",
    """
    WITH a AS (SELECT max(ts) AS anchor FROM events),
    b AS (
        SELECT CAST(CAST(anchor AS DATE) AS TIMESTAMP) AS d0,
               CAST(date_trunc('year', anchor) AS TIMESTAMP) AS yf
        FROM a
    ),
    rng AS (
        SELECT CASE WHEN d0 = yf THEN yf - INTERVAL 2 YEAR
                    ELSE yf - INTERVAL 1 YEAR END AS ystart,
               d0 AS yend
        FROM b
    ),
    months AS (
        SELECT strftime(CAST(d AS DATE), '%Y-%m') AS bucket,
               CAST(d AS TIMESTAMP) AS bstart,
               CAST(d AS TIMESTAMP) + INTERVAL 1 MONTH AS bend
        FROM generate_series(DATE '2022-01-01', DATE '2025-12-01',
                             INTERVAL 1 MONTH) t(d), rng
        WHERE CAST(d AS TIMESTAMP) >= rng.ystart
          AND CAST(d AS TIMESTAMP) < rng.yend
    ),
    ranged AS (
        SELECT e.* FROM events e, rng
        WHERE e.ts >= rng.ystart AND e.ts < rng.yend
    ),
    agg AS (
        SELECT m.bucket, COUNT(*) AS listen_count
        FROM ranged r JOIN months m ON r.ts >= m.bstart AND r.ts < m.bend
        GROUP BY 1
    )
    SELECT m.bucket, COALESCE(a2.listen_count, 0) AS listen_count
    FROM months m LEFT JOIN agg a2 USING (bucket)
    """,
    doc="stats.sitewide.listening_activity dispatched with "
    "stats_range=this_year (previous year + current through the latest "
    "day's midnight, month buckets per the reference's step table)",
)
def api_listening_activity_this_year_monthly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return dispatch(
        "stats.sitewide.listening_activity", spark, sf_dir, stats_range="this_year"
    )
