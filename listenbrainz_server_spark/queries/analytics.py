"""User-analytics queries over the events table: the product reports a
listening service runs beside its stats.

- growth and retention: `a_user_growth`, `a_dau_wau`,
  `a_retention_cohorts`, `w_user_lifecycle`, `x_retention_sweep`;
- engagement: `a_rfm_segments`, `a_listening_streaks`,
  `a_session_stats`, `a_inter_event_time`, `a_listen_gini`,
  `w_hour_entropy`, `w_novelty_curve`;
- funnels, experiments and forecasts: `a_conversion_funnel`,
  `x_ab_test_report`, `a_daily_anomalies`, `a_seasonal_baseline`;
- event-type Markov chains: `w_transition_matrix`, `w_markov_power`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.queries import register
from listenbrainz_server_spark.session import local_frame


# --------------------------------------------------------------------------
# User growth curve — cumulative distinct users by day. The naive
# form (COUNT(DISTINCT user) OVER cumulative window) holds every id
# in window state; the scalable identity is: a user contributes to
# the cumulative count exactly from their FIRST-SEEN day, so one
# per-user min(day) aggregate + a day-level cumulative sum over the
# REDUCED (≤ |days|) table gives the same curve. Pattern generalizes
# to any cumulative-distinct metric at 100 TB.
# --------------------------------------------------------------------------
@register(
    "a_user_growth",
    """
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d)
    SELECT d AS day, CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY d
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumulative_users
    FROM daily
    """,
    doc="cumulative-distinct user growth via first-seen-day reduction "
    "(no distinct-state window; cumsum runs on the day-level table)",
)
def a_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return daily.select(
        F.col("d").alias("day"),
        F.col("new_users").cast("bigint"),
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


# --------------------------------------------------------------------------
# DAU/WAU stickiness — daily actives over rolling-7-day actives, the
# standard engagement ratio. This is the EXACT tier (distinct
# (day, user) pairs re-counted per window — fine while users × 7 days
# fits a shuffle); x_hll_rolling_distinct is the same window on
# sketches, the shape that replaces this at 100 TB. Day dim is tiny →
# the rolling window is a broadcast day-to-day join, and the fact
# table reduces to distinct (day, user) once.
# --------------------------------------------------------------------------
@register(
    "a_dau_wau",
    """
    WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
    wau AS (
        SELECT d.day, COUNT(DISTINCT e.user_id) AS wau
        FROM dau d JOIN du e ON e.day <= d.day AND e.day >= d.day - 6
        GROUP BY d.day
    )
    SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
           ROUND(d.dau * 1.0 / w.wau, 6) AS stickiness
    FROM dau d JOIN wau w ON w.day = d.day
    """,
    doc="DAU / rolling-7-day-WAU stickiness (exact tier; HLL variant "
    "is x_hll_rolling_distinct)",
)
def a_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.col("ts").cast("date").alias("day"), "user_id").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    win = F.broadcast(dau.select("day")).join(
        du.select(F.col("day").alias("eday"), "user_id"),
        (F.col("eday") <= F.col("day"))
        & (F.col("eday") >= F.date_sub(F.col("day"), 6)),
    )
    wau = win.groupBy("day").agg(F.count_distinct("user_id").alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        F.col("dau").cast("bigint"),
        F.col("wau").cast("bigint"),
        F.round(F.col("dau") * 1.0 / F.col("wau"), 6).alias("stickiness"),
    )


# --------------------------------------------------------------------------
# Retention cohorts — the classic product-analytics matrix the
# reference's listening stats stop short of: users grouped by their
# first-activity day (cohort), counted as retained on each later
# offset day they were active. Plan: per-user first-day agg (keyed),
# join back on user (keyed), distinct (cohort, offset, user) then the
# matrix agg — every exchange user- or cohort-keyed, no window over
# the corpus.
# --------------------------------------------------------------------------
@register(
    "a_retention_cohorts",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events
        GROUP BY user_id
    ),
    act AS (
        SELECT DISTINCT e.user_id, f.cohort_day,
               date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(day_offset AS BIGINT) AS day_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active
    FROM act
    WHERE day_offset <= 14
    GROUP BY 1, 2
    """,
    doc="retention cohorts: users by first-activity day x active "
    "day-offset (0-14), the product-analytics retention matrix",
)
def a_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    act = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    return (
        act.where(F.col("day_offset") <= 14)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("bigint").alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


# --------------------------------------------------------------------------
# Growth accounting — the weekly user-lifecycle state machine every
# product dashboard runs (the "growth accounting" decomposition:
# DAU/WAU change = new + resurrected − churned): each user-week is
# labeled new (first activity ever), retained (active this week and
# last), resurrected (active, dormant ≥1 week before), or churned
# (inactive this week, active last week — attributed to the FIRST
# inactive week, clamped to the data horizon). One distinct
# (user, week) reduction, one per-user lag/lead window, map-side
# week/state count — no joins, user-keyed exchanges only.
# --------------------------------------------------------------------------
@register(
    "w_user_lifecycle",
    """
    WITH active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events
    ),
    horizon AS (SELECT MAX(w) AS maxw FROM active),
    labeled AS (
        SELECT user_id, w,
               CASE WHEN LAG(w) OVER u IS NULL THEN 'new'
                    WHEN LAG(w) OVER u = w - INTERVAL 7 DAY THEN 'retained'
                    ELSE 'resurrected' END AS state,
               LEAD(w) OVER u AS next_w
        FROM active
        WINDOW u AS (PARTITION BY user_id ORDER BY w)
    ),
    churned AS (
        SELECT user_id, w + INTERVAL 7 DAY AS w, 'churned' AS state
        FROM labeled, horizon
        WHERE (next_w IS NULL OR next_w > w + INTERVAL 7 DAY)
          AND w + INTERVAL 7 DAY <= maxw
    )
    SELECT CAST(w AS DATE) AS week_start, state,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM (SELECT user_id, w, state FROM labeled
          UNION ALL SELECT user_id, w, state FROM churned)
    GROUP BY 1, 2
    """,
    doc="weekly growth accounting: per-week new / retained / "
    "resurrected / churned user counts (lag-lead lifecycle state "
    "machine over the distinct user-week reduction)",
)
def w_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return user_lifecycle_states(load_table(spark, sf_dir, "events"))


def user_lifecycle_states(ev: DataFrame) -> DataFrame:
    """The lifecycle state machine over any (user_id, ts) frame —
    split out so the per-state transitions (incl. horizon-clamped
    churn) are pinned on a crafted fixture in tests."""
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("w")
    ).distinct()
    u = Window.partitionBy("user_id").orderBy("w")
    prev_w = F.lag("w").over(u)
    labeled = active.select(
        "user_id",
        "w",
        F.when(prev_w.isNull(), "new")
        .when(prev_w == F.col("w") - F.expr("INTERVAL 7 DAYS"), "retained")
        .otherwise("resurrected")
        .alias("state"),
        F.lead("w").over(u).alias("next_w"),
    )
    horizon = active.agg(F.max("w").alias("maxw"))
    week_after = F.col("w") + F.expr("INTERVAL 7 DAYS")
    churned = (
        labeled.crossJoin(F.broadcast(horizon))
        .where(
            (F.col("next_w").isNull() | (F.col("next_w") > week_after))
            & (week_after <= F.col("maxw"))
        )
        .select("user_id", week_after.alias("w"), F.lit("churned").alias("state"))
    )
    return (
        labeled.select("user_id", "w", "state")
        .unionByName(churned)
        .groupBy(F.col("w").cast("date").alias("week_start"), "state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
    )


# --------------------------------------------------------------------------
# Retention-policy sweep — the data-governance what-if: for each
# candidate retention window (7/14/30/60/90 days back from the data
# horizon), how many events, active users, and how much event value
# would survive deletion of everything older. One scan, the cutoff
# dim exploded against per-day partial aggregates (a |days|-sized
# reduction), so the sweep never rescans raw events per cutoff —
# the d_threshold_sweep pattern applied to retention.
# --------------------------------------------------------------------------
@register(
    "x_retention_sweep",
    """
    WITH h AS (SELECT MAX(ts) AS horizon FROM events),
    daily AS (
        SELECT CAST(FLOOR(EPOCH(h.horizon - ts) / 86400) AS BIGINT) AS age_d,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS v
        FROM events, h GROUP BY 1
    ),
    users AS (
        SELECT user_id,
               CAST(FLOOR(EPOCH(h.horizon - last_ts) / 86400) AS BIGINT)
                   AS min_age_d
        FROM (SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id),
             h
    ),
    cut AS (SELECT UNNEST([7, 14, 30, 60, 90]) AS keep_days)
    SELECT keep_days,
           (SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) FROM daily
            WHERE age_d < keep_days) AS n_events,
           (SELECT COUNT(*) FROM users
            WHERE min_age_d < keep_days) AS n_users,
           (SELECT ROUND(COALESCE(SUM(v), 0), 2) FROM daily
            WHERE age_d < keep_days) AS total_value
    FROM cut
    """,
    doc="retention-policy what-if sweep: events/users/value surviving "
    "each candidate keep-window, from day-level partials (one scan, "
    "never per-cutoff rescans)",
)
def x_retention_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    horizon = ev.agg(F.max("ts").alias("horizon"))
    age_d = F.floor(
        (F.col("horizon").cast("double") - F.col("ts").cast("double")) / 86400
    ).cast("bigint")
    daily = (
        ev.crossJoin(F.broadcast(horizon))
        .groupBy(age_d.alias("age_d"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
    )
    users = (
        ev.groupBy("user_id")
        .agg(F.max("ts").alias("last_ts"))
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.floor(
                (F.col("horizon").cast("double") - F.col("last_ts").cast("double"))
                / 86400
            )
            .cast("bigint")
            .alias("min_age_d"),
        )
    )
    cuts = local_frame(
        ev.sparkSession, [(c,) for c in (7, 14, 30, 60, 90)], "keep_days int"
    )
    ev_counts = (
        cuts.join(F.broadcast(daily), daily["age_d"] < cuts["keep_days"], "left")
        .groupBy("keep_days")
        .agg(
            F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("n_events"),
            F.round(F.coalesce(F.sum("v"), F.lit(0)), 2).alias("total_value"),
        )
    )
    user_counts = (
        cuts.join(
            F.broadcast(users), users["min_age_d"] < cuts["keep_days"], "left"
        )
        .groupBy("keep_days")
        .agg(F.count("user_id").alias("n_users"))
    )
    return (
        ev_counts.join(user_counts, "keep_days")
        .select("keep_days", "n_events", "n_users", "total_value")
    )


# --------------------------------------------------------------------------
# RFM segmentation — the classic recency/frequency/monetary customer
# cut: per purchasing user, days since last purchase (vs the corpus
# horizon), purchase count, and total spend, each quintiled by NTILE
# over a deterministic total order (metric + user_id tiebreak, so both
# engines split identical row sequences). Segment = "R F M" digit
# string. One user-keyed reduction, three window passes over the
# |users|-sized frame, horizon broadcast. Scale note: global NTILE
# needs a total order of the USER-LEVEL reduction (3-4 orders smaller
# than events); past the point that outgrows one task's sort budget,
# swap for the histogram-CDF boundary bucketing t_quality_calibrated_
# hist demonstrates — value-quantile semantics instead of exact
# equal-count NTILE, same report contract.
# --------------------------------------------------------------------------
@register(
    "a_rfm_segments",
    """
    WITH p AS (
        SELECT user_id,
               MAX(ts) AS last_ts,
               COUNT(*) AS freq,
               ROUND(SUM(value), 2) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    h AS (SELECT MAX(ts) AS horizon FROM events),
    base AS (
        SELECT user_id,
               CAST(FLOOR(EPOCH(h.horizon - last_ts) / 86400) AS BIGINT)
                   AS recency_days,
               freq, monetary
        FROM p, h
    )
    SELECT user_id, recency_days, freq, monetary,
           CAST(r AS BIGINT) AS r, CAST(f AS BIGINT) AS f,
           CAST(m AS BIGINT) AS m,
           CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
               AS segment
    FROM (
        SELECT user_id, recency_days, freq, monetary,
               NTILE(5) OVER (ORDER BY recency_days ASC, user_id) AS r,
               NTILE(5) OVER (ORDER BY freq DESC, user_id) AS f,
               NTILE(5) OVER (ORDER BY monetary DESC, user_id) AS m
        FROM base)
    """,
    doc="RFM segmentation: per-user recency/frequency/monetary "
    "quintiles (deterministic NTILE order) + composite segment code",
)
def a_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("freq"),
            F.round(F.sum("value"), 2).alias("monetary"),
        )
    )
    horizon = ev.agg(F.max("ts").alias("horizon"))
    base = p.crossJoin(F.broadcast(horizon)).select(
        "user_id",
        F.floor(
            (F.col("horizon").cast("double") - F.col("last_ts").cast("double"))
            / 86400
        )
        .cast("bigint")
        .alias("recency_days"),
        "freq",
        "monetary",
    )
    r = F.ntile(5).over(Window.orderBy(F.col("recency_days").asc(), "user_id"))
    f = F.ntile(5).over(Window.orderBy(F.col("freq").desc(), "user_id"))
    m = F.ntile(5).over(Window.orderBy(F.col("monetary").desc(), "user_id"))
    return base.select(
        "user_id",
        "recency_days",
        "freq",
        "monetary",
        r.cast("bigint").alias("r"),
        f.cast("bigint").alias("f"),
        m.cast("bigint").alias("m"),
    ).withColumn(
        "segment",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ),
    )


# --------------------------------------------------------------------------
# Longest activity streak per user — gaps-and-islands at hour
# granularity (the YIM "streak" stat family; ref
# year_in_music/top_stats.py computes the per-user superlative shape).
# Island id = hour_number - row_number: constant within a consecutive
# run, so one window + one groupBy finds every streak; a second
# window picks each user's best (longest, earliest-start tie-break).
# Both windows are keyed by user_id — no global sort, no skew beyond
# a single user's history (bounded).
# --------------------------------------------------------------------------
@register(
    "a_listening_streaks",
    """
    WITH hours AS (
        SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events
    ),
    isl AS (
        SELECT user_id, h,
               CAST(epoch(h) AS BIGINT) // 3600
                 - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY h) AS grp
        FROM hours
    ),
    streaks AS (
        SELECT user_id, MIN(h) AS best_streak_start, COUNT(*) AS len
        FROM isl GROUP BY user_id, grp
    ),
    ranked AS (
        SELECT user_id, best_streak_start, len,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY len DESC, best_streak_start ASC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
        FROM streaks
    )
    SELECT user_id,
           CAST(len AS BIGINT) AS best_streak_hours,
           best_streak_start,
           CAST(n_streaks AS BIGINT) AS n_streaks
    FROM ranked WHERE rn = 1
    """,
    doc="longest consecutive-active-hour streak per user "
    "(gaps-and-islands: hour_number - row_number island id)",
)
def a_listening_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hours = ev.select(
        "user_id", F.date_trunc("hour", F.col("ts")).alias("h")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("h")
    isl = hours.withColumn(
        "grp",
        (F.unix_timestamp("h") / 3600).cast("bigint") - F.row_number().over(w),
    )
    streaks = isl.groupBy("user_id", "grp").agg(
        F.min("h").alias("best_streak_start"),
        F.count(F.lit(1)).alias("len"),
    )
    w_best = Window.partitionBy("user_id").orderBy(
        F.col("len").desc(), F.col("best_streak_start").asc()
    )
    w_cnt = Window.partitionBy("user_id")
    return (
        streaks.withColumn("rn", F.row_number().over(w_best))
        .withColumn("n_streaks", F.count(F.lit(1)).over(w_cnt))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("best_streak_hours"),
            "best_streak_start",
            F.col("n_streaks").cast("bigint").alias("n_streaks"),
        )
    )


# --------------------------------------------------------------------------
# Session-duration distribution — the engagement summary over the
# sessionized stream: session count, events per session, and the
# duration percentiles product analytics watches. Sessions come from
# the same native session_window operator st_session_window uses
# (extra min/max aggregates ride the same single exchange); the stats
# run over the |sessions|-sized reduction. Durations are defined
# first-event→last-event in whole seconds (epoch floored on both
# engines — DuckDB's CAST rounds).
# --------------------------------------------------------------------------
@register(
    "a_session_stats",
    """
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN ts >= LAG(ts) OVER w + INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
        FROM flagged
    ),
    per_session AS (
        SELECT user_id, sid, COUNT(*) AS n_events,
               CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)
                 - CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS dur_s
        FROM sessions GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           ROUND(AVG(n_events), 4) AS avg_events,
           ROUND(AVG(dur_s), 4) AS avg_dur_s,
           ROUND(quantile_cont(dur_s, 0.5), 4) AS p50_dur_s,
           ROUND(quantile_cont(dur_s, 0.9), 4) AS p90_dur_s
    FROM per_session
    """,
    doc="session count, events/session, and duration percentiles over "
    "the sessionized stream (single-exchange session build)",
)
def a_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.streaming.jobs import session_aggregate

    ev = load_table(spark, sf_dir, "events")
    sess = session_aggregate(
        ev,
        "ts",
        "user_id",
        gap="30 minutes",
        extra_aggs=[
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        ],
    )
    per_session = sess.select(
        "n_events",
        (
            F.unix_timestamp("last_ts") - F.unix_timestamp("first_ts")
        ).alias("dur_s"),
    )
    return per_session.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.round(F.avg("n_events"), 4).alias("avg_events"),
        F.round(F.avg("dur_s"), 4).alias("avg_dur_s"),
        F.round(F.percentile("dur_s", F.lit(0.5)), 4).alias("p50_dur_s"),
        F.round(F.percentile("dur_s", F.lit(0.9)), 4).alias("p90_dur_s"),
    )


# --------------------------------------------------------------------------
# Inter-event arrival gaps per type — the ops-latency panel: p50/p90
# seconds between consecutive events of each type within a user's
# stream, plus event volume. One user+type-keyed lag window (bounded
# by a user's history), then a |types|-sized percentile reduction.
# Gap seconds are floored to integers on both engines before the
# percentile so interpolation runs on identical inputs.
# --------------------------------------------------------------------------
@register(
    "a_inter_event_time",
    """
    WITH gaps AS (
        SELECT event_type,
               FLOOR(EPOCH(ts) - EPOCH(LAG(ts) OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id)))
                   AS gap_s
        FROM events
    )
    SELECT event_type,
           CAST(COUNT(gap_s) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
    doc="inter-arrival gap percentiles per event type (user+type-keyed "
    "lag window, |types|-sized percentile reduction)",
)
def a_inter_event_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    # Fractional-epoch subtraction BEFORE the floor: unix_timestamp
    # truncates each side to whole seconds first, which disagrees with
    # the oracle's FLOOR(EPOCH(a) - EPOCH(b)) on sub-second timestamps.
    gaps = ev.select(
        "event_type",
        F.floor(
            F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
        ).alias("gap_s"),
    ).where(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_s").cast("bigint").alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 4).alias("p90_s"),
    )


# --------------------------------------------------------------------------
# Listen-share inequality (Gini) — how concentrated activity is
# across users: the balance metric a sampling strategy consults
# before per-user caps (a4_capped_count's "why") and the corpus
# analog of x_dataset_card's dup-rate. Exact Gini via the rank
# identity G = 2·Σ(i·x_i)/(n·Σx) − (n+1)/n over per-user totals
# sorted ascending. The Spark plan never ranks users: tied users share
# the same x, so Σ i·x is tie-order independent and collapses to the
# VALUE-grouped form Σ_v v·(c_v·B_v + c_v(c_v+1)/2) where B_v counts
# users with smaller totals — one fact-table aggregate, one groupBy
# over count values, and a prefix sum over the |distinct count
# values|-sized frame (thousands of rows at any corpus size, vs the
# |users|-sized single-partition sort SURVEY §4.3 names as the 100 TB
# hazard). Σ runs in decimal(38,0) so rank×count products can't
# overflow bigint at scale. The oracle keeps the per-user ROW_NUMBER
# form — the identity is exact, so the hash must still match.
# --------------------------------------------------------------------------
@register(
    "a_listen_gini",
    """
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id
    ),
    ranked AS (
        SELECT n, ROW_NUMBER() OVER (ORDER BY n ASC, user_id ASC) AS i
        FROM per_user
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n) AS BIGINT) AS n_events,
           ROUND(2.0 * SUM(i * n) / (COUNT(*) * SUM(n))
                 - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini
    FROM ranked
    """,
    doc="exact Gini of per-user event counts (rank identity over the "
    "user-level reduction; activity-concentration report)",
)
def a_listen_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    by_val = per_user.groupBy("n").agg(F.count(F.lit(1)).alias("c"))
    w = Window.orderBy("n").rowsBetween(Window.unboundedPreceding, -1)
    pref = by_val.withColumn("b", F.coalesce(F.sum("c").over(w), F.lit(0)))
    # Ranks of the c tied users at value n are b+1 .. b+c, so their
    # Σ i·x contribution is n·(c·b + c(c+1)/2) — c(c+1) is even, so
    # DIV keeps it integral; decimal(38,0) keeps the sum exact.
    # Cast BEFORE the products: c·b and c(c+1) must not be evaluated in
    # bigint first or the cast to decimal arrives after the overflow.
    # c(c+1)/2 halves the even factor while still a bigint (halving
    # can't overflow) and widens to decimal before the multiply.
    cd = F.col("c").cast("decimal(38,0)")
    bd = F.col("b").cast("decimal(38,0)")
    tri = F.expr(
        "CASE WHEN c % 2 = 0"
        "  THEN CAST(c DIV 2 AS DECIMAL(38,0)) * (c + 1)"
        "  ELSE CAST(c AS DECIMAL(38,0)) * ((c + 1) DIV 2) END"
    )
    contrib = F.col("n").cast("decimal(38,0)") * (cd * bd + tri)
    stats = pref.agg(
        F.sum("c").cast("bigint").alias("n_users"),
        F.sum(F.col("n") * F.col("c")).cast("bigint").alias("n_events"),
        F.sum(contrib).alias("si"),
    )
    return stats.select(
        "n_users",
        "n_events",
        # Divide by the two counts SEPARATELY in double — the bigint
        # product n_users * n_events overflows first at 100 TB scale.
        F.round(
            2.0 * F.col("si") / F.col("n_users") / F.col("n_events")
            - (F.col("n_users") + 1.0) / F.col("n_users"),
            6,
        ).alias("gini"),
    )


# --------------------------------------------------------------------------
# Hour-of-day regularity per user — Shannon entropy of each user's
# activity distribution over the 24 hours: near-0 bits is a
# single-hour metronome (cron job / bot), near log2(24)≈4.58 is
# diffuse human-like activity. The behavioral twin of t_char_entropy,
# same shape: one (user, hour) reduction, rounded shares, user-keyed
# entropy fold.
# --------------------------------------------------------------------------
@register(
    "w_hour_entropy",
    """
    WITH byhour AS (
        SELECT user_id, EXTRACT(hour FROM ts) AS h, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    probs AS (
        SELECT user_id,
               ROUND(c * 1.0 / SUM(c) OVER (PARTITION BY user_id), 6) AS p
        FROM byhour
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS active_hours,
           ROUND(SUM(-p * log2(p)), 6) AS hour_entropy_bits
    FROM probs GROUP BY user_id
    """,
    doc="per-user hour-of-day activity entropy (bot/metronome "
    "detector; user-keyed reductions only)",
)
def w_hour_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    byhour = ev.groupBy(
        "user_id", F.hour("ts").alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    probs = byhour.select(
        "user_id",
        F.round(
            F.col("c") * 1.0 / F.sum("c").over(Window.partitionBy("user_id")), 6
        ).alias("p"),
    )
    return probs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_hours"),
        F.round(F.sum(-F.col("p") * F.log2("p")), 6).alias("hour_entropy_bits"),
    )


# --------------------------------------------------------------------------
# Per-user novelty curve — how many event types each user touches for
# the FIRST time per day, plus the running total: the discovery-rate
# analog of h_yim_new_entities at daily grain. First occurrences via a
# (user, type)-keyed row_number (never a distinct-in-window, which
# Spark can't do incrementally); the daily rollup and the cumulative
# sum are both user-keyed windows — bounded by one user's history,
# never the corpus.
# --------------------------------------------------------------------------
@register(
    "w_novelty_curve",
    """
    WITH firsts AS (
        SELECT user_id, event_type, MIN(CAST(ts AS DATE)) AS first_day
        FROM events GROUP BY 1, 2
    ),
    daily AS (
        SELECT user_id, first_day AS day, COUNT(*) AS novel_types
        FROM firsts GROUP BY 1, 2
    )
    SELECT user_id, day, CAST(novel_types AS BIGINT) AS novel_types,
           CAST(SUM(novel_types) OVER (PARTITION BY user_id ORDER BY day
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_novel
    FROM daily
    """,
    doc="per-user daily novelty curve: first-time event types per day "
    "+ running total (user-keyed windows only)",
)
def w_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(
        F.min(F.col("ts").cast("date")).alias("day")
    )
    daily = firsts.groupBy("user_id", "day").agg(
        F.count(F.lit(1)).alias("novel_types")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "user_id",
        "day",
        F.col("novel_types").cast("bigint"),
        F.sum("novel_types").over(w).cast("bigint").alias("cum_novel"),
    )


# --------------------------------------------------------------------------
# Ordered conversion funnel — signup → view → click → purchase, each
# stage's first occurrence required AFTER the previous stage's: the
# sequential-event analysis sessionized products ask for. Computed as
# four conditional min-timestamp aggregates per user (one keyed agg,
# no self-joins, no window): first_view = min ts of a view AFTER
# first_signup, etc. — the stage chain folds into nested conditional
# aggregates instead of a 4-way join, which is the plan you want at
# scale (a join-chain formulation shuffles the events table four
# times; this shuffles once).
# --------------------------------------------------------------------------
@register(
    "a_conversion_funnel",
    """
    WITH stage1 AS (
        SELECT user_id, MIN(ts) FILTER (event_type = 'signup') AS t_signup
        FROM events GROUP BY user_id
    ),
    stage2 AS (
        SELECT e.user_id, s.t_signup,
               MIN(e.ts) FILTER (e.event_type = 'view' AND e.ts > s.t_signup)
                   AS t_view
        FROM events e JOIN stage1 s USING (user_id)
        GROUP BY e.user_id, s.t_signup
    ),
    stage3 AS (
        SELECT e.user_id, s.t_signup, s.t_view,
               MIN(e.ts) FILTER (e.event_type = 'click' AND e.ts > s.t_view)
                   AS t_click
        FROM events e JOIN stage2 s USING (user_id)
        GROUP BY e.user_id, s.t_signup, s.t_view
    ),
    stage4 AS (
        SELECT e.user_id, s.t_signup, s.t_view, s.t_click,
               MIN(e.ts) FILTER (e.event_type = 'purchase' AND e.ts > s.t_click)
                   AS t_purchase
        FROM events e JOIN stage3 s USING (user_id)
        GROUP BY e.user_id, s.t_signup, s.t_view, s.t_click
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_signup) AS BIGINT) AS reached_signup,
           CAST(COUNT(t_view) AS BIGINT) AS reached_view,
           CAST(COUNT(t_click) AS BIGINT) AS reached_click,
           CAST(COUNT(t_purchase) AS BIGINT) AS reached_purchase
    FROM stage4
    """,
    doc="ordered conversion funnel signup->view->click->purchase: "
    "stage-chained conditional min-ts aggregates, corpus shuffled "
    "per stage on user_id only",
)
def a_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def first_after(df, etype, prev_col, out_col):
        cond = (F.col("event_type") == etype) & (
            F.col("ts") > F.col(prev_col) if prev_col else F.lit(True)
        )
        keys = [c for c in df.columns if c.startswith("t_")] if prev_col else []
        joined = ev.join(df, "user_id") if prev_col else ev
        return joined.groupBy("user_id", *keys).agg(
            F.min(F.when(cond, F.col("ts"))).alias(out_col)
        )

    s1 = first_after(None, "signup", None, "t_signup")
    s2 = first_after(s1, "view", "t_signup", "t_view")
    s3 = first_after(s2, "click", "t_view", "t_click")
    s4 = first_after(s3, "purchase", "t_click", "t_purchase")
    return s4.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_signup").alias("reached_signup"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )


# --------------------------------------------------------------------------
# A/B experiment report — deterministic hash assignment (same
# md5-prefix coordinate as x_hash_sample, so arms are reproducible
# across engines and reshuffles), per-arm conversion (>= 15 purchase
# events — raw has-purchased is degenerate on this fixture: every
# user purchases at least once, making the pooled variance zero), and
# the pooled two-proportion z statistic, NULL when the pooled
# variance degenerates. One pass over events, two tiny aggregates, a
# 1-row output.
# --------------------------------------------------------------------------
@register(
    "x_ab_test_report",
    """
    WITH assigned AS (
        SELECT user_id,
               substr(md5(CAST(user_id AS VARCHAR) || ':ab'), 1, 8) < '80000000'
                   AS arm_a,
               COUNT(*) FILTER (event_type = 'purchase') >= 15 AS converted
        FROM events
        GROUP BY user_id
    ),
    arms AS (
        SELECT CAST(COUNT(*) FILTER (arm_a) AS BIGINT) AS n_a,
               CAST(COUNT(*) FILTER (arm_a AND converted) AS BIGINT) AS conv_a,
               CAST(COUNT(*) FILTER (NOT arm_a) AS BIGINT) AS n_b,
               CAST(COUNT(*) FILTER (NOT arm_a AND converted) AS BIGINT) AS conv_b
        FROM assigned
    )
    SELECT n_a, conv_a, n_b, conv_b,
           ROUND(conv_a * 1.0 / NULLIF(n_a, 0), 6) AS rate_a,
           ROUND(conv_b * 1.0 / NULLIF(n_b, 0), 6) AS rate_b,
           ROUND((conv_a * 1.0 / NULLIF(n_a, 0) - conv_b * 1.0 / NULLIF(n_b, 0))
                 / NULLIF(sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b))
                        * (1.0 - (conv_a + conv_b) * 1.0 / (n_a + n_b))
                        * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0), 4)
               AS z
    FROM arms
    """,
    doc="A/B experiment report: md5-deterministic arm assignment, "
    "per-arm purchase conversion, pooled two-proportion z statistic",
)
def x_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("bigint")) >= 15
        ).alias("converted")
    ).withColumn(
        "arm_a",
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ab"))), 1, 8
        )
        < "80000000",
    )
    arms = assigned.agg(
        F.sum(F.col("arm_a").cast("bigint")).alias("n_a"),
        F.sum((F.col("arm_a") & F.col("converted")).cast("bigint")).alias("conv_a"),
        F.sum((~F.col("arm_a")).cast("bigint")).alias("n_b"),
        F.sum((~F.col("arm_a") & F.col("converted")).cast("bigint")).alias("conv_b"),
    )
    # An empty arm (every user hashing to one side on a tiny
    # population) must yield NULL rates/z, not an ANSI crash — every
    # division is guarded like the oracle's NULLIFs.
    def safe_div(num, den):
        return F.when(den != 0, num / den)

    p_a = safe_div(F.col("conv_a") * 1.0, F.col("n_a"))
    p_b = safe_div(F.col("conv_b") * 1.0, F.col("n_b"))
    pooled = (F.col("conv_a") + F.col("conv_b")) * 1.0 / (F.col("n_a") + F.col("n_b"))
    denom = F.sqrt(
        pooled * (1.0 - pooled)
        * (safe_div(F.lit(1.0), F.col("n_a")) + safe_div(F.lit(1.0), F.col("n_b")))
    )
    z = F.when(denom != 0, (p_a - p_b) / denom)
    return arms.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.round(p_a, 6).alias("rate_a"),
        F.round(p_b, 6).alias("rate_b"),
        F.round(z, 4).alias("z"),
    )


# --------------------------------------------------------------------------
# Daily anomaly detection — ops monitoring over the event stream:
# per-type daily counts, per-type mean/std (rounded on both engines
# before the z-score so float summation order can't flip a verdict),
# and a z > 2 spike flag. Corpus reduces to type x day rows before
# any statistics — one keyed agg plus a type-keyed broadcast join.
# --------------------------------------------------------------------------
@register(
    "a_daily_anomalies",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    mom AS (
        SELECT event_type, ROUND(AVG(n), 6) AS mu,
               ROUND(STDDEV_POP(n), 6) AS sigma
        FROM daily GROUP BY event_type
    )
    SELECT d.event_type, strftime(d.day, '%Y-%m-%d') AS day,
           CAST(d.n AS BIGINT) AS n,
           ROUND((d.n - m.mu) / NULLIF(m.sigma, 0), 4) AS z,
           ((d.n - m.mu) / NULLIF(m.sigma, 0) > 2.0) AS spike
    FROM daily d JOIN mom m USING (event_type)
    """,
    doc="daily anomaly detection: per-type daily counts with z-score "
    "spike flags (type-keyed stats, corpus reduced before any math)",
)
def a_daily_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    mom = daily.groupBy("event_type").agg(
        F.round(F.avg("n"), 6).alias("mu"),
        F.round(F.stddev_pop("n"), 6).alias("sigma"),
    )
    # sigma = 0 (constant daily counts / single active day) must yield
    # NULL, not an ANSI DIVIDE_BY_ZERO crash — mirrored by the oracle's
    # NULLIF.
    z = F.when(F.col("sigma") != 0, (F.col("n") - F.col("mu")) / F.col("sigma"))
    return daily.join(F.broadcast(mom), "event_type").select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("n").cast("bigint").alias("n"),
        F.round(z, 4).alias("z"),
        (z > 2.0).alias("spike"),
    )


# --------------------------------------------------------------------------
# Seasonal-naive forecast backtest — the baseline every real forecast
# must beat: predict each day's event count with the count 7 days
# earlier, score MAE / MAPE over all days that have a week-ago
# observation. One fact-table reduction to daily counts, then a lag
# window over the |days|-sized frame (agg-below-window — the window's
# input is already thousands of rows at any corpus size).
# --------------------------------------------------------------------------
@register(
    "a_seasonal_baseline",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    lagged AS (
        SELECT day, n, LAG(n, 7) OVER (ORDER BY day) AS pred
        FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(ABS(n - pred)), 6) AS mae,
           ROUND(AVG(ABS(n - pred) * 1.0 / n), 6) AS mape
    FROM lagged WHERE pred IS NOT NULL
    """,
    doc="seasonal-naive (lag-7) daily-count forecast backtest: MAE and "
    "MAPE over the daily reduction",
)
def a_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    lagged = daily.withColumn("pred", F.lag("n", 7).over(Window.orderBy("day")))
    return lagged.where(F.col("pred").isNotNull()).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.round(F.avg(F.abs(F.col("n") - F.col("pred"))), 6).alias("mae"),
        F.round(
            F.avg(F.abs(F.col("n") - F.col("pred")) * 1.0 / F.col("n")), 6
        ).alias("mape"),
    )


# --------------------------------------------------------------------------
# Event-type transition matrix — first-order Markov transitions over
# each user's event stream (the w_session_paths family reduced to its
# stochastic matrix: input for next-event prediction baselines and
# funnel-shape drift monitors). One lead() window keyed by user, then
# a tiny (type, type) aggregate; probabilities normalize per source
# row. The window is per-user (bounded); the matrix is |types|² rows.
# --------------------------------------------------------------------------
@register(
    "w_transition_matrix",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS t FROM pairs GROUP BY 1)
    SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
           ROUND(p.n * 1.0 / t.t, 6) AS prob
    FROM pairs p JOIN tot t USING (from_type)
    """,
    doc="first-order event-type Markov transition matrix "
    "(per-user lead window, per-row-normalized probabilities)",
)
def w_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    pairs = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("from_type")
    return pairs.withColumn("t", F.sum("n").over(w_tot)).select(
        "from_type",
        "to_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("prob"),
    )


# --------------------------------------------------------------------------
# Power iteration over the event-type Markov chain — w_transition_
# matrix taken three steps further: starting from the uniform
# distribution, pi <- pi·P three times. The iterative-linear-algebra
# shape on Spark: ONE pass over the fact table builds the sparse
# matrix (|types|² rows), then each iteration is a broadcast join of
# the |types|-row vector against the matrix plus one tiny keyed
# aggregate — the heavy scan never re-runs, and iteration cost is
# independent of corpus size. Each iterate is ROUNDED to 6 dp so both
# engines' float summation orders can't diverge the hash (the
# v_centroid_outliers rule). Types with no outgoing transitions shed
# mass (this is the observed-transition chain, not a patched ergodic
# one) — documented, deterministic.
# --------------------------------------------------------------------------
@register(
    "w_markov_power",
    """
    WITH seq AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    ),
    pairs AS (
        SELECT event_type AS from_type, next_type AS to_type, COUNT(*) AS n
        FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, SUM(n) AS t FROM pairs GROUP BY 1),
    p AS (
        SELECT pr.from_type, pr.to_type, ROUND(pr.n * 1.0 / tot.t, 6) AS prob
        FROM pairs pr JOIN tot USING (from_type)
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    pi0 AS (
        SELECT event_type,
               ROUND(1.0 / (SELECT COUNT(*) FROM types), 6) AS pi
        FROM types
    ),
    pi1 AS (
        SELECT p.to_type AS event_type, ROUND(SUM(pi0.pi * p.prob), 6) AS pi
        FROM pi0 JOIN p ON p.from_type = pi0.event_type GROUP BY 1
    ),
    pi2 AS (
        SELECT p.to_type AS event_type, ROUND(SUM(pi1.pi * p.prob), 6) AS pi
        FROM pi1 JOIN p ON p.from_type = pi1.event_type GROUP BY 1
    ),
    pi3 AS (
        SELECT p.to_type AS event_type, ROUND(SUM(pi2.pi * p.prob), 6) AS pi
        FROM pi2 JOIN p ON p.from_type = pi2.event_type GROUP BY 1
    )
    SELECT event_type, pi AS pi3 FROM pi3
    """,
    doc="3-step power iteration over the event-type transition matrix "
    "(uniform start; broadcast vector x sparse matrix per step)",
)
def w_markov_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("next_type", F.lead("event_type").over(w))
    pairs = (
        seq.where(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w_tot = Window.partitionBy("from_type")
    # Pin the |types|² matrix once: without this every iteration (and
    # the final collect) replays the fact-table scan + lead window —
    # 4 scans of the corpus at 100 TB for a matrix of a few dozen rows.
    p = (
        pairs.withColumn(
            "prob", F.round(F.col("n") * 1.0 / F.sum("n").over(w_tot), 6)
        )
        .select("from_type", "to_type", "prob")
        .localCheckpoint(eager=True)
    )
    n_types = ev.select("event_type").distinct().count()
    pi = ev.select("event_type").distinct().withColumn(
        "pi", F.round(F.lit(1.0) / F.lit(n_types), 6)
    )
    for _ in range(3):
        pi = (
            F.broadcast(pi)
            .join(p, pi["event_type"] == p["from_type"])
            .groupBy(F.col("to_type").alias("next_event_type"))
            .agg(F.round(F.sum(F.col("pi") * F.col("prob")), 6).alias("pi"))
            .withColumnRenamed("next_event_type", "event_type")
        )
    return pi.select("event_type", F.col("pi").alias("pi3"))
