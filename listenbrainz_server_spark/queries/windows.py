"""Window-function inventory queries (SURVEY.md §2.5, §2.6).

Top-K per group, rank variants, lag/lead gaps, sessionization, share
of total, deterministic shuffle, global top-N.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.sessionize import session_pairs
from listenbrainz_server_spark.operators.topk import global_top_k, top_k_per_group
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# W1: row_number top-K per group (user/artist.py:87,102). Unique
# tie-break (o_orderkey) keeps row_number deterministic.
# --------------------------------------------------------------------------
@register(
    "w1_topk_per_group",
    """
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey
               ) AS BIGINT) AS rank
        FROM orders
    ) WHERE rank <= 3
    """,
    doc="W1 top-K per group via row_number (user/artist.py:87,102)",
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return top_k_per_group(
        orders,
        partition_by=["o_custkey"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).withColumn("rank", F.col("rank").cast("bigint"))


# --------------------------------------------------------------------------
# W2/W3: rank + dense_rank (periodic_jams.py:49-55, tags/tags.py:14-22).
# Tie behavior is deterministic, no tie-break needed.
# --------------------------------------------------------------------------
@register(
    "w2_rank_dense_rank",
    """
    WITH agg AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority, o_orderstatus, n,
           CAST(RANK() OVER (PARTITION BY o_orderpriority ORDER BY n DESC) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY n DESC) AS BIGINT) AS drnk
    FROM agg
    """,
    doc="W2 rank / W3 dense_rank (tags/tags.py:14-22)",
)
def w2_rank_dense_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority", "o_orderstatus").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("o_orderpriority").orderBy(F.col("n").desc())
    return agg.select(
        "o_orderpriority",
        "o_orderstatus",
        "n",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
    )


# --------------------------------------------------------------------------
# W4/W5: lag gap + lead lookahead (similarity/recording/common.py:87-103).
# Tie-break on event_id keeps the ordering total.
# --------------------------------------------------------------------------
@register(
    "w4_lag_lead_gap",
    """
    SELECT user_id, event_id,
           DATE_DIFF('second', LAG(ts) OVER w, ts)  AS gap_s,
           DATE_DIFF('second', ts, LEAD(ts) OVER w) AS next_gap_s
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="W4 lag gap / W5 lead skip detection (similarity/recording/common.py:87-103)",
)
def w4_lag_lead_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_l = F.col("ts").cast("long")
    return ev.select(
        "user_id",
        "event_id",
        (ts_l - F.lag(ts_l, 1).over(w)).alias("gap_s"),
        (F.lead(ts_l, 1).over(w) - ts_l).alias("next_gap_s"),
    )


# --------------------------------------------------------------------------
# W6: sessionization via running conditional count
# (similarity/recording/common.py:95-103).
# --------------------------------------------------------------------------
@register(
    "w6_sessionize",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts,
               DATE_DIFF('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
        FROM events
    )
    SELECT user_id, event_id,
           CAST(SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM gaps
    """,
    doc="W6 running-count sessionization (similarity/recording/common.py:95-103)",
)
def w6_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_l = F.col("ts").cast("long")
    gap = ts_l - F.lag(ts_l, 1).over(w)
    return ev.select(
        "user_id",
        "event_id",
        F.sum(F.when(gap > 1800, 1).otherwise(0)).over(run).cast("bigint").alias("session_id"),
    )


# --------------------------------------------------------------------------
# J6: within-session co-occurrence pairs (the theta-ish self-join,
# similarity/recording/common.py:111-125), composed over W6 output.
# --------------------------------------------------------------------------
@register(
    "j6_session_pairs",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               DATE_DIFF('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_type,
               SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    )
    SELECT a.event_type AS item_a, b.event_type AS item_b, COUNT(*) AS score
    FROM sessions a
    JOIN sessions b
      ON a.user_id = b.user_id AND a.session_id = b.session_id
     AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    doc="J6 within-session pair self-join (similarity/recording/common.py:111-125)",
)
def j6_session_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Tie-break on event_id to keep session assignment total-ordered.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_l = F.col("ts").cast("long")
    gap = ts_l - F.lag(ts_l, 1).over(w)
    sessions = ev.select(
        "user_id",
        "event_type",
        F.sum(F.when(gap > 1800, 1).otherwise(0)).over(run).alias("session_id"),
    )
    return session_pairs(sessions, "user_id", "session_id", "event_type")


# --------------------------------------------------------------------------
# W7/W8/A14: share of partition total (top_genres.py:89-95).
# --------------------------------------------------------------------------
@register(
    "w8_share_of_total",
    """
    WITH agg AS (
        SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
    )
    SELECT user_id, event_type, n,
           ROUND(n * 100.0 / SUM(n) OVER (PARTITION BY user_id), 6) AS pct,
           CAST(MAX(n) OVER (PARTITION BY user_id) AS BIGINT) AS max_n
    FROM agg
    """,
    doc="W8 share-of-total + W7 max-over-partition (top_genres.py:89-95, tags.py:23-28)",
)
def w8_share_of_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id")
    return agg.select(
        "user_id",
        "event_type",
        "n",
        F.round(F.col("n") * 100.0 / F.sum("n").over(w), 6).alias("pct"),
        F.max("n").over(w).cast("bigint").alias("max_n"),
    )


# --------------------------------------------------------------------------
# W9: "random" diversification rank, made deterministic by ordering on
# md5(key) — same bytes in any engine (periodic_jams.py:56-64 seeds
# RANDOM(); we derive the shuffle from the key instead).
# --------------------------------------------------------------------------
@register(
    "w9_shuffle_rank",
    """
    SELECT * FROM (
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey ORDER BY MD5(CAST(o_orderkey AS VARCHAR))
               ) AS BIGINT) AS pick
        FROM orders
    ) WHERE pick <= 2
    """,
    doc="W9 deterministic random-shuffle rank (periodic_jams.py:56-64)",
)
def w9_shuffle_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.md5(F.col("o_orderkey").cast("string")))
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("bigint").alias("pick"),
        )
        .where(F.col("pick") <= 2)
    )


# --------------------------------------------------------------------------
# O1: global ORDER BY ... LIMIT (sitewide/artist.py:73-77) —
# TakeOrderedAndProject, no global sort.
# --------------------------------------------------------------------------
@register(
    "o1_global_topn",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
    doc="O1 global top-N (sitewide/artist.py:73-77)",
)
def o1_global_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )
    return global_top_k(orders, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 20)


# --------------------------------------------------------------------------
# Session path mining — the user-journey report over the W6
# sessionizer: most common within-session event-type trigrams. The
# per-session ordered sequence folds into an array aggregate (one
# user-keyed exchange, shared with the sessionization window), the
# trigram explode runs on session-sized arrays, and the final count
# is gram-keyed — no corpus-order window anywhere.
# --------------------------------------------------------------------------
@register(
    "w_session_paths",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               DATE_DIFF('second', LAG(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_id, ts, event_type,
               SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM gaps
    ),
    seqs AS (
        SELECT user_id, session_id,
               list(event_type ORDER BY ts, event_id) AS seq
        FROM sessions GROUP BY 1, 2
    ),
    tris AS (
        SELECT UNNEST(list_transform(range(1, len(seq) - 1),
                      i -> array_to_string(seq[i:i+2], ' > '))) AS path
        FROM seqs WHERE len(seq) >= 3
    ),
    counts AS (SELECT path, COUNT(*) AS n FROM tris GROUP BY path)
    SELECT path, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS BIGINT) AS rank
    FROM counts
    QUALIFY rank <= 15
    """,
    doc="session path mining: top-15 within-session event-type "
    "trigrams over the W6 sessionizer (user-journey report)",
)
def w_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_l = F.col("ts").cast("long")
    gap = ts_l - F.lag(ts_l, 1).over(w)
    sess = ev.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.sum(F.when(gap > 1800, 1).otherwise(0)).over(run).alias("session_id"),
    )
    seqs = sess.groupBy("user_id", "session_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ).alias("seq")
    )
    s = F.col("seq")
    tris = seqs.where(F.size(s) >= 3).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(s) - 3),
                lambda i: F.concat_ws(
                    " > ", F.get(s, i), F.get(s, i + 1), F.get(s, i + 2)
                ),
            )
        ).alias("path")
    )
    counts = tris.groupBy("path").agg(F.count(F.lit(1)).alias("n"))
    w_rank = Window.orderBy(F.col("n").desc(), "path")
    return (
        counts.withColumn("rank", F.row_number().over(w_rank).cast("bigint"))
        .where(F.col("rank") <= 15)
    )


# --------------------------------------------------------------------------
# w_ewma: exponentially-weighted moving average over daily per-type
# event counts — the standard trend smoother (pandas ewm / Holt level
# term) re-expressed as a bounded windowed weighted sum. The reference
# side: listens_per_day-style activity series (listenbrainz_spark
# stats/listening_activity) that dashboards smooth client-side; here
# the smoothing is in-engine.
#
# Semantics (declared, mirrored exactly by the oracle): zero-origin
# truncated EWMA over the last 30 PRESENT days of the series —
# y_t = alpha * sum_{i in window} (1-alpha)^(t_i distance) x_i with
# distance = day difference (calendar gaps decay by elapsed DAYS, not
# rows, so a quiet week actually fades). The unbounded recursive form
# needs pow(1/(1-a), t) partial sums that overflow double at ~2500
# days; a 30-row frame bounds both the math and the state, and at
# alpha=0.1 the truncation error is (0.9)^30 < 5% of mass only when
# the window is saturated with equal counts (documented trade).
#
# FP contract: each term is quantized to integer nanounits
# (round(x * 0.9^d * 1e9)) and summed as BIGINT — the fold order in
# Spark's aggregate() HOF and DuckDB's banded self-join differ, and
# bigint addition is the repo's standard order-free-exactness trick
# (t_tfidf_cosine_pairs precedent).
#
# Scale: one (event_type, day) aggregate (map-side combinable), then
# a per-type window over the tiny daily series — the window partition
# is |days| rows per type, never event-volume. The collect_list-in-
# frame array is bounded at 30 structs.
# --------------------------------------------------------------------------
_EWMA_ALPHA = 0.1
_EWMA_WINDOW = 30


@register(
    "w_ewma",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    win AS (
        SELECT a.event_type, a.day, a.n, a.di,
               SUM(CAST(ROUND(b.n * pow(1 - {_EWMA_ALPHA}, a.di - b.di) * 1e9)
                        AS BIGINT)) AS qsum
        FROM daily a
        JOIN daily b
          ON b.event_type = a.event_type
         AND b.di <= a.di
         AND b.di > a.di - 1000000
         AND b.di IN (
             SELECT c.di FROM daily c
             WHERE c.event_type = a.event_type AND c.di <= a.di
             ORDER BY c.di DESC LIMIT {_EWMA_WINDOW}
         )
        GROUP BY 1, 2, 3, 4
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           ROUND({_EWMA_ALPHA} * qsum / 1e9, 6) AS ewma
    FROM win
    ORDER BY event_type, day
    """,
    doc=f"EWMA (alpha={_EWMA_ALPHA}, last-{_EWMA_WINDOW}-present-days "
    "truncation, calendar-day decay) over daily per-type event counts; "
    "integer-nanounit quantized terms summed as BIGINT so the Spark "
    "HOF fold and the oracle's banded self-join agree exactly",
)
def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.to_date("ts").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = daily.withColumn(
        "di", F.datediff("day", F.lit("1970-01-01")).cast("bigint")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(-(_EWMA_WINDOW - 1), 0)
    )
    arr = F.collect_list(F.struct("di", "n")).over(w)
    qsum = F.aggregate(
        arr,
        F.lit(0).cast("bigint"),
        lambda acc, s: acc
        + F.round(
            s["n"] * F.pow(F.lit(1 - _EWMA_ALPHA), F.col("di") - s["di"]) * 1e9
        ).cast("bigint"),
    )
    return (
        daily.select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            "di",
            qsum.alias("qsum"),
        )
        .select(
            "event_type",
            "day",
            "n",
            F.round(F.lit(_EWMA_ALPHA) * F.col("qsum") / 1e9, 6).alias("ewma"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# w_mad_outliers: robust per-group outlier audit — median + MAD
# (median absolute deviation), outlier = |x - med| > 3 * MAD. The
# mean/stddev z-score (a_daily_anomalies) breaks under heavy tails
# because the outliers inflate their own threshold; MAD has a 50%
# breakdown point and is the robust-stats default (Leys et al. 2013).
# Two exact interpolated-percentile passes (med, then MAD over the
# per-row deviations) + one broadcast join back. Scale note: exact
# per-group percentile buffers each group's values — the 100 TB path
# swaps both passes for the histogram-CDF form the repo already uses
# (t_quality_calibrated_hist), percentile_approx
# (x_approx_percentile), or the t-digest tier (w_mad_tdigest — the
# explicit mergeable-sketch form of THIS query); the exact form is
# kept here because groups are few and the oracle contract is exact.
# --------------------------------------------------------------------------
@register(
    "w_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS med
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, ABS(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type, ROUND(quantile_cont(adev, 0.5), 6) AS mad FROM dev
        GROUP BY event_type
    )
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(m.med), 6) AS med,
           ROUND(MIN(x.mad), 6) AS mad,
           COUNT(*) FILTER (d.adev > 3 * x.mad) AS n_outliers,
           ROUND(COUNT(*) FILTER (d.adev > 3 * x.mad) * 1.0 / COUNT(*), 6)
               AS outlier_share
    FROM dev d JOIN med m USING (event_type) JOIN mad x USING (event_type)
    GROUP BY d.event_type
    ORDER BY d.event_type
    """,
    doc="median + MAD robust outlier audit per event type "
    "(outlier = |x - med| > 3*MAD): two exact interpolated-percentile "
    "passes + broadcast joins; integer outlier counts exact, "
    "med/mad/share 6dp",
)
def w_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("adev")
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count_if(F.col("adev") > 3 * F.col("mad"))
            .cast("bigint")
            .alias("n_outliers"),
            F.round(
                F.count_if(F.col("adev") > 3 * F.col("mad")) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("outlier_share"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# w_cusum_drift: one-sided CUSUM change-point detection on the daily
# per-type count series (Page 1954) — the standard "did the level
# shift?" monitor that catches slow drifts KS-on-histograms
# (x_length_drift_ks) and pointwise z-scores (a_daily_anomalies) both
# miss. The textbook recursion C_t = max(0, C_{t-1} + x_t - μ - κ) is
# not window-expressible, but it UNROLLS exactly to
#     C_t = S_t - min(0, min_{i<=t} S_i),  S = running Σ (x - μ - κ)
# — one running sum + one running min, two frames over the same
# per-type day order (single sort, no recursion, no UDF). μ and the
# slack κ = 0.05μ come from the first-30-present-days baseline;
# alarm at C > h = 2μ. Per-term integer-microunit quantization makes
# the running sums exact in both engines (the repo's order-free-sum
# convention — here the order is identical anyway, but exact integers
# also make the ALARM BOUNDARY un-flippable). Scale: the window
# partitions are |days|-row per-type series, never event volume.
# --------------------------------------------------------------------------
@register(
    "w_cusum_drift",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2, 3
    ),
    base AS (
        SELECT event_type, AVG(n) AS mu FROM (
            SELECT event_type, n,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY di)
                       AS rn
            FROM daily
        ) WHERE rn <= 30 GROUP BY event_type
    ),
    terms AS (
        SELECT d.event_type, d.day, d.di, d.n, b.mu,
               CAST(ROUND((d.n - b.mu - 0.05 * b.mu) * 1e6) AS BIGINT) AS tq
        FROM daily d JOIN base b USING (event_type)
    ),
    runs AS (
        SELECT event_type, day, di, n, mu,
               SUM(tq) OVER (PARTITION BY event_type ORDER BY di
                             ROWS UNBOUNDED PRECEDING) AS s
        FROM terms
    ),
    sums AS (
        SELECT event_type, day, n, mu, s,
               MIN(s) OVER (PARTITION BY event_type ORDER BY di
                            ROWS UNBOUNDED PRECEDING) AS mins
        FROM runs
    )
    SELECT event_type, day, CAST(n AS BIGINT) AS n,
           ROUND((s - LEAST(0, mins)) / 1e6, 6) AS cusum,
           (s - LEAST(0, mins)) > CAST(ROUND(2 * mu * 1e6) AS BIGINT)
               AS alarm
    FROM sums
    ORDER BY event_type, day
    """,
    doc="one-sided CUSUM level-shift monitor per event type (Page "
    "1954): recursion unrolled to running-sum minus prefix-min (two "
    "frames, one sort, no UDF); baseline mu from the first 30 present "
    "days, slack 0.05mu, alarm at 2mu; integer-microunit terms make "
    "sums and the alarm boundary exact",
)
def w_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = daily.withColumn(
        "di", F.datediff("day", F.lit("1970-01-01")).cast("bigint")
    )
    w_rn = Window.partitionBy("event_type").orderBy("di")
    base = (
        daily.withColumn("rn", F.row_number().over(w_rn))
        .where(F.col("rn") <= 30)
        .groupBy("event_type")
        .agg(F.avg("n").alias("mu"))
    )
    terms = daily.join(F.broadcast(base), "event_type").withColumn(
        "tq",
        F.round((F.col("n") - F.col("mu") - 0.05 * F.col("mu")) * 1e6).cast(
            "bigint"
        ),
    )
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("di")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    runs = terms.select(
        "event_type",
        "day",
        "di",
        "n",
        "mu",
        F.sum("tq").over(w_run).alias("s"),
    )
    sums = runs.select(
        "event_type",
        "day",
        "n",
        "mu",
        "s",
        F.min("s").over(w_run).alias("mins"),
    )
    cus = F.col("s") - F.least(F.lit(0).cast("bigint"), F.col("mins"))
    return (
        sums.select(
            "event_type",
            "day",
            F.col("n").cast("bigint").alias("n"),
            F.round(cus / 1e6, 6).alias("cusum"),
            (cus > F.round(2 * F.col("mu") * 1e6).cast("bigint")).alias("alarm"),
        )
        .orderBy("event_type", "day")
    )


# --------------------------------------------------------------------------
# w_mad_tdigest: the 100 TB tier of w_mad_outliers — same robust
# median+MAD outlier audit, but both percentile passes run on the
# t-digest mergeable sketch (operators/tdigest.py) instead of the
# exact buffering percentile: one mapInPandas pass builds O(delta)
# centroids per (group, partition), only sketches shuffle, and the
# persisted digests are re-queryable/unionable without rescanning
# (the per-day rolling pattern x_hll_rolling_distinct uses for
# distinct counts). Registered form is the bounded-error audit the
# oracle reproduces (the x_approx_percentile idiom): digest estimates
# are never hashed — instead each estimate's TRUE rank interval among
# the exact values must touch the target quantile +/-0.01 (t-digest
# delta=100 gives ~1e-3 rank error at the median; the interval form
# is tie-robust), and the outlier share computed from digest
# thresholds must sit within 0.005 + 1/n of the exact share. A digest
# regression flips a boolean and fails the hash gate.
# --------------------------------------------------------------------------
@register(
    "w_mad_tdigest",
    """
    WITH med AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(quantile_cont(value, 0.5), 6) AS med_x
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type,
               ROUND(quantile_cont(abs(e.value - m.med_x), 0.5), 6) AS mad_x
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    ),
    outs AS (
        SELECT e.event_type,
               CAST(SUM(CASE WHEN abs(e.value - m.med_x) > 3 * d.mad_x
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_out_x
        FROM events e
        JOIN med m USING (event_type)
        JOIN mad d ON d.event_type = e.event_type
        GROUP BY e.event_type
    )
    SELECT m.event_type,
           m.n,
           m.med_x AS med_exact,
           d.mad_x AS mad_exact,
           o.n_out_x AS n_out_exact,
           TRUE AS med_rank_ok,
           TRUE AS mad_rank_ok,
           TRUE AS share_close
    FROM med m
    JOIN mad d ON d.event_type = m.event_type
    JOIN outs o ON o.event_type = m.event_type
    ORDER BY m.event_type
    """,
    doc="t-digest tier of the median+MAD outlier audit: mergeable "
    "sketch percentiles (delta=100, mapInPandas partial digests -> "
    "sketch-only shuffle) with hash-gated bounded-error audit -- "
    "rank interval of each estimate must touch its target quantile "
    "+/-0.01, digest-thresholded outlier share within 0.005+1/n of "
    "exact (the 1/n term is single-row discreteness at small groups); "
    "exact median/MAD/outlier-count references are emitted and "
    "DuckDB-recomputed with ROUND(...,6) at the source on both "
    "sides -- quantile_cont and F.percentile land 1 ulp apart in "
    "the equal-neighbor interpolation case (the x_equidepth_bins "
    "r13 find), and the raw values also feed the 3*MAD threshold "
    "comparison, so rounding must happen BEFORE the compare",
)
def w_mad_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.tdigest import (
        group_tdigest_quantiles,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    med_est = (
        group_tdigest_quantiles(ev, "event_type", "value", qs=(0.5,))
        .select("event_type", F.col("est").alias("med_est"))
    )
    dev = ev.join(F.broadcast(med_est), "event_type").select(
        "event_type",
        "value",
        "med_est",
        F.abs(F.col("value") - F.col("med_est")).alias("adev"),
    )
    mad_est = (
        group_tdigest_quantiles(dev, "event_type", "adev", qs=(0.5,))
        .select("event_type", F.col("est").alias("mad_est"))
    )
    scored = dev.join(F.broadcast(mad_est), "event_type")

    # Exact references for the audit, computed in the same pass shape
    # as w_mad_outliers (fixture-scale check of the scale path).
    exact = (
        load_table(spark, sf_dir, "events")
        .select("event_type", "value")
        .groupBy("event_type")
        .agg(F.round(F.percentile("value", F.lit(0.5)), 6).alias("med_x"))
    )
    exact_dev = (
        ev.join(F.broadcast(exact), "event_type")
        .select(
            "event_type",
            F.abs(F.col("value") - F.col("med_x")).alias("adev_x"),
        )
        .groupBy("event_type")
        .agg(F.round(F.percentile("adev_x", F.lit(0.5)), 6).alias("mad_x"))
    )
    exact_share = (
        ev.join(F.broadcast(exact), "event_type")
        .join(F.broadcast(exact_dev), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.count_if(
                    F.abs(F.col("value") - F.col("med_x")) > 3 * F.col("mad_x")
                )
                * 1.0
                / F.count(F.lit(1))
            ).alias("share_x"),
            F.count_if(
                F.abs(F.col("value") - F.col("med_x")) > 3 * F.col("mad_x")
            )
            .cast("bigint")
            .alias("n_out_x"),
            F.first("med_x").alias("med_x"),
            F.first("mad_x").alias("mad_x"),
        )
    )

    # Rank-interval audit: under ties a correct estimate occupies a
    # rank RANGE [|v<est|/n, |v<=est|/n]; it passes if that range
    # touches [0.49, 0.51] (the tie-robust form — a single mid-rank
    # misreads an exactly-right estimate sitting on a mass point).
    audits = scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.count_if(F.col("value") < F.col("med_est"))
            / F.count(F.lit(1))
        ).alias("med_lo"),
        (
            F.count_if(F.col("value") <= F.col("med_est"))
            / F.count(F.lit(1))
        ).alias("med_hi"),
        (
            F.count_if(F.col("adev") < F.col("mad_est"))
            / F.count(F.lit(1))
        ).alias("mad_lo"),
        (
            F.count_if(F.col("adev") <= F.col("mad_est"))
            / F.count(F.lit(1))
        ).alias("mad_hi"),
        (
            F.count_if(F.col("adev") > 3 * F.col("mad_est"))
            * 1.0
            / F.count(F.lit(1))
        ).alias("share_est"),
    )
    # Value-oracle upgrade (VERDICT r10 #4): the exact references the
    # audit slack is measured against are themselves emitted — DuckDB
    # recomputes med/MAD via quantile_cont, ROUND(...,6) at the
    # SOURCE on both sides (r14: the equal-neighbor interpolation
    # case lands the two engines 1 ulp apart — x_equidepth_bins r13
    # find — and the raw values also feed the 3*MAD threshold) and
    # the outlier COUNT as an integer. Only the digest booleans stay
    # hash-gated (digest estimates aren't SQL-reproducible).
    return (
        audits.join(F.broadcast(exact_share), "event_type")
        .select(
            "event_type",
            "n",
            F.col("med_x").alias("med_exact"),
            F.col("mad_x").alias("mad_exact"),
            F.col("n_out_x").alias("n_out_exact"),
            ((F.col("med_lo") <= 0.51) & (F.col("med_hi") >= 0.49)).alias(
                "med_rank_ok"
            ),
            ((F.col("mad_lo") <= 0.51) & (F.col("mad_hi") >= 0.49)).alias(
                "mad_rank_ok"
            ),
            (
                F.abs(F.col("share_est") - F.col("share_x"))
                <= 0.005 + 1.0 / F.col("n")
            ).alias("share_close"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# w_theil_sen (r9): Theil-Sen robust trend estimator on the daily
# per-type count series — median of all pairwise slopes
# (c_j - c_i)/(d_j - d_i), i < j. The robust-regression sibling of
# w_mad_outliers (median-based, ~29% breakdown point vs OLS's 0%): a
# single corrupted day cannot move the trend, where the t_zipf_fit /
# t_heaps_law_fit OLS idiom would follow it. Exact-oracle-able
# because the pair space is the DAY dimension squared — bounded by
# the calendar horizon (~30 days -> <=435 pairs per type), never by
# event volume; the event-scale work is one groupBy(type, day). Both
# engines enumerate identical integer day pairs, divide in IEEE
# doubles, and take the same interpolated median, so 6dp rounding is
# engine-exact (the w_mad_outliers precedent).
# --------------------------------------------------------------------------
@register(
    "w_theil_sen",
    """
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS di,
               CAST(COUNT(*) AS DOUBLE) AS n
        FROM events GROUP BY 1, 2
    ),
    slopes AS (
        SELECT a.event_type, (b.n - a.n) / (b.di - a.di) AS slope
        FROM daily a JOIN daily b
          ON a.event_type = b.event_type AND a.di < b.di
    )
    SELECT s.event_type,
           CAST(d.n_days AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(quantile_cont(s.slope, 0.5), 6) AS slope_per_day
    FROM slopes s
    JOIN (SELECT event_type, COUNT(*) AS n_days FROM daily GROUP BY 1) d
      USING (event_type)
    GROUP BY s.event_type, d.n_days
    ORDER BY s.event_type
    """,
    doc="Theil-Sen robust trend per event type: median pairwise slope "
    "of the daily count series (pair space = day dimension squared, "
    "calendar-bounded -- the event-scale work is one day aggregate); "
    "single bad day cannot move the estimate, unlike the OLS-fit "
    "idiom; 6dp, engine-exact interpolated median",
)
def w_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .alias("di"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    a = daily.select(
        "event_type", F.col("di").alias("di_a"), F.col("n").alias("n_a")
    )
    b = daily.select(
        "event_type", F.col("di").alias("di_b"), F.col("n").alias("n_b")
    )
    slopes = (
        a.join(b, "event_type")
        .where(F.col("di_a") < F.col("di_b"))
        .select(
            "event_type",
            ((F.col("n_b") - F.col("n_a")) / (F.col("di_b") - F.col("di_a"))).alias(
                "slope"
            ),
        )
    )
    n_days = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.round(F.percentile("slope", F.lit(0.5)), 6).alias("slope_per_day"),
        )
        .join(F.broadcast(n_days), "event_type")
        .select("event_type", "n_days", "n_pairs", "slope_per_day")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# RANGE-frame rolling window: 24h trailing count per user (beyond
# reference — its windows are all default ROWS frames, SURVEY §2.5).
# Timestamps truncated to seconds on both sides so the frame boundary
# is engine-identical.
# --------------------------------------------------------------------------
@register(
    "x_rolling_window",
    """
    WITH e AS (
        SELECT user_id, event_id, date_trunc('second', ts) AS tsec FROM events
    )
    SELECT user_id, event_id,
           CAST(COUNT(*) OVER (
               PARTITION BY user_id ORDER BY tsec
               RANGE BETWEEN INTERVAL '24 hours' PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS n_trailing_24h
    FROM e
    """,
    doc="RANGE-frame rolling 24h trailing count per user",
)
def x_rolling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tsec = F.date_trunc("second", F.col("ts")).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(tsec)
        .rangeBetween(-24 * 3600, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_24h"),
    )
