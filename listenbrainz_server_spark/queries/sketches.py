"""Sketches, approximate aggregates with their exact twins, and
skew-salted aggregation.

- salted two-phase aggregation: `x_salted_agg`,
  `x_salted_count_distinct`;
- distinct counts: `x_approx_distinct` (HLL), `x_hll_rolling_distinct`;
- quantiles: `x_percentile`, `x_approx_percentile`,
  `x_tdigest_rolling`, `x_equidepth_bins` (t-digest cut points);
- frequency and membership: `x_heavy_hitters` (count-min sketch),
  `x_bloom_prune` (Bloom filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# Skew: salted two-phase aggregation ≡ direct aggregation (the
# aggregation-skew mitigation AQE doesn't provide; operators/skew.py).
# --------------------------------------------------------------------------
@register(
    "x_salted_agg",
    """
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS total_value,
           MAX(user_id) AS max_user
    FROM events
    GROUP BY event_type
    """,
    doc="salted two-phase aggregation equals direct aggregation (skew path)",
)
def x_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        ["event_type"],
        {"n": ("*", "count"), "total_value": ("value", "sum"), "max_user": ("user_id", "max")},
        salt_buckets=16,
    )
    return out.select(
        "event_type", "n", F.round("total_value", 2).alias("total_value"), "max_user"
    )


@register(
    "x_salted_count_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS listener_count
    FROM events
    GROUP BY event_type
    """,
    doc="hot-key-free exact count distinct (dedup-first two-phase)",
)
def x_salted_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.skew import distinct_count_salted

    ev = load_table(spark, sf_dir, "events")
    return distinct_count_salted(ev, ["event_type"], "user_id", "listener_count")


# --------------------------------------------------------------------------
# Approximate count-distinct (HLL): the 100TB upgrade path for A4 —
# SURVEY §2.4 notes the reference's popularity combine already accepts
# approximation (it sums exact partial distincts across batches);
# approx_count_distinct makes the trade explicit and mergeable. HLL
# estimates differ per engine, so the raw estimate can't be hashed
# cross-engine; the registered form is the SELF-AUDITING variant
#: it emits the exact distinct computed in the same
# scan plus the bounded-error boolean |est-exact|/exact <= 0.05 —
# the CHECK itself is hash-stable, so an estimator drifting out of
# tolerance flips the boolean and fails the driver hash gate. The
# production form (estimate only, no exact twin) is the same agg
# minus the count_distinct column.
# --------------------------------------------------------------------------
@register(
    "x_approx_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_listeners,
           CAST(COUNT(*) AS BIGINT) AS n,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HLL) listener counts, self-auditing "
    "form: exact twin + |est-exact|/exact <= 0.05 boolean inside the "
    "driver hash gate (mergeable scale path for A4)",
)
def x_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    exact = F.count_distinct("user_id").cast("bigint")
    est = F.approx_count_distinct("user_id", rsd=0.02)
    return ev.groupBy("event_type").agg(
        exact.alias("exact_listeners"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.abs(est.cast("double") - exact.cast("double")) / exact
            <= F.lit(0.05)
        ).alias("est_within_5pct"),
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct users via HLL sketch algebra — the ONLY
# shape that survives 100 TB: exact rolling distinct needs every
# (day, user) pair re-deduplicated per window (state ∝ users ×
# window), while a mergeable sketch needs one fixed-size sketch per
# day and a union across each 7-day window. One day-keyed sketch
# aggregate over the fact table; the window merge runs on the
# |days|-sized dim (broadcast self-join), touching the fact table
# once. HLL estimates are not SQL-reproducible in DuckDB, so the
# registered form is the SELF-AUDITING variant: the
# same query also computes the exact rolling distinct (from the
# distinct (day,user) projection — fixture-affordable; at 100 TB the
# production form drops the exact twin and this audit runs on a
# sample) and emits |est-exact|/exact <= 0.05 as a hash-stable
# boolean next to the exact value the oracle reproduces.
# --------------------------------------------------------------------------
@register(
    "x_hll_rolling_distinct",
    """
    WITH du AS (
        SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT d.day,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_rolling,
           TRUE AS est_within_5pct
    FROM days d JOIN du e
      ON e.day <= d.day AND e.day >= d.day - INTERVAL 6 DAY
    GROUP BY d.day
    """,
    doc="rolling 7-day distinct users from mergeable per-day HLL "
    "sketches (sketch-union window merge), self-auditing form: exact "
    "rolling twin + <=5% error boolean inside the driver hash gate",
)
def x_hll_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    du = (
        ev.select(F.date_trunc("day", F.col("ts")).alias("day"), "user_id")
        .distinct()
        .localCheckpoint(eager=True)  # feeds both the sketch and exact tiers
    )
    daily = du.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    d = daily.select("day").alias("d")
    e = daily.alias("e")
    win_cond = lambda: (F.col("e.day") <= F.col("d.day")) & (
        F.col("e.day") >= F.col("d.day") - F.expr("INTERVAL 6 DAYS")
    )
    est = (
        F.broadcast(d)
        .join(e, win_cond())
        .groupBy(F.col("d.day").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("e.sk")))
            .cast("double")
            .alias("est")
        )
    )
    exact = (
        F.broadcast(daily.select("day").alias("d"))
        .join(du.alias("e"), win_cond())
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct(F.col("e.user_id")).cast("bigint").alias("exact_rolling"))
    )
    return exact.join(est, "day").select(
        F.col("day").cast("date").alias("day"),
        "exact_rolling",
        (
            F.abs(F.col("est") - F.col("exact_rolling"))
            / F.col("exact_rolling")
            <= F.lit(0.05)
        ).alias("est_within_5pct"),
    )


# --------------------------------------------------------------------------
# Exact interpolated percentiles (beyond reference — no percentile
# aggregates there; Spark `percentile` ≡ DuckDB `quantile_cont`).
# --------------------------------------------------------------------------
@register(
    "x_percentile",
    """
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="exact interpolated percentiles per group (p50/p90)",
)
def x_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
    )


# --------------------------------------------------------------------------
# Approximate percentile sketch. Spark's implementation is a KLL-class
# mergeable quantile sketch, DuckDB's approx_quantile a different
# sketch — raw estimates legitimately differ per engine, so the
# registered form is the SELF-AUDITING variant: for
# each estimated quantile q it re-joins the estimate against the
# group's rows and asserts the estimate's TRUE rank is within the
# sketch's rank-error contract (accuracy=1000 → relative rank error
# 1e-3; audited at eps=0.01 + 1 row of discreteness slack). The rank
# booleans + exact group counts are hash-stable; an estimator whose
# rank error exceeds the bound flips a boolean and fails the gate.
# --------------------------------------------------------------------------
@register(
    "x_approx_percentile",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50_exact,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90_exact,
           ROUND(quantile_cont(o_totalprice, 0.99), 6) AS p99_exact,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok, TRUE AS p99_rank_ok
    FROM orders GROUP BY o_orderpriority
    """,
    doc="approx_percentile quantile sketch per order priority, "
    "self-auditing form: true-rank-of-estimate within 1% of target "
    "rank, inside the driver hash gate (mergeable sketch); exact "
    "p50/p90/p99 references emitted ROUND(...,6) on both sides — "
    "quantile_cont and F.percentile use algebraically-equal but "
    "floating-point-different interpolation forms that land 1 ulp "
    "apart when the bracketing neighbors are EQUAL (the "
    "x_equidepth_bins r13 find; advisor r13 #1 flagged this query "
    "as the same latent data-dependent flake)",
)
def x_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    est = orders.groupBy("o_orderpriority").agg(
        F.percentile_approx("o_totalprice", [0.5, 0.9, 0.99], 1000).alias("pct"),
    ).select(
        "o_orderpriority",
        F.col("pct").getItem(0).alias("p50"),
        F.col("pct").getItem(1).alias("p90"),
        F.col("pct").getItem(2).alias("p99"),
    )
    # One more group pass computes each estimate's true rank: the
    # estimates frame is |groups|-sized → broadcast; the fact table is
    # scanned once.
    joined = orders.join(F.broadcast(est), "o_orderpriority")
    eps = 0.01

    def rank_ok(est_col: str, q: float):
        n = F.count(F.lit(1)).cast("double")
        cnt_le = F.count_if(F.col("o_totalprice") <= F.col(est_col)).cast("double")
        return F.abs(cnt_le - F.lit(q) * n) <= F.lit(eps) * n + F.lit(1.0)

    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        # Exact references for the oracle,
        # ROUND(...,6) symmetrically: in the equal-neighbor case
        # Spark's lo + frac*(hi-lo) returns lo exactly while DuckDB's
        # convex form can land one ulp low (the x_equidepth_bins fix).
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 6).alias("p50_exact"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 6).alias("p90_exact"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 6).alias("p99_exact"),
        rank_ok("p50", 0.5).alias("p50_rank_ok"),
        rank_ok("p90", 0.9).alias("p90_rank_ok"),
        rank_ok("p99", 0.99).alias("p99_rank_ok"),
    )


# --------------------------------------------------------------------------
# x_tdigest_rolling: rolling 7-day value quantiles (p50/p95)
# from mergeable per-day t-digests — the quantile sibling of
# x_hll_rolling_distinct's sketch algebra, and the third consumer of
# operators/tdigest.py. Exact rolling percentiles need every (day,
# value) re-buffered per window; the sketch form builds ONE fixed-size
# digest per day (fact table touched once) and unions 7 digests per
# window on the |days|-sized dim — the only shape that survives
# 100 TB of history. Digest estimates aren't SQL-reproducible, so the
# registered form is the self-auditing variant: the exact window
# count (oracle-reproduced) plus rank-interval booleans — each
# estimate's true rank interval among the window's exact values must
# touch its target quantile +/-(0.01 + 1/n) (the w_mad_tdigest audit
# with its small-window discreteness term; at
# 100 TB the exact twin drops and the audit runs on a sample).
# --------------------------------------------------------------------------
@register(
    "x_tdigest_rolling",
    """
    WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, value FROM events
    ),
    days AS (SELECT DISTINCT day FROM ev)
    SELECT d.day,
           CAST(COUNT(*) AS BIGINT) AS n_7d,
           quantile_cont(e.value, 0.5) AS p50_exact,
           quantile_cont(e.value, 0.95) AS p95_exact,
           TRUE AS p50_rank_ok,
           TRUE AS p95_rank_ok
    FROM days d JOIN ev e
      ON e.day <= d.day AND e.day >= d.day - INTERVAL 6 DAY
    GROUP BY d.day
    ORDER BY d.day
    """,
    doc="rolling 7-day p50/p95 of event value from mergeable per-day "
    "t-digests (one digest per day, 7-way sketch union per window on "
    "the days dim; fact table scanned once) -- self-auditing form: "
    "exact window count + EXACT window p50/p95 references (DuckDB-"
    "recomputed via quantile_cont, bit-exact with F.percentile) + "
    "rank-interval booleans (+/-0.01+1/n) in the hash gate",
)
def x_tdigest_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from listenbrainz_server_spark.operators.tdigest import (
        merge_centroid_sets,
        merge_digests,
        partition_digests,
        quantile_of,
    )

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "value"
    )
    keyed = ev.select(
        F.date_format("day", "yyyy-MM-dd").alias("dstr"), "value"
    )
    # Pin the per-day digest table ONCE (guide §2.1): it feeds
    # THREE plan branches (the window join's day side, its digest
    # side, and the exact twin's day side) — without a cut the whole
    # events-scan → per-partition digest build → keyed sketch merge
    # re-executed per branch (~0.2 s a pass, 3 of the query's ~3 s).
    # |days| rows of O(delta) centroids — trivially executor-bounded.
    daily = (
        merge_digests(partition_digests(keyed, "dstr", "value"), "dstr")
        .withColumn("day", F.col("dstr").cast("date"))
        .localCheckpoint(eager=True)
    )

    win_cond = (F.col("e.day") <= F.col("d.day")) & (
        F.col("e.day") >= F.date_sub(F.col("d.day"), 6)
    )
    windows = (
        F.broadcast(daily.select("day").alias("d"))
        .join(daily.alias("e"), win_cond)
        .select(
            F.col("d.day").alias("day"),
            F.col("e.means").alias("means"),
            F.col("e.weights").alias("weights"),
        )
    )

    def est_quantiles(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = merge_centroid_sets(list(pdf["means"]), list(pdf["weights"]))
        return pd.DataFrame(
            {
                "day": [pdf["day"].iloc[0]],
                "est50": [quantile_of(m, w, 0.5)],
                "est95": [quantile_of(m, w, 0.95)],
            }
        )

    est = windows.groupBy("day").applyInPandas(
        est_quantiles, "day date, est50 double, est95 double"
    )

    # Exact twin (fixture-affordable): window-joined raw values give
    # the oracle-reproduced count and the rank intervals of the
    # estimates.
    wf = (
        F.broadcast(daily.select("day").alias("d"))
        .join(ev.alias("e"), win_cond)
        .select(F.col("d.day").alias("day"), F.col("e.value").alias("value"))
        .join(F.broadcast(est), "day")
    )
    n = F.count(F.lit(1))
    return (
        wf.groupBy("day")
        .agg(
            n.cast("bigint").alias("n_7d"),
            # Value oracle: the exact
            # window percentiles the digest is audited against are
            # emitted and DuckDB-recomputed (quantile_cont ==
            # F.percentile bit-exact over the identical window join).
            F.percentile("value", F.lit(0.5)).alias("p50_exact"),
            F.percentile("value", F.lit(0.95)).alias("p95_exact"),
            (F.count_if(F.col("value") < F.col("est50")) / n).alias("lo50"),
            (F.count_if(F.col("value") <= F.col("est50")) / n).alias("hi50"),
            (F.count_if(F.col("value") < F.col("est95")) / n).alias("lo95"),
            (F.count_if(F.col("value") <= F.col("est95")) / n).alias("hi95"),
        )
        .select(
            "day",
            "n_7d",
            "p50_exact",
            "p95_exact",
            # tolerance 0.01 + 1/n: early windows hold few values, so
            # a single rank step can exceed a fixed 1% (the
            # w_mad_tdigest discreteness term)
            (
                (F.col("lo50") <= 0.51 + 1.0 / F.col("n_7d"))
                & (F.col("hi50") >= 0.49 - 1.0 / F.col("n_7d"))
            ).alias("p50_rank_ok"),
            (
                (F.col("lo95") <= 0.96 + 1.0 / F.col("n_7d"))
                & (F.col("hi95") >= 0.94 - 1.0 / F.col("n_7d"))
            ).alias("p95_rank_ok"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x_equidepth_bins: equi-depth (equal-population) binning per
# event type, cut points from the t-digest sketch — the feature-
# engineering / zone-layout form of quantile bucketing (equi-WIDTH
# histograms starve under skew; equi-depth keeps every bucket
# informative). Cuts = digest deciles (operators/tdigest.py: one
# mapInPandas sketch pass, sketch-only shuffle), assignment = a
# broadcast of 9 cuts per type + one column-expression count — no
# second percentile scan of the data. Registered form is the
# bounded-error audit (the w_mad_tdigest idiom): every decile bin's
# population share must sit within 0.02 + 10/n of the ideal 0.10
# (digest rank error is ~1e-3; the slack absorbs ties at cut values
# and small-group discreteness). The oracle reproduces counts and
# the invariant booleans.
# --------------------------------------------------------------------------
@register(
    "x_equidepth_bins",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(10 AS BIGINT) AS n_bins,
           ROUND(quantile_cont(value, 0.1), 6) AS dec_1,
           ROUND(quantile_cont(value, 0.2), 6) AS dec_2,
           ROUND(quantile_cont(value, 0.3), 6) AS dec_3,
           ROUND(quantile_cont(value, 0.4), 6) AS dec_4,
           ROUND(quantile_cont(value, 0.5), 6) AS dec_5,
           ROUND(quantile_cont(value, 0.6), 6) AS dec_6,
           ROUND(quantile_cont(value, 0.7), 6) AS dec_7,
           ROUND(quantile_cont(value, 0.8), 6) AS dec_8,
           ROUND(quantile_cont(value, 0.9), 6) AS dec_9,
           TRUE AS all_bins_present,
           TRUE AS equi_depth_ok
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="equi-depth decile binning per event type with t-digest cut "
    "points (sketch pass + broadcast cuts, no second percentile "
    "scan in the serving shape); hash-gated audit: all 10 bins "
    "populated and every bin share within 0.02 + 10/n of 0.10; "
    "exact decile references dec_1..dec_9 are emitted ROUND(…,6) "
    "and DuckDB-recomputed (quantile_cont == F.percentile except a "
    "1-ulp equal-neighbor interpolation case found at sf0.1 — hence "
    "the symmetric rounding; the yardstick the digest cuts are "
    "audited against)",
)
def x_equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.tdigest import (
        group_tdigest_quantiles,
    )

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    cuts = (
        group_tdigest_quantiles(
            ev, "event_type", "value",
            qs=tuple(i / 10 for i in range(1, 10)),
        )
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("est")).alias("cuts"))
    )
    binned = ev.join(F.broadcast(cuts), "event_type").select(
        "event_type",
        F.size(F.filter("cuts", lambda c: c <= F.col("value"))).alias("bin"),
    )
    per_bin = binned.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("nb")
    )
    tol = lambda n: 0.02 + 10.0 / n  # noqa: E731 - digest error + ties
    # Value oracle: exact decile references,
    # DuckDB-recomputed, ROUND(...,6) on BOTH sides — F.percentile and
    # quantile_cont interpolate with algebraically-equal forms that
    # diverge by 1 ulp when the bracketing neighbors are equal (found
    # at sf0.1). Fixture-scale audit columns only — the serving
    # shape is digest cuts + broadcast, no exact percentile scan.
    exact_decs = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile(
                "value", F.array(*[F.lit(i / 10) for i in range(1, 10)])
            ).alias("dx")
        )
        .select(
            "event_type",
            # ROUND(…, 6) on BOTH sides: the unrounded refs were
            # pinned on "F.percentile == quantile_cont bit-exact", but
            # the CHECK_sf01_r13 sweep found the exception — when the
            # interpolation NEIGHBORS ARE EQUAL, Spark's
            # lo + frac*(hi-lo) returns lo exactly while DuckDB's
            # convex form can land one ulp low (measured 59.24 vs
            # 59.239999999999995 at sf0.1). 6 dp is far above ulp
            # noise and far below the digest-audit tolerances.
            *[
                F.round(F.element_at("dx", i), 6).alias(f"dec_{i}")
                for i in range(1, 10)
            ],
        )
    )
    return (
        per_bin.groupBy("event_type")
        .agg(
            F.sum("nb").cast("bigint").alias("n"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            (F.max("nb") * 1.0 / F.sum("nb")).alias("max_share"),
            (F.min("nb") * 1.0 / F.sum("nb")).alias("min_share"),
        )
        .join(F.broadcast(exact_decs), "event_type")
        .select(
            "event_type",
            "n",
            "n_bins",
            *[f"dec_{i}" for i in range(1, 10)],
            (F.col("n_bins") == 10).alias("all_bins_present"),
            (
                (F.col("max_share") <= 0.1 + tol(F.col("n")))
                & (F.col("min_share") >= 0.1 - tol(F.col("n")))
            ).alias("equi_depth_ok"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Count-Min-Sketch heavy-hitter audit: the mergeable
# bounded-memory frequency sketch every 100 TB pipeline reaches for
# when exact per-key counts stop fitting (Cormode & Muthukrishnan,
# J.Alg'05). The sketch is D×W integer cells — CONSTANT size no matter
# the input: each event increments one cell per hash row, so building
# it is an explode(D) + groupBy(row, cell) whose partial aggregation
# collapses every task's contribution to ≤ D·W cells before the (tiny)
# shuffle, and two sketches merge by cell-wise addition (the same
# combine). est(k) = min_j cells[j][h_j(k)] ≥ exact(k), always.
#
# Hashing is the repo's deterministic md5 convention (first 8 hex →
# bigint, mod W), byte-identical in DuckDB, and all arithmetic is
# integer — the oracle parity is exact. The report joins the estimate
# against the EXACT top-20 so the CMS overcount is auditable: on this
# near-uniform fixture the ε·N collision floor (ε ≈ e/W) is the same
# order as the true counts, which is precisely the regime where a
# sketch must NOT be trusted blindly — the overcount column is the
# deliverable. Scale: sketch build is one bounded-size aggregate over
# one scan; probes broadcast-join the ≤ D·W-row sketch.
# --------------------------------------------------------------------------
_CMS_D = 4
_CMS_W = 2048


def _cms_cell_sql(j: str, key: str) -> str:
    return (
        f"('0x' || substr(md5(CAST({j} AS VARCHAR) || ':' || "
        f"CAST({key} AS VARCHAR)), 1, 8))::BIGINT % {_CMS_W}"
    )


def _cms_cell_spark(j, key):  # j: Column or int, key: Column
    jc = F.lit(j) if isinstance(j, int) else j
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(jc.cast("string"), F.lit(":"), key.cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % _CMS_W
    )


@register(
    "x_heavy_hitters",
    f"""
    WITH rows_j AS (SELECT UNNEST(range({_CMS_D})) AS j),
    cms AS (
        SELECT j, {_cms_cell_sql("j", "user_id")} AS cell,
               COUNT(*) AS c
        FROM events CROSS JOIN rows_j
        GROUP BY 1, 2
    ),
    top AS (
        SELECT user_id, COUNT(*) AS exact_n
        FROM events GROUP BY 1
        ORDER BY exact_n DESC, user_id LIMIT 20
    )
    SELECT t.user_id, t.exact_n,
           MIN(c.c) AS cms_est,
           MIN(c.c) - t.exact_n AS overcount
    FROM top t
    CROSS JOIN rows_j j
    JOIN cms c
      ON c.j = j.j
     AND c.cell = {_cms_cell_sql("j.j", "t.user_id")}
    GROUP BY t.user_id, t.exact_n
    ORDER BY exact_n DESC, user_id
    """,
    doc=f"Count-Min-Sketch ({_CMS_D}x{_CMS_W}, deterministic md5 rows) "
    "heavy-hitter audit: constant-size mergeable sketch built in one "
    "bounded aggregate; exact top-20 users joined against their CMS "
    "estimate with the (always >= 0) overcount exposed — integer-only, "
    "oracle parity exact",
)
def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id")
    # Build: one scan, explode to D (j, cell) pairs per event, count.
    # Partial agg bounds every task's output at D·W cells.
    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_cell_spark(j, F.col("user_id")).alias("cell"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("e")
    ).select("e.j", "e.cell")
    cms = cells.groupBy("j", "cell").agg(F.count(F.lit(1)).alias("c"))

    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "user_id")
        .limit(20)
    )
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cms_cell_spark(j, F.col("user_id")).alias("cell"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("p"),
    ).select("user_id", "exact_n", "p.j", "p.cell")
    return (
        probes.join(F.broadcast(cms), ["j", "cell"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_est"))
        .select(
            "user_id",
            "exact_n",
            "cms_est",
            (F.col("cms_est") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.col("exact_n").desc(), "user_id")
    )


# --------------------------------------------------------------------------
# Bloom-filter scan pruning: the runtime-filter pattern every
# 100 TB engine injects under a selective dim⋈fact join (Spark itself:
# spark.sql.optimizer.runtime.bloomFilter.enabled; Bloom CACM'70).
# Instead of shuffling the fact table to semi-join a filtered dim, a
# constant-size bit set built from the dim keys is broadcast and the
# fact scan is pruned in-pipeline; the exact join then runs only on
# survivors. This query builds the Bloom EXPLICITLY (deterministic md5
# bit positions, byte-identical in DuckDB) and audits it: per ship
# year, rows scanned, rows the Bloom passes, true matches, false
# positives. All counts are integers — oracle parity is exact.
#
# Shape notes (the scale story IS the point here):
#  * the bit set is a ≤ k·|keys|-row DISTINCT positions frame,
#    broadcast; membership = k chained BROADCAST left joins (no
#    explode — a positions explode + groupBy(row) would shuffle the
#    fact table, exactly what the Bloom exists to avoid);
#  * the probe side stays one scan → k broadcast joins → one
#    aggregate: zero fact-table shuffles;
#  * production form: compile the positions to a long[] broadcast
#    variable or let Spark inject it (conf above); the positions-join
#    form is the declarative equivalent the optimizer can see through.
# m=512 bits / k=3 keeps the fixture's false-positive band visible
# (sf0.1: ~90 keys -> fill 0.44 -> fp ~ 0.09) — an always-empty
# false_pos column would audit nothing.
# --------------------------------------------------------------------------
_BLOOM_M = 512
_BLOOM_K = 3
_BLOOM_BAL = 9000.0


def _bloom_pos_sql(j: int, key: str) -> str:
    return (
        f"('0x' || substr(md5('{j}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {_BLOOM_M}"
    )


def _bloom_pos_spark(j: int, key) -> "F.Column":
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{j}:"), key.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_M
    )


@register(
    "x_bloom_prune",
    f"""
    WITH keys AS (
        SELECT s_suppkey FROM supplier WHERE s_acctbal > {_BLOOM_BAL}
    ),
    bits AS (
        SELECT DISTINCT p FROM keys, UNNEST([
            {", ".join(_bloom_pos_sql(j, "s_suppkey") for j in range(_BLOOM_K))}
        ]) AS t(p)
    ),
    probe AS (
        SELECT year(l_shipdate) AS ship_year,
               ({" AND ".join(f"{_bloom_pos_sql(j, 'l_suppkey')} IN (SELECT p FROM bits)" for j in range(_BLOOM_K))})
                   AS bloom_pass,
               l_suppkey IN (SELECT s_suppkey FROM keys) AS is_true
        FROM lineitem
    )
    SELECT ship_year,
           COUNT(*) AS n_rows,
           COUNT(*) FILTER (bloom_pass) AS n_bloom_pass,
           COUNT(*) FILTER (is_true) AS n_true,
           COUNT(*) FILTER (bloom_pass AND NOT is_true) AS n_false_pos,
           ROUND(COUNT(*) FILTER (bloom_pass AND NOT is_true) * 1.0
                 / COUNT(*) FILTER (NOT is_true), 6) AS fp_rate
    FROM probe
    GROUP BY ship_year
    ORDER BY ship_year
    """,
    doc=f"Bloom-filter scan-pruning audit (m={_BLOOM_M} bits, "
    f"k={_BLOOM_K} deterministic md5 hashes) — bit set built from "
    f"high-balance suppliers (s_acctbal > {_BLOOM_BAL:g}), fact scan "
    "pruned via k chained broadcast joins (zero fact shuffles); per "
    "ship year: rows, bloom passes, true matches, false positives — "
    "integer-exact, fp_rate 6dp",
)
def x_bloom_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    supp = load_table(spark, sf_dir, "supplier")
    keys = supp.where(F.col("s_acctbal") > _BLOOM_BAL).select(
        F.col("s_suppkey").cast("bigint").alias("k")
    )
    bits = (
        keys.select(
            F.explode(
                F.array(
                    *[_bloom_pos_spark(j, F.col("k")) for j in range(_BLOOM_K)]
                )
            ).alias("p")
        )
        .distinct()
        # NOT pinned: bits is re-derived per probe join, but the
        # supplier scan is tiny and an eager checkpoint costs a whole
        # extra job (A/B measured 2.2 s pinned vs 1.4 s not, sf0.1).
    )
    # repartition = single-file-fixture parallelism fix ONLY (the md5
    # probe math otherwise runs on a 3-task scan; measured 2.1 -> ~1 s
    # warm). At real scale the scan arrives in thousands of splits and
    # this shuffle should be dropped — the design point is that the
    # Bloom probe adds ZERO fact-table shuffles.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            F.col("l_suppkey").cast("bigint").alias("sk"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # k chained broadcast left joins: `bits` is distinct, so no row
    # duplication; found_j IS NOT NULL == bit j set. The fact table is
    # never shuffled until the final (tiny) per-year aggregate.
    probe = li
    for j in range(_BLOOM_K):
        probe = probe.join(
            F.broadcast(
                bits.select(
                    F.col("p").alias(f"p{j}"), F.lit(1).alias(f"found{j}")
                )
            ),
            _bloom_pos_spark(j, F.col("sk")) == F.col(f"p{j}"),
            "left",
        )
    bloom_pass = None
    for j in range(_BLOOM_K):
        bloom_pass = (
            F.col(f"found{j}").isNotNull() if j == 0
            else bloom_pass & F.col(f"found{j}").isNotNull()
        )
    probe = probe.join(
        F.broadcast(keys.select(F.col("k").alias("tk"), F.lit(1).alias("tfound"))),
        F.col("sk") == F.col("tk"),
        "left",
    ).select(
        "ship_year",
        bloom_pass.alias("bloom_pass"),
        F.col("tfound").isNotNull().alias("is_true"),
    )
    return (
        probe.groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.count_if(F.col("bloom_pass")).cast("bigint").alias("n_bloom_pass"),
            F.count_if(F.col("is_true")).cast("bigint").alias("n_true"),
            F.count_if(F.col("bloom_pass") & ~F.col("is_true"))
            .cast("bigint")
            .alias("n_false_pos"),
        )
        .select(
            "ship_year",
            "n_rows",
            "n_bloom_pass",
            "n_true",
            "n_false_pos",
            F.round(
                F.col("n_false_pos") * 1.0 / (F.col("n_rows") - F.col("n_true")), 6
            ).alias("fp_rate"),
        )
        .orderBy("ship_year")
    )
