"""Relational operator inventory queries (SURVEY.md §2.1-2.4, 2.7, 2.8).

Each query exercises one reference operator shape on the synthetic
TPC-H-ish tables, with a DuckDB oracle. Reference citations are in the
operator-library modules these compose.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.aggregates import capped_count, combine_aggregates
from listenbrainz_server_spark.operators.joins import anti_join, densify, dim_join, semi_join
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# Flagship: pricing summary (A1 group-count workhorse + A5/A6 min/max/sum).
# Shape of stats/incremental/user/artist.py:34-48 generalized to TPC-H Q1.
# --------------------------------------------------------------------------
@register(
    "a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(38,10))), 2) AS DOUBLE)      AS sum_qty,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,10))), 2) AS DOUBLE)
                                                                       AS sum_disc_price,
           ROUND(AVG(l_quantity), 6)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 6)                              AS avg_price,
           COUNT(*)                                                    AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="group-count workhorse + sums/avgs with pushed-down time filter",
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The three SUM columns accumulate in DECIMAL(38,10) on BOTH engines:
    # a double sum's low bits depend on partitioning/summation order, and
    # ROUND(...,2) flips when the true sum sits within ~1 ulp of a .005
    # boundary (observed at sf0.1 for sum_disc_price once cached-table
    # partitioning changed — same divergence class as the equal-neighbor
    # percentile fix in x_equidepth_bins). The per-row double→decimal cast
    # is deterministic, decimal addition is exact, so the result is
    # order-independent at any parallelism.
    li = load_table(spark, sf_dir, "lineitem")
    dec = "decimal(38,10)"
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(F.col("l_quantity").cast(dec)), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice").cast(dec)), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(dec)), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# S1: pruned scan — time-range + column-pruned projection, group by month.
# listens/data.py:89-115 builds the year/month OR-clause by hand; here the
# plain predicate reaches the parquet scan via Catalyst pushdown.
# --------------------------------------------------------------------------
@register(
    "s1_pruned_scan",
    """
    SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT)  AS ship_year,
           CAST(EXTRACT(month FROM l_shipdate) AS BIGINT) AS ship_month,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1, 2
    """,
    doc="S1 partitioned scan w/ pruning semantics (listens/data.py:89-115)",
)
def s1_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            F.month("l_shipdate").cast("bigint").alias("ship_month"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --------------------------------------------------------------------------
# S2/U2: base ∪ incremental union scan (listens/data.py:25-55).
# --------------------------------------------------------------------------
@register(
    "s2_union_scan",
    """
    SELECT o_orderpriority, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="S2 base+incremental union scan (listens/data.py:25-55)",
)
def s2_union_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    base = orders.where(F.col("o_orderdate") < cutoff)
    incremental = orders.where(F.col("o_orderdate") >= cutoff)
    return (
        base.unionByName(incremental)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# --------------------------------------------------------------------------
# P2: null/'' normalization (nullif pattern, user/recording.py:22-25).
# --------------------------------------------------------------------------
@register(
    "p2_null_normalize",
    """
    SELECT COALESCE(NULLIF(TRIM(event_type), ''), 'unknown') AS event_type_norm,
           COUNT(*) AS n
    FROM events
    GROUP BY 1
    """,
    doc="P2 nullif/coalesce normalization",
)
def p2_null_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    norm = F.coalesce(F.nullif(F.trim(F.col("event_type")), F.lit("")), F.lit("unknown"))
    return ev.groupBy(norm.alias("event_type_norm")).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# P3/A7: case-insensitive grouping with representative casing
# (stats/incremental/user/artist.py:41-47; min() replaces first() for
# a deterministic representative).
# --------------------------------------------------------------------------
@register(
    "p3_case_fold_group",
    """
    SELECT LOWER(p_type) AS p_type_lower, MIN(p_type) AS any_type, COUNT(*) AS n
    FROM part
    GROUP BY 1
    """,
    doc="P3 lower() grouping + representative picker",
)
def p3_case_fold_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.groupBy(F.lower("p_type").alias("p_type_lower")).agg(
        F.min("p_type").alias("any_type"), F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# P4/J8: tombstone anti join (listens/data.py:71-75).
# --------------------------------------------------------------------------
@register(
    "p4_anti_join",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    )
    """,
    doc="P4 deleted-listens anti join (listens/data.py:71-75)",
)
def p4_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    finished = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return anti_join(customer, finished, ["c_custkey"]).select("c_custkey", "c_name")


# --------------------------------------------------------------------------
# P5: per-key cutoff filter (deleted-history, listens/data.py:77-84):
# keep events strictly after the user's last 'purchase', or all events
# for users who never purchased.
# --------------------------------------------------------------------------
@register(
    "p5_history_cutoff",
    """
    WITH cutoff AS (
        SELECT user_id, MAX(ts) AS max_ts
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id
    )
    SELECT e.user_id, COUNT(*) AS n_after
    FROM events e LEFT JOIN cutoff c ON e.user_id = c.user_id
    WHERE c.max_ts IS NULL OR e.ts > c.max_ts
    GROUP BY e.user_id
    """,
    doc="P5 deleted-history cutoff (listens/data.py:77-84)",
)
def p5_history_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.max("ts").alias("max_ts"))
    )
    return (
        ev.join(cutoff, on="user_id", how="left")
        .where(F.col("max_ts").isNull() | (F.col("ts") > F.col("max_ts")))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_after"))
    )


# --------------------------------------------------------------------------
# P6: HAVING threshold (year_in_music/top_discoveries.py:83-84).
# --------------------------------------------------------------------------
@register(
    "p6_having_threshold",
    """
    SELECT o_custkey, COUNT(*) AS order_count
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) > 12
    """,
    doc="P6 post-aggregation threshold",
)
def p6_having_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .where(F.col("order_count") > 12)
    )


# --------------------------------------------------------------------------
# P8/J9: EXISTS → semi join (affected-key pruning, user/entity.py:44-53).
# --------------------------------------------------------------------------
@register(
    "p8_semi_join",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderdate >= TIMESTAMP '1998-01-01'
    )
    """,
    doc="P8 EXISTS semi-join pruning (user/entity.py:44-53)",
)
def p8_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return semi_join(customer, recent, ["c_custkey"]).select("c_custkey", "c_mktsegment")


# --------------------------------------------------------------------------
# P9: conditional projection (CASE WHEN confidence transform,
# create_dataframes.py:172-183).
# --------------------------------------------------------------------------
@register(
    "p9_conditional_projection",
    """
    SELECT CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 15 THEN 'mid'
                ELSE 'small' END AS qty_band,
           COUNT(*) AS n,
           ROUND(SUM(LEAST(l_quantity, 45.0)), 2) AS capped_qty
    FROM lineitem
    GROUP BY 1
    """,
    doc="P9 CASE WHEN projection + LEAST cap (create_dataframes.py:172-183)",
)
def p9_conditional_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 15, "mid")
        .otherwise("small")
    )
    return li.groupBy(band.alias("qty_band")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.least(F.col("l_quantity"), F.lit(45.0))), 2).alias("capped_qty"),
    )


# --------------------------------------------------------------------------
# J1: fact × broadcast dim join (user/artist.py:26-32 shape).
# --------------------------------------------------------------------------
@register(
    "j1_dim_join",
    """
    SELECT p.p_brand,
           COUNT(*) AS n,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="J1 broadcast dimension join (user/artist.py:26-32)",
)
def j1_dim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    return (
        dim_join(li, part, on=["l_partkey"], how="inner", broadcast_dim=True)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )


# --------------------------------------------------------------------------
# J3: two-hop dimension chain (era_activity.py:40-41 shape):
# customer → nation → region.
# --------------------------------------------------------------------------
@register(
    "j3_two_hop_join",
    """
    SELECT r.r_name, COUNT(*) AS n_customers, ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="J3 release→release-group 2-hop dim chain (era_activity.py:40-41)",
)
def j3_two_hop_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_regionkey"
    )
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    return (
        dim_join(dim_join(customer, nation, on=["c_nationkey"]), region, on=["n_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# --------------------------------------------------------------------------
# J4/J5: cross-join densified grid with zero-fill
# (user/daily_activity.py:73-90, listening_activity.py:63-84).
# --------------------------------------------------------------------------
@register(
    "j4_densify_grid",
    """
    WITH types AS (SELECT DISTINCT event_type FROM events),
         hours AS (SELECT UNNEST(range(24)) AS hour),
         agg AS (
            SELECT event_type, CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
                   COUNT(*) AS n
            FROM events GROUP BY 1, 2
         )
    SELECT t.event_type, h.hour, COALESCE(a.n, 0) AS n
    FROM types t CROSS JOIN hours h
    LEFT JOIN agg a ON a.event_type = t.event_type AND a.hour = h.hour
    """,
    doc="J4/J5 dense time-bucket grid + zero fill (daily_activity.py:73-90)",
)
def j4_densify_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    types = ev.select("event_type").distinct()
    hours = spark.range(24).select(F.col("id").alias("hour"))
    agg = ev.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    return densify(
        types, hours, agg, join_keys=["event_type", "hour"], fill={"n": F.lit(0).cast("bigint")}
    ).select("event_type", "hour", "n")


# --------------------------------------------------------------------------
# J15/A13: totals alongside detail (sitewide/artist.py:91-95) — window
# grand total instead of the reference's JOIN ON TRUE.
# --------------------------------------------------------------------------
@register(
    "j15_grand_total",
    """
    SELECT o_orderpriority, COUNT(*) AS n, CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS total_n
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="J15/A13 grand total alongside groups (sitewide/artist.py:91-95)",
)
def j15_grand_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
    return agg.withColumn("total_n", F.sum("n").over(Window.partitionBy()))


# --------------------------------------------------------------------------
# A2/U1: incremental combine — partial(base) ⊎ partial(delta) re-aggregated
# equals the direct aggregate (incremental_stats_engine.py:86-142).
# --------------------------------------------------------------------------
@register(
    "a2_incremental_combine",
    """
    SELECT o_custkey, COUNT(*) AS order_count, ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_custkey
    """,
    doc="A2 partial+delta combine ≡ full recompute (incremental_stats_engine.py:86-142)",
)
def a2_incremental_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1998-01-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            F.sum("o_totalprice").alias("total"),
        )

    base = partial(orders.where(F.col("o_orderdate") < cutoff))
    delta = partial(orders.where(F.col("o_orderdate") >= cutoff))
    combined = combine_aggregates(base, delta, keys=["o_custkey"], sum_cols=["order_count", "total"])
    return combined.select(
        "o_custkey",
        F.col("order_count").cast("bigint").alias("order_count"),
        F.round("total", 2).alias("total"),
    )


# --------------------------------------------------------------------------
# A3: capped count (sitewide anti-abuse cap, sitewide/entity.py:50-59).
# --------------------------------------------------------------------------
@register(
    "a3_capped_count",
    """
    WITH per_user AS (
        SELECT user_id, event_type, LEAST(COUNT(*), 25) AS capped
        FROM events GROUP BY user_id, event_type
    )
    SELECT event_type, CAST(SUM(capped) AS BIGINT) AS listen_count
    FROM per_user GROUP BY event_type
    """,
    doc="A3 per-user capped count before sitewide sum (sitewide/entity.py:50-59)",
)
def a3_capped_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return capped_count(ev, "user_id", ["event_type"], cap=25)


# --------------------------------------------------------------------------
# A4: count distinct (listener counts, popularity/common.py:17,54).
# --------------------------------------------------------------------------
@register(
    "a4_count_distinct",
    """
    SELECT event_type, COUNT(DISTINCT user_id) AS listener_count, COUNT(*) AS n
    FROM events
    GROUP BY event_type
    """,
    doc="A4 exact count distinct (popularity/common.py:17,54)",
)
def a4_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("listener_count"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# A5/A6: min/max + sum-with-default (listening_time.py:20-27).
# --------------------------------------------------------------------------
@register(
    "a5_minmax_sum_default",
    """
    SELECT user_id,
           MIN(ts) AS first_seen, MAX(ts) AS last_seen,
           ROUND(SUM(COALESCE(value, 180.0)), 2) AS total_value
    FROM events
    GROUP BY user_id
    """,
    doc="A5 min/max + A6 sum(coalesce(x, default)) (listening_time.py:20-27)",
)
def a5_minmax_sum_default(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(180.0))), 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# A8/O2: collect_list + canonical sort, emitted as a joined string so the
# nested-array semantics are hash-comparable across engines
# (user/artist.py:91-100 sort_array(collect_list(struct)) shape).
# --------------------------------------------------------------------------
@register(
    "a8_collect_sorted",
    """
    SELECT r.r_name AS region_name,
           STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="A8/O2 sorted collect_list assembly (user/artist.py:91-100)",
)
def a8_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").alias("n_regionkey"), "r_name"
    )
    return (
        dim_join(nation, region, on=["n_regionkey"], how="inner")
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.array_join(F.sort_array(F.collect_list("n_name")), ",").alias("nations"))
    )


# --------------------------------------------------------------------------
# A9: map building + re-explosion (day_of_week.py:23-27 map_from_entries),
# exploded back to rows for engine-independent comparison.
# --------------------------------------------------------------------------
@register(
    "a9_map_entries",
    """
    SELECT user_id, event_type AS k, COUNT(*) AS v
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="A9 map_from_entries(collect_list(struct)) round-trip (day_of_week.py:23-27)",
)
def a9_map_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    as_map = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    exploded = as_map.select("user_id", F.explode("m").alias("k", "v"))
    return exploded.select("user_id", "k", F.col("v").cast("bigint").alias("v"))


# --------------------------------------------------------------------------
# A12/U5: distinct dedup (delete.py:53-60 group-by-all-columns dedup).
# --------------------------------------------------------------------------
@register(
    "a12_distinct",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="A12/U5 distinct (listens/delete.py:53-60)",
)
def a12_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


# --------------------------------------------------------------------------
# U4: symmetric pair expansion (similarity/user.py:70-81).
# --------------------------------------------------------------------------
@register(
    "u4_symmetric_pairs",
    """
    WITH pairs AS (
        SELECT n_regionkey AS a, n_nationkey AS b FROM nation
    )
    SELECT a, b FROM pairs
    UNION ALL
    SELECT b AS a, a AS b FROM pairs
    """,
    doc="U4 forward ∪ backward pair expansion (similarity/user.py:70-81)",
)
def u4_symmetric_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.joins import symmetric_pairs

    nation = load_table(spark, sf_dir, "nation")
    pairs = nation.select(F.col("n_regionkey").alias("a"), F.col("n_nationkey").alias("b"))
    return symmetric_pairs(pairs, "a", "b")


# --------------------------------------------------------------------------
# F: scalar date/time bucket functions (§2.8 date family).
# --------------------------------------------------------------------------
@register(
    "f_datetime_buckets",
    """
    SELECT CAST(EXTRACT(year FROM ts) AS BIGINT)   AS y,
           CAST(EXTRACT(month FROM ts) AS BIGINT)  AS m,
           CAST(EXTRACT(hour FROM ts) AS BIGINT)   AS h,
           CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS dow,
           COUNT(*) AS n
    FROM events
    GROUP BY 1, 2, 3, 4
    """,
    doc="§2.8 date/time bucketing (daily_activity.py:39-41 et al.)",
)
def f_datetime_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.year("ts").cast("bigint").alias("y"),
        F.month("ts").cast("bigint").alias("m"),
        F.hour("ts").cast("bigint").alias("h"),
        (F.weekday("ts") + 1).cast("bigint").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("n"))


# --------------------------------------------------------------------------
# F: scalar string functions (§2.8 string family: lower/like/split).
# --------------------------------------------------------------------------
@register(
    "f_string_funcs",
    """
    SELECT UPPER(SPLIT_PART(p_name, ' ', 2)) AS noun,
           COUNT(*) AS n,
           CAST(MIN(LENGTH(p_name)) AS BIGINT) AS min_name_len
    FROM part
    WHERE p_type LIKE '%O%' AND p_name LIKE '% %'
    GROUP BY 1
    """,
    doc="§2.8 string family: split/like/upper/length",
)
def f_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.where(F.col("p_type").like("%O%") & F.col("p_name").like("% %"))
        .groupBy(F.upper(F.split(F.col("p_name"), " ").getItem(1)).alias("noun"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.length("p_name")).cast("bigint").alias("min_name_len"),
        )
    )


# --------------------------------------------------------------------------
# F: JSON extraction (postgres/utils.py:26-27 from_json on a jsonb
# column; events.props is a JSON string payload).
# --------------------------------------------------------------------------
@register(
    "f_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
           COUNT(*) AS n,
           ROUND(AVG(value), 6) AS avg_value
    FROM events
    WHERE props IS NOT NULL
    GROUP BY 1
    """,
    doc="§2.8 JSON family: from_json typed extraction (postgres/utils.py:26-27)",
)
def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.types import LongType, StructField, StructType

    ev = load_table(spark, sf_dir, "events")
    schema = StructType([StructField("k", LongType())])
    return (
        ev.where(F.col("props").isNotNull())
        .withColumn("_p", F.from_json("props", schema))
        .groupBy((F.col("_p.k") % 10).alias("k_mod"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


# --------------------------------------------------------------------------
# J12: lateral explode with position (LATERAL VIEW explode,
# artist_evolution_activity.py:52-54) — array built per user, then
# posexploded; positions are well-defined because the array is sorted.
# --------------------------------------------------------------------------
@register(
    "j12_posexplode",
    """
    WITH distinct_types AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT user_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_type) - 1
                AS INT) AS pos,
           event_type
    FROM distinct_types
    """,
    doc="J12 lateral/positional explode (artist_evolution_activity.py:52-54)",
)
def j12_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    arrays = (
        ev.select("user_id", "event_type")
        .distinct()
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("event_type")).alias("types"))
    )
    return arrays.select(
        "user_id", F.posexplode("types").alias("pos", "event_type")
    )


# --------------------------------------------------------------------------
# O3: array_sort with a lambda comparator (recommend.py:113-133,
# fresh_releases.py:87-111) — sort struct array by count desc, name
# asc; emitted as a joined string for engine-independent comparison.
# --------------------------------------------------------------------------
@register(
    "o3_array_sort_lambda",
    """
    WITH counts AS (
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderpriority,
           STRING_AGG(o_orderstatus || ':' || n, ',' ORDER BY n DESC, o_orderstatus)
               AS ranked_statuses
    FROM counts
    GROUP BY o_orderpriority
    """,
    doc="O3 array_sort w/ SQL lambda comparator (recommend.py:113-133)",
)
def o3_array_sort_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    counts = orders.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    packed = counts.groupBy("o_orderpriority").agg(
        F.collect_list(F.struct("o_orderstatus", "n")).alias("arr")
    )
    sorted_arr = F.expr(
        """
        array_sort(arr, (l, r) -> CASE
            WHEN l.n > r.n THEN -1 WHEN l.n < r.n THEN 1
            WHEN l.o_orderstatus < r.o_orderstatus THEN -1
            WHEN l.o_orderstatus > r.o_orderstatus THEN 1 ELSE 0 END)
        """
    )
    return packed.select(
        "o_orderpriority",
        F.array_join(
            F.transform(
                sorted_arr, lambda s: F.concat_ws(":", s.o_orderstatus, s.n)
            ),
            ",",
        ).alias("ranked_statuses"),
    )


# --------------------------------------------------------------------------
# U3: 3-source UNION ALL + priority dedup (top_genres.py:29-63 —
# recording/artist/release-group genre sources, best priority wins).
# --------------------------------------------------------------------------
@register(
    "u3_priority_merge",
    """
    WITH merged AS (
        SELECT o_custkey, o_orderkey, 1 AS priority FROM orders WHERE o_orderstatus = 'F'
        UNION ALL
        SELECT o_custkey, o_orderkey, 2 AS priority FROM orders WHERE o_orderstatus = 'O'
        UNION ALL
        SELECT o_custkey, o_orderkey, 3 AS priority FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT o_custkey, CAST(MIN(priority) AS INT) AS best_priority,
           COUNT(*) AS n_orders
    FROM merged
    GROUP BY o_custkey
    """,
    doc="U3 multi-source union + priority pick (top_genres.py:29-63)",
)
def u3_priority_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")

    def src(status: str, prio: int) -> DataFrame:
        return orders.where(F.col("o_orderstatus") == status).select(
            "o_custkey", "o_orderkey", F.lit(prio).alias("priority")
        )

    merged = src("F", 1).unionByName(src("O", 2)).unionByName(src("P", 3))
    return merged.groupBy("o_custkey").agg(
        F.min("priority").cast("int").alias("best_priority"),
        F.count(F.lit(1)).alias("n_orders"),
    )


# --------------------------------------------------------------------------
# A10: boolean aggregate over a window (any(...) OVER w featured-artist
# detection, similarity/artist.py:28-36).
# --------------------------------------------------------------------------
@register(
    "a10_bool_or_window",
    """
    SELECT DISTINCT user_id,
           BOOL_OR(event_type = 'purchase') OVER (PARTITION BY user_id) AS has_purchase
    FROM events
    """,
    doc="A10 any()/bool_or over window (similarity/artist.py:28-36)",
)
def a10_bool_or_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    return ev.select(
        "user_id",
        F.bool_or(F.col("event_type") == "purchase").over(w).alias("has_purchase"),
    ).distinct()


# --------------------------------------------------------------------------
# J13: explode-both-sides equi join instead of arrays_overlap — the
# reference's documented 3h→2min rewrite
# (new_releases_of_top_artists.py:39-43). Array sides are built from
# events (user→types, hour→types); overlap pairs come from the
# exploded equi join, never a nested loop.
# --------------------------------------------------------------------------
@register(
    "j13_explode_equi_join",
    """
    WITH user_types AS (SELECT DISTINCT user_id, event_type FROM events),
         hour_types AS (
            SELECT DISTINCT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour, event_type
            FROM events
         )
    SELECT u.user_id, COUNT(DISTINCT h.hour) AS overlapping_hours
    FROM user_types u JOIN hour_types h ON u.event_type = h.event_type
    GROUP BY u.user_id
    """,
    doc="J13 explode-to-equi-join arrays_overlap rewrite (3h->2min lesson)",
)
def j13_explode_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.joins import explode_equi_join

    ev = load_table(spark, sf_dir, "events")
    left = ev.groupBy("user_id").agg(F.collect_set("event_type").alias("types_a"))
    right = ev.groupBy(F.hour("ts").cast("bigint").alias("hour")).agg(
        F.collect_set("event_type").alias("types_b")
    )
    joined = explode_equi_join(left, "types_a", right, "types_b")
    return joined.groupBy("user_id").agg(
        F.countDistinct("hour").alias("overlapping_hours")
    )


# --------------------------------------------------------------------------
# P10: string-prefix chunk filter (user_id LIKE 'c%' 16-way chunking,
# similarity/recording/mlhd.py:32-35).
# --------------------------------------------------------------------------
@register(
    "p10_prefix_chunk",
    """
    SELECT p_brand, COUNT(*) AS n
    FROM part
    WHERE p_brand LIKE 'Brand#1%'
    GROUP BY p_brand
    """,
    doc="P10 prefix chunk filter (similarity/recording/mlhd.py:32-35)",
)
def p10_prefix_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return (
        part.where(F.col("p_brand").startswith("Brand#1"))
        .groupBy("p_brand")
        .agg(F.count(F.lit(1)).alias("n"))
    )
