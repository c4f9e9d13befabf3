"""OLAP reshaping queries: `x_pivot`, `x_unpivot`, and the grouping-set
family `x_rollup`, `x_cube`, `x_grouping_sets`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# Pivot: wide month × event_type matrix (beyond reference — SURVEY
# notes the reference has no pivot; standard OLAP surface).
# --------------------------------------------------------------------------
@register(
    "x_pivot",
    """
    SELECT CAST(EXTRACT(day FROM ts) AS BIGINT) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
    FROM events
    GROUP BY 1
    """,
    doc="pivot: day × event_type wide counts (groupBy().pivot())",
)
def x_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy(F.dayofmonth("ts").cast("bigint").alias("day"))
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null for absent cells; counts must be 0.
    for c in ["click", "error", "purchase", "signup", "view"]:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("bigint"))
    return out


# --------------------------------------------------------------------------
# Unpivot/melt: wide metrics → long (quantity/price/discount as rows).
# --------------------------------------------------------------------------
@register(
    "x_unpivot",
    """
    SELECT l_orderkey, l_linenumber, metric, ROUND(val, 4) AS val
    FROM (
        SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val
        FROM lineitem WHERE l_linenumber = 1
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'discount', l_discount
        FROM lineitem WHERE l_linenumber = 1
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'tax', l_tax
        FROM lineitem WHERE l_linenumber = 1
    )
    """,
    doc="unpivot/melt wide metric columns to long rows",
)
def x_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    mapping = {"l_quantity": "quantity", "l_discount": "discount", "l_tax": "tax"}
    metric = F.col("metric")
    for src, dst in mapping.items():
        metric = F.when(F.col("metric") == src, dst).otherwise(metric)
    return out.select(
        "l_orderkey", "l_linenumber", metric.alias("metric"), F.round("val", 4).alias("val")
    )


# --------------------------------------------------------------------------
# Rollup: subtotals + grand total (beyond reference — no grouping
# sets/cube/rollup exist there; SURVEY §2.4 note).
# --------------------------------------------------------------------------
@register(
    "x_rollup",
    """
    SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
           o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY ROLLUP(1, o_orderpriority)
    """,
    doc="rollup: per-(year,priority) + per-year subtotals + grand total",
)
def x_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup(
            F.year("o_orderdate").cast("bigint").alias("y"), "o_orderpriority"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


# --------------------------------------------------------------------------
# CUBE: all grouping-set combinations over (status, priority) —
# completes the grouping-sets family next to x_rollup.
# --------------------------------------------------------------------------
@register(
    "x_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    doc="cube: every grouping-set combination + subtotals + grand total",
)
def x_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


# --------------------------------------------------------------------------
# Arbitrary GROUPING SETS: per-status and per-priority subtotals
# WITHOUT the combined or grand-total sets — the member of the
# grouping-sets family cube/rollup can't express (each computes a
# superset). One scan, one expand — same execution shape as x_cube.
# --------------------------------------------------------------------------
@register(
    "x_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    doc="grouping sets: per-status + per-priority subtotals only "
    "(the non-cube/rollup member of the family)",
)
def x_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"]],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )
