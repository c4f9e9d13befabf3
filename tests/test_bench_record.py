"""The per-query execution record bench.py reads from Spark's status
stores, and the red-flag rule on it. Each test runs a small plan under
its own job group and checks what the record counted."""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def _run(spark, group: str, df) -> dict:
    spark.sparkContext.setJobGroup(group, group)
    df.write.format("noop").mode("overwrite").save()
    return bench.record(spark, group)


def test_row_udf_is_counted_and_flagged(spark):
    plus_one = F.udf(lambda x: x + 1, "long")
    rec = _run(spark, "rec:udf", spark.range(100).select(plus_one("id").alias("x")))
    assert rec["ops"].get("BatchEvalPython") == 1
    assert rec["jobs"] >= 1 and rec["sql_executions"] == 1
    assert bench.red_flags({"x_any": rec}) == [
        "x_any: row-at-a-time Python UDF (BatchEvalPython)"
    ]


def test_cross_join_is_counted_and_flagged_outside_als(spark):
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        left = spark.range(20).repartition(2)
        right = spark.range(30).withColumnRenamed("id", "j").repartition(2)
        rec = _run(spark, "rec:cross", left.crossJoin(right))
    finally:
        spark.conf.set(key, before)
    assert rec["ops"].get("CartesianProduct") == 1
    assert bench.red_flags({"x_any": rec}) == ["x_any: CartesianProduct"]
    assert bench.red_flags({"m_als_recommend": rec}) == []


def test_pinned_subtree_is_a_second_execution_with_its_exchange(spark):
    spark.sparkContext.setJobGroup("rec:pin", "rec:pin")
    pinned = (
        spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
        .localCheckpoint(eager=True)
    )
    pinned.where("k > 2").write.format("noop").mode("overwrite").save()
    rec = bench.record(spark, "rec:pin")
    assert rec["sql_executions"] == 2
    assert rec["ops"].get("Exchange", 0) >= 1
    assert rec["stages"] >= 2 and rec["shuffle_write_bytes"] > 0
    assert not any(op.startswith("WholeStageCodegen") for op in rec["ops"])


def test_other_job_groups_are_not_counted(spark):
    spark.sparkContext.setJobGroup("rec:other", "rec:other")
    spark.range(100).repartition(3).write.format("noop").mode("overwrite").save()
    spark.range(100).repartition(3).write.format("noop").mode("overwrite").save()
    rec = _run(spark, "rec:mine", spark.range(10))
    other = bench.record(spark, "rec:other")
    assert other["sql_executions"] == 2 and other["ops"].get("Exchange") == 2
    assert rec["sql_executions"] == 1 and "Exchange" not in rec["ops"]
    assert rec["jobs"] == 1 and rec["shuffle_write_bytes"] == 0


def test_cached_subtree_is_not_counted(spark):
    """The plan graph hangs a cached relation's plan below its
    InMemoryTableScan; that plan ran when the cache was filled, under
    another job group, so only the aggregation's own exchange counts."""
    spark.sparkContext.setJobGroup("rec:fill", "rec:fill")
    cached = spark.range(1000).repartition(3).cache()
    cached.count()
    try:
        rec = _run(spark, "rec:cached",
                   cached.groupBy((F.col("id") % 7).alias("k")).count())
    finally:
        cached.unpersist()
    assert rec["ops"].get("InMemoryTableScan") == 1
    assert rec["ops"].get("Exchange") == 1


def test_a_repeated_run_records_no_compile(spark):
    df = spark.range(1000).groupBy((F.col("id") % 13).alias("k")).agg(
        F.sum("id").alias("s"))
    recs = []
    for run in range(2):
        before = bench.codegen_compiles(spark)
        spark.sparkContext.setJobGroup(f"rec:compile:{run}", "rec:compile")
        df.write.format("noop").mode("overwrite").save()
        recs.append(bench.record(spark, f"rec:compile:{run}", before))
    assert recs[0]["codegen_compiles"] > 0
    assert recs[1]["codegen_compiles"] == 0
    assert "codegen_compiles" not in bench.record(spark, "rec:compile:1")
