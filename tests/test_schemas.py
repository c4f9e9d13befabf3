"""Fixed-schema discipline: every catalog table matches its declared
StructType, and drift raises with a field-level diff."""

from __future__ import annotations

import pytest

from listenbrainz_server_spark.catalog import TPCH_TABLES, cache_disabled, load_table
from listenbrainz_server_spark.schemas import TABLE_SCHEMAS, validate

SF = "/root/testdata/sf0.001"


def test_every_table_matches_declared_schema(spark):
    for name in TPCH_TABLES:
        load_table(spark, SF, name)  # validate() runs inside


def test_all_tables_have_declared_schemas():
    assert set(TABLE_SCHEMAS) == set(TPCH_TABLES)


def test_drift_raises_with_diff(spark):
    df = load_table(spark, SF, "region").withColumnRenamed("r_name", "r_nom")
    with pytest.raises(ValueError, match="missing={'r_name'"):
        validate("region", df)


def test_type_change_raises(spark):
    from pyspark.sql import functions as F

    df = load_table(spark, SF, "region").withColumn(
        "r_regionkey", F.col("r_regionkey").cast("long")
    )
    with pytest.raises(ValueError, match="changed"):
        validate("region", df)


def test_events_ts_stable_under_hostile_session_confs(spark):
    """ADVICE r2: an externally-built session may run a non-UTC
    timezone (skews the NTZ→TIMESTAMP cast off epoch) or set
    spark.sql.timestampType=TIMESTAMP_NTZ (makes a DDL-keyword
    "timestamp" cast a no-op → schema drift). load_table must yield
    the same epoch instants and TimestampType either way."""

    def ts_range():
        with cache_disabled():
            return (
                load_table(spark, SF, "events")
                .selectExpr("min(unix_micros(ts)) AS lo", "max(unix_micros(ts)) AS hi")
                .collect()[0]
            )

    baseline = ts_range()
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    prev_tt = spark.conf.get("spark.sql.timestampType")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
        hostile = ts_range()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        spark.conf.set("spark.sql.timestampType", prev_tt)
    assert (hostile.lo, hostile.hi) == (baseline.lo, baseline.hi)
