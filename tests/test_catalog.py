"""The catalog's two read paths: a memoized cached table, or a bare
parquet scan under ``cache_disabled()``. Nothing in between — no memo
hit that plans a repartition over an un-cached scan, and no cached copy
standing in for the bare scan."""

from __future__ import annotations

import importlib
import os

from listenbrainz_server_spark import session
from listenbrainz_server_spark.catalog import cache_disabled, load_table
from tests.conftest import SF_CHECK as SF_001

SF_01 = os.path.join(os.path.dirname(SF_001), "sf0.1")


def executed_plan(df) -> str:
    """The executed plan of a small aggregate over ``df``, cut before
    the first InMemoryRelation, which prints the plan it was built
    from (for a cached catalog table, the repartitioned scan)."""
    df = df.groupBy("event_type").count()
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString().split("InMemoryRelation")[0]


def test_memo_hit_after_clear_cache_is_cached_again(spark):
    # sf0.1 events (~2 MB) caches as more than one partition, so a
    # memo hit that Spark no longer holds would plan a round-robin
    # exchange over a bare scan.
    load_table(spark, SF_01, "events").count()
    spark.catalog.clearCache()
    plan = executed_plan(load_table(spark, SF_01, "events"))
    assert "InMemoryTableScan" in plan
    assert "RoundRobinPartitioning" not in plan


def test_cache_disabled_scans_parquet_after_table_was_cached(spark):
    # sf0.01 events caches as one partition, whose cached plan equals
    # the plain scan, so Spark would substitute the cached copy.
    load_table(spark, SF_001, "events").count()
    with cache_disabled():
        plan = executed_plan(load_table(spark, SF_001, "events"))
    assert "FileScan parquet" in plan
    assert "InMemoryTableScan" not in plan
    # Leaving the bypass restores the cached path.
    assert "InMemoryTableScan" in executed_plan(load_table(spark, SF_001, "events"))


def test_default_cpus_follow_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    try:
        assert importlib.reload(session)._DEFAULT_CPUS == len(os.sched_getaffinity(0))
        monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
        assert importlib.reload(session)._DEFAULT_CPUS == 3
    finally:
        monkeypatch.undo()
        importlib.reload(session)
