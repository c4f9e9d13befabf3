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


MEMINFO = "MemTotal:       16479424 kB\nMemFree:         1000000 kB\n"


def test_driver_memory_is_half_the_memory_this_process_may_use():
    # 16,479,424 kB is 16,093 MiB; "max" and no cgroup file read as
    # no limit.
    assert session.driver_memory(MEMINFO, "max\n") == "8046m"
    assert session.driver_memory(MEMINFO, None) == "8046m"
    assert session.driver_memory(MEMINFO, f"{6 * 2**30}\n") == "3072m"
    # Floored at 1g, capped at 8g.
    assert session.driver_memory(MEMINFO, str(2**30)) == "1024m"
    assert session.driver_memory("MemTotal: 67108864 kB\n", "max") == "8192m"
    assert session.driver_memory("", None) == "8192m"


def test_driver_memory_reads_meminfo_and_the_cgroup_limit(tmp_path, monkeypatch):
    meminfo, v2, v1 = (tmp_path / n for n in ("meminfo", "memory.max", "limit"))
    meminfo.write_text(MEMINFO)
    v2.write_text("max\n")
    v1.write_text(f"{4 * 2**30}\n")
    monkeypatch.setattr(session, "_MEMINFO", str(meminfo))
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", (str(v2), str(v1)))
    assert session._host_driver_memory() == "8046m"
    monkeypatch.setattr(session, "_CGROUP_MEMORY_MAX", (str(tmp_path / "none"), str(v1)))
    assert session._host_driver_memory() == "2048m"
