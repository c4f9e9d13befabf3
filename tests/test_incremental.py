"""Incremental-engine invariants (SURVEY.md §7.4 hard part #1):
recompute-from-scratch ≡ partial+delta combine, freshness
invalidation, created-watermark filtering, affected-key pruning."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from listenbrainz_server_spark.incremental.engine import IncrementalEngine, IncrementalStat


@pytest.fixture()
def stat():
    return IncrementalStat(
        name="counts",
        aggregate=lambda df: df.groupBy("user").agg(F.count(F.lit(1)).alias("n")),
        keys=("user",),
        sum_cols=("n",),
    )


def _events(spark, rows):
    return spark.createDataFrame(rows, "user string, ts timestamp, created timestamp")


T = "2024-01-{:02d} 00:00:00"


def rows_for(users_days):
    from datetime import datetime

    return [
        (u, datetime.fromisoformat(T.format(d)), datetime.fromisoformat(T.format(d)))
        for u, d in users_days
    ]


def test_combine_equals_full_recompute(spark, stat, tmp_path):
    full = _events(spark, rows_for([("a", 1), ("a", 2), ("b", 3)]))
    delta = _events(spark, rows_for([("a", 20), ("c", 21)]))
    eng = IncrementalEngine(spark, str(tmp_path))
    out = eng.run(stat, full, delta, "2024-01-01", "2024-02-01", "2024-01-10")
    got = {r.user: r.n for r in out.collect()}
    assert got == {"a": 3, "b": 1, "c": 1}


def test_partial_reused_when_fresh(spark, stat, tmp_path):
    full = _events(spark, rows_for([("a", 1)]))
    delta = _events(spark, rows_for([("b", 20)]))
    eng = IncrementalEngine(spark, str(tmp_path))
    eng.run(stat, full, delta, "2024-01-01", "2024-02-01", "2024-01-10")
    # Second run with a DIFFERENT full df: fresh bookkeeping -> the
    # stored partial wins, proving no base re-scan happened.
    other_full = _events(spark, rows_for([("z", 1), ("z", 2)]))
    out = eng.run(stat, other_full, delta, "2024-01-01", "2024-02-01", "2024-01-10")
    got = {r.user: r.n for r in out.collect()}
    assert got == {"a": 1, "b": 1}
    assert "z" not in got


def test_partial_invalidated_on_range_drift(spark, stat, tmp_path):
    full = _events(spark, rows_for([("a", 1)]))
    delta = _events(spark, rows_for([("b", 20)]))
    eng = IncrementalEngine(spark, str(tmp_path))
    eng.run(stat, full, delta, "2024-01-01", "2024-02-01", "2024-01-10")
    assert eng.partial_usable(stat, "2024-01-01", "2024-02-01")
    # Range rolls over (new week/month) -> partial must be rebuilt.
    assert not eng.partial_usable(stat, "2024-02-01", "2024-03-01")
    new_full = _events(spark, rows_for([("z", 2)]))
    out = eng.run(stat, new_full, delta, "2024-02-01", "2024-03-01", "2024-02-10")
    got = {r.user: r.n for r in out.collect()}
    assert got == {"z": 1, "b": 1}


def test_created_watermark_filters_delta(spark, stat, tmp_path):
    eng = IncrementalEngine(spark, str(tmp_path))
    full = _events(spark, rows_for([("a", 1)]))
    eng.create_partial(stat, full, "2024-01-01", "2024-02-01", "2024-01-15 00:00:00")
    delta = _events(spark, rows_for([("old", 10), ("new", 20)]))
    agg = eng.delta_aggregate(stat, delta, created_col="created")
    got = {r.user for r in agg.collect()}
    assert got == {"new"}  # created 2024-01-10 < watermark 01-15 dropped


def test_affected_key_pruning_limits_output(spark, stat, tmp_path):
    full = _events(spark, rows_for([("a", 1), ("b", 2), ("b", 3)]))
    delta = _events(spark, rows_for([("a", 20)]))
    eng = IncrementalEngine(spark, str(tmp_path))
    out = eng.run(
        stat, full, delta, "2024-01-01", "2024-02-01", "2024-01-10", only_affected=True
    )
    got = {r.user: r.n for r in out.collect()}
    assert got == {"a": 2}  # b untouched by delta -> pruned from recompute


def test_bookkeeping_file_shape(spark, stat, tmp_path):
    eng = IncrementalEngine(spark, str(tmp_path))
    full = _events(spark, rows_for([("a", 1)]))
    eng.create_partial(stat, full, "2024-01-01", "2024-02-01", "2024-01-10")
    meta = json.load(open(os.path.join(str(tmp_path), "counts", "bookkeeping.json")))
    assert meta == {
        "from_date": "2024-01-01",
        "to_date": "2024-02-01",
        "created": "2024-01-10",
    }


def test_combine_double_counts_spanning_users(spark):
    """Parity pin vs the reference's combine (popularity/listens.py:56-75):
    total_user_count is a per-partial COUNT(DISTINCT user) and the
    combine SUMS partials, so a user listening to the same entity in
    both the existing and incremental window is counted twice — the
    reference's deliberate approximation, not a bug. This test fails
    if combine_aggregates ever silently switches to exact re-dedup."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.operators.aggregates import combine_aggregates

    existing_facts = spark.createDataFrame(
        [("e1", "u1"), ("e1", "u1"), ("e1", "u2")], "entity string, user string"
    )
    delta_facts = spark.createDataFrame(
        [("e1", "u1"), ("e1", "u3")], "entity string, user string"
    )

    def partial(facts):
        return facts.groupBy("entity").agg(
            F.count(F.lit(1)).alias("total_listen_count"),
            F.countDistinct("user").alias("total_user_count"),
        )

    combined = combine_aggregates(
        partial(existing_facts),
        partial(delta_facts),
        keys=["entity"],
        sum_cols=["total_listen_count", "total_user_count"],
    ).collect()
    assert len(combined) == 1
    row = combined[0]
    assert row.total_listen_count == 5
    # u1 spans both partials: exact distinct would be 3; the reference
    # (and we) report 2 + 2 = 4.
    assert row.total_user_count == 4


def test_versioned_table_lifecycle(spark, tmp_path):
    """Commit/as-of mechanics of the snapshot-versioned table: versions
    are immutable (v1 read identical after v2 lands), latest follows
    the manifest, as-of reads of uncommitted versions fail loudly,
    orphan dirs from crashed commits are reclaimed."""
    import os

    import pytest

    from listenbrainz_server_spark.sources.versioned import (
        commit_version,
        read_version,
    )

    root = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    df2 = spark.createDataFrame([(1, "a2"), (3, "c")], "k int, v string")

    assert commit_version(df1, root) == 1
    snap1 = sorted(tuple(r) for r in read_version(spark, root).collect())
    assert commit_version(df2, root) == 2
    # time travel: v1 unchanged after v2
    assert sorted(
        tuple(r) for r in read_version(spark, root, version=1).collect()
    ) == snap1
    # latest resolves v2
    assert sorted(
        tuple(r) for r in read_version(spark, root).collect()
    ) == sorted(tuple(r) for r in df2.collect())

    # crashed commit leaves an orphan __tmp; next commit reclaims it
    os.makedirs(os.path.join(root, "v=3__tmp"), exist_ok=True)
    assert commit_version(df1, root) == 3

    with pytest.raises(ValueError):
        read_version(spark, root, version=9)
    with pytest.raises(FileNotFoundError):
        read_version(spark, str(tmp_path / "empty"))

    # rollback then commit must NOT reuse a committed version number
    # (latest+1 would hit v=3 and destroy that snapshot): point latest
    # back at v=2, commit, and v=3's content must be intact under a
    # NEW version 4.
    import json

    mpath = os.path.join(root, "_manifest.json")
    with open(mpath) as f:
        m = json.load(f)
    m["latest"] = 2  # simulated rollback, versions still [1, 2, 3]
    with open(mpath, "w") as f:
        json.dump(m, f)
    v3_before = sorted(
        tuple(r) for r in read_version(spark, root, version=3).collect()
    )
    assert commit_version(df2, root) == 4
    assert sorted(
        tuple(r) for r in read_version(spark, root, version=3).collect()
    ) == v3_before


def test_warm_engine_loads_the_partial_without_a_job(spark, stat, tmp_path):
    """Only the first read of a stat's partial on an engine handle
    infers its schema, a ``parquet at`` job; after a fold, reading the
    partial runs no job, and it reads what a fresh handle reads. A
    write whose columns differ from the memo drops it."""
    from tests.conftest import group_jobs

    eng = IncrementalEngine(spark, str(tmp_path))
    eng.create_partial(stat, _events(spark, rows_for([("a", 1), ("b", 2)])),
                       "2024-01-01", "2024-02-01", "2024-01-10")
    delta = eng.delta_aggregate(stat, _events(spark, rows_for([("a", 20)])))
    eng.advance_partial(stat, eng.combine(stat, delta), created="2024-01-20")
    spark.sparkContext.setJobGroup("inc:warm-load", "inc:warm-load")
    partial = eng.load_partial(stat)
    assert group_jobs(spark, "inc:warm-load") == 0
    fresh = IncrementalEngine(spark, str(tmp_path)).load_partial(stat)
    assert partial.schema == fresh.schema
    assert sorted(partial.collect()) == sorted(fresh.collect())
    assert {r.user: r.n for r in partial.collect()} == {"a": 2, "b": 1}

    wider = IncrementalStat(
        name=stat.name,
        aggregate=lambda df: df.groupBy("user").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts").alias("last")),
        keys=("user",),
        sum_cols=("n",),
    )
    eng.create_partial(wider, _events(spark, rows_for([("c", 3)])),
                       "2024-01-01", "2024-03-01", "2024-01-10")
    assert eng.load_partial(stat).columns == ["user", "n", "last"]


def test_advance_partial_stacks_batches(spark, tmp_path):
    """advance_partial persists a combined aggregate as the new
    partial so incremental batches STACK: after advancing batch 2 into
    state, combining batch 3 must equal a from-scratch aggregate over
    all three batches; the created high-water mark bumps, the (from,
    to) range survives, and the __tmp and __old dirs a crashed swap
    leaves behind are absorbed by the next one."""
    import os

    from pyspark.sql import functions as F

    from listenbrainz_server_spark.incremental.engine import (
        IncrementalEngine,
        IncrementalStat,
    )

    stat = IncrementalStat(
        name="adv",
        aggregate=lambda df: df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ),
        keys=("k",),
        sum_cols=("n",),
    )
    eng = IncrementalEngine(spark, str(tmp_path))
    mk = lambda rows: spark.createDataFrame(rows, "k int, v int")  # noqa: E731
    b1, b2, b3 = mk([(1, 0), (2, 0)]), mk([(1, 0), (3, 0)]), mk([(3, 0)])

    eng.create_partial(stat, b1, "2024-01-01", "2024-02-01", "2024-01-10")
    c2 = eng.combine(stat, eng.delta_aggregate(stat, b2))
    # simulate a crashed previous swap leaving stale __tmp and __old dirs
    for leftover in ("__tmp", "__old"):
        os.makedirs(eng._agg_path(stat) + leftover, exist_ok=True)
    eng.advance_partial(stat, c2, created="2024-01-20")
    meta = eng._read_meta(stat)
    assert meta["created"] == "2024-01-20"
    assert meta["from_date"] == "2024-01-01"  # range survives
    c3 = eng.combine(stat, eng.delta_aggregate(stat, b3))
    got = {(r.k, r.n) for r in c3.collect()}
    assert got == {(1, 2), (2, 1), (3, 2)}  # == aggregate over b1∪b2∪b3
    for leftover in ("__tmp", "__old"):
        assert not os.path.exists(eng._agg_path(stat) + leftover)


def test_partial_writes_never_delete_the_live_partial(spark, tmp_path, monkeypatch):
    """create_partial and advance_partial write through
    atomic_swap_write: the old partial is renamed aside before any tree
    delete, so no rmtree during a fold targets the live aggregate
    directory, and the bookkeeping is replaced, not rewritten in place."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from listenbrainz_server_spark.incremental.engine import (
        IncrementalEngine,
        IncrementalStat,
    )

    stat = IncrementalStat(
        name="swap",
        aggregate=lambda df: df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        ),
        keys=("k",),
        sum_cols=("n",),
    )
    eng = IncrementalEngine(spark, str(tmp_path))
    live = os.path.normpath(eng._agg_path(stat))
    deleted = []
    real_rmtree = shutil.rmtree

    def spy(path, *args, **kwargs):
        deleted.append(os.path.normpath(str(path)))
        return real_rmtree(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", spy)
    mk = lambda rows: spark.createDataFrame(rows, "k int, v int")  # noqa: E731
    eng.create_partial(stat, mk([(1, 0)]), "2024-01-01", "2024-02-01", "2024-01-10")
    eng.create_partial(stat, mk([(1, 0), (2, 0)]), "2024-01-01", "2024-02-01", "2024-01-10")
    for day, rows in enumerate(([(1, 0)], [(3, 0)])):
        combined = eng.combine(stat, eng.delta_aggregate(stat, mk(rows)))
        eng.advance_partial(stat, combined, created=f"2024-01-2{day}")
    assert deleted and live not in deleted
    assert {(r.k, r.n) for r in eng.load_partial(stat).collect()} == {
        (1, 2), (2, 1), (3, 1)}
    assert eng._read_meta(stat)["created"] == "2024-01-21"
    assert not os.path.exists(eng._meta_path(stat) + ".tmp")


def test_retract_full_group_erasure_and_pruning(spark, tmp_path):
    """Retraction drops groups whose count reaches zero, leaves
    untouched keys byte-identical, and never goes negative when the
    deletion set equals the group's rows."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.incremental.engine import (
        IncrementalEngine,
        IncrementalStat,
    )

    stat = IncrementalStat(
        name="t",
        aggregate=lambda df: df.groupBy("k").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("bigint").alias("v"),
        ),
        keys=("k",),
        sum_cols=("n", "v"),
    )
    eng = IncrementalEngine(spark, str(tmp_path))
    rows = [(1, 10), (1, 20), (2, 5), (3, 7)]
    df = spark.createDataFrame(rows, "k int, v int")
    eng.create_partial(stat, df, "a", "b", "c")

    # erase ALL of k=1 and part of nothing else
    deleted = spark.createDataFrame([(1, 10), (1, 20)], "k int, v int")
    out = {
        r.k: (r.n, r.v)
        for r in eng.retract(stat, stat.aggregate(deleted), "n").collect()
    }
    assert out == {2: (1, 5), 3: (1, 7)}  # k=1 gone, others verbatim
