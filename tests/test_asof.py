"""As-of / range join operator fixtures: no-prior-match NULLs,
at-the-same-instant inclusion, tolerance cutoff, bucket-boundary
spanning intervals."""

from datetime import datetime

from pyspark.sql import functions as F

from listenbrainz_server_spark.operators.asof import asof_join, range_join_bucketed


def _ts(s):
    return datetime.fromisoformat(s)


def test_asof_join_fixture(spark):
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),  # after r1 -> 100.0
            (2, 10, _ts("2024-01-01 12:00:00")),  # exactly at r2 -> 200.0
            (3, 10, _ts("2024-01-01 09:00:00")),  # before any right -> NULL
            (4, 20, _ts("2024-01-01 10:00:00")),  # other key, no right -> NULL
        ],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 09:30:00"), 100.0),
            (10, _ts("2024-01-01 12:00:00"), 200.0),
        ],
        "user_id bigint, rts timestamp, val double",
    )
    got = {
        r.event_id: (r.val, r.asof_ts)
        for r in asof_join(
            left, right, ["user_id"], "ts", "rts", ["val"]
        ).collect()
    }
    assert got[1] == (100.0, _ts("2024-01-01 09:30:00"))
    assert got[2] == (200.0, _ts("2024-01-01 12:00:00"))  # ties include
    assert got[3] == (None, None)
    assert got[4] == (None, None)


def test_asof_join_tolerance(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:00:00"))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts("2024-01-01 08:00:00"), 7.0)],
        "user_id bigint, rts timestamp, val double",
    )
    within = asof_join(
        left, right, ["user_id"], "ts", "rts", ["val"], tolerance_seconds=3 * 3600
    ).collect()[0]
    beyond = asof_join(
        left, right, ["user_id"], "ts", "rts", ["val"], tolerance_seconds=3600
    ).collect()[0]
    assert within.val == 7.0
    assert beyond.val is None and beyond.asof_ts is None


def test_asof_join_forward_direction(spark):
    """Forward as-of: smallest right_ts >= left ts per key, same-instant
    rows included, no-following-match NULLs, tolerance cuts matches
    that are too far in the future."""
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),  # next is r1 -> 100.0
            (2, 10, _ts("2024-01-01 12:00:00")),  # exactly at r2 -> 200.0
            (3, 10, _ts("2024-01-01 13:00:00")),  # nothing follows -> NULL
        ],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 10:30:00"), 100.0),
            (10, _ts("2024-01-01 12:00:00"), 200.0),
        ],
        "user_id bigint, rts timestamp, val double",
    )
    got = {
        r.event_id: (r.val, r.asof_ts)
        for r in asof_join(
            left, right, ["user_id"], "ts", "rts", ["val"], direction="forward"
        ).collect()
    }
    assert got[1] == (100.0, _ts("2024-01-01 10:30:00"))
    assert got[2] == (200.0, _ts("2024-01-01 12:00:00"))
    assert got[3] == (None, None)

    tight = {
        r.event_id: r.val
        for r in asof_join(
            left, right, ["user_id"], "ts", "rts", ["val"],
            direction="forward", tolerance_seconds=600,
        ).collect()
    }
    assert tight[1] is None  # 30 min away > 10 min tolerance
    assert tight[2] == 200.0


def test_asof_join_nearest_direction(spark):
    """Nearest as-of: closest right row either side; backward wins
    exact-distance ties (pandas merge_asof rule); tolerance applies
    per-side BEFORE the choice (a closer-but-out-of-tolerance forward
    row must not shadow an in-tolerance backward one)."""
    left = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01 10:00:00")),  # 30m back vs 2h fwd -> back
            (2, 10, _ts("2024-01-01 11:45:00")),  # 2h15 back vs 15m fwd -> fwd
            (3, 10, _ts("2024-01-01 10:45:00")),  # 75m back = 75m fwd -> back
            (4, 20, _ts("2024-01-01 10:00:00")),  # no right rows -> NULL
        ],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 09:30:00"), 100.0),
            (10, _ts("2024-01-01 12:00:00"), 200.0),
        ],
        "user_id bigint, rts timestamp, val double",
    )
    got = {
        r.event_id: (r.val, r.asof_ts)
        for r in asof_join(
            left, right, ["user_id"], "ts", "rts", ["val"], direction="nearest"
        ).collect()
    }
    assert got[1] == (100.0, _ts("2024-01-01 09:30:00"))
    assert got[2] == (200.0, _ts("2024-01-01 12:00:00"))
    assert got[3] == (100.0, _ts("2024-01-01 09:30:00"))  # tie -> backward
    assert got[4] == (None, None)

    # Tolerance 60m: row 1's backward match (30m) survives; row 2's
    # forward match (15m) survives while its backward (135m) is cut;
    # row 3 has both sides at 75m -> NULL, not the nearer-side value.
    tight = {
        r.event_id: r.val
        for r in asof_join(
            left, right, ["user_id"], "ts", "rts", ["val"],
            direction="nearest", tolerance_seconds=3600,
        ).collect()
    }
    assert tight[1] == 100.0
    assert tight[2] == 200.0
    assert tight[3] is None

    # One-side-in-tolerance: backward 50m, forward 30m from the left
    # row. tol 55m -> both in, forward closer wins; tol 40m -> only
    # forward survives; tol 20m -> both cut -> NULL.
    left2 = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:20:00"))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right2 = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 09:30:00"), 1.0),
            (10, _ts("2024-01-01 10:50:00"), 2.0),
        ],
        "user_id bigint, rts timestamp, val double",
    )
    for tol_minutes, want in ((55, 2.0), (40, 2.0), (20, None)):
        row = asof_join(
            left2, right2, ["user_id"], "ts", "rts", ["val"],
            direction="nearest", tolerance_seconds=tol_minutes * 60,
        ).collect()[0]
        assert row.val == want, (tol_minutes, row.val)


def test_asof_join_nearest_single_shuffle_plan(spark):
    """Both sweeps share the key partitioning: nearest still costs ONE
    hash exchange (two sorts), no join node."""
    left = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:00:00"))],
        "event_id bigint, user_id bigint, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts("2024-01-01 09:30:00"), 1.0)],
        "user_id bigint, rts timestamp, val double",
    )
    plan = (
        asof_join(
            left, right, ["user_id"], "ts", "rts", ["val"], direction="nearest"
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_range_join_bucket_spanning(spark):
    """An interval spanning several buckets still matches rows in each
    of them; half-open [start, end) excludes the endpoint."""
    clicks = spark.createDataFrame(
        [
            (10, _ts("2024-01-01 10:05:00")),  # in
            (10, _ts("2024-01-01 12:59:00")),  # in (3rd bucket)
            (10, _ts("2024-01-01 13:00:00")),  # end boundary -> out
            (10, _ts("2024-01-01 09:59:00")),  # before start -> out
            (20, _ts("2024-01-01 10:05:00")),  # other key -> out
        ],
        "user_id bigint, ts timestamp",
    )
    iv = spark.createDataFrame(
        [(1, 10, _ts("2024-01-01 10:00:00"), _ts("2024-01-01 13:00:00"))],
        "iv_id bigint, user_id bigint, w_start timestamp, w_end timestamp",
    )
    got = range_join_bucketed(
        clicks, iv, ["user_id"], "ts", "w_start", "w_end", bucket_seconds=3600
    )
    assert sorted(r.ts for r in got.collect()) == [
        _ts("2024-01-01 10:05:00"),
        _ts("2024-01-01 12:59:00"),
    ]


def test_user_lifecycle_states_fixture(spark):
    """Growth accounting on a crafted month (weeks W1..W4, Mondays
    2024-01-01/08/15/22): user A active W1,W2,W4 -> new@W1,
    retained@W2, churned@W3, resurrected@W4; user B active W1 only ->
    new@W1, churned@W2, and NOT churned again later (one churn event
    per dormancy spell); user C active W4 only -> new@W4 and no churn
    row (W5 is past the data horizon)."""
    from listenbrainz_server_spark.queries.analytics import user_lifecycle_states

    rows = [
        ("A", "2024-01-02"), ("A", "2024-01-03"),  # W1 twice (distinct)
        ("A", "2024-01-09"), ("A", "2024-01-24"),
        ("B", "2024-01-04"),
        ("C", "2024-01-25"),
    ]
    ev = spark.createDataFrame(
        [(u, _ts(d + " 10:00:00")) for u, d in rows],
        "user_id string, ts timestamp",
    )
    got = {
        (str(r.week_start), r.state): r.n_users
        for r in user_lifecycle_states(ev).collect()
    }
    assert got == {
        ("2024-01-01", "new"): 2,          # A, B
        ("2024-01-08", "retained"): 1,     # A
        ("2024-01-08", "churned"): 1,      # B
        ("2024-01-15", "churned"): 1,      # A
        ("2024-01-22", "resurrected"): 1,  # A
        ("2024-01-22", "new"): 1,          # C
    }, got


def test_asof_join_single_shuffle_plan(spark):
    """The union-tag sweep must cost ONE hash exchange (the key
    window) — no join node, no nested loop, no range explosion."""
    from listenbrainz_server_spark.catalog import cache_disabled, load_table

    with cache_disabled():
        ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("rts"), "value"
    )
    plan = (
        asof_join(clicks, purch, ["user_id"], "ts", "rts", ["value"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for bad in ("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad
