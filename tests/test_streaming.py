"""Stream-mode ≡ batch-mode equivalence for the streaming jobs —
the property that lets the engine treat its transformations as
mode-agnostic (batch oracle checks then cover streaming semantics)."""

from __future__ import annotations

from datetime import datetime

import pytest

from listenbrainz_server_spark.streaming.jobs import (
    read_parquet_stream,
    run_to_memory_sink,
    session_aggregate,
    windowed_counts,
)


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    """Small deterministic event log written as two parquet 'appends'
    (the incremental dump shape, listens/dump.py:219-249)."""
    d = str(tmp_path_factory.mktemp("stream_events"))
    return d


def _mk_events(spark, path):
    rows = [
        (1, datetime.fromisoformat("2024-01-01 10:00:00"), "play", 1.0),
        (1, datetime.fromisoformat("2024-01-01 10:10:00"), "play", 2.0),
        (1, datetime.fromisoformat("2024-01-01 12:00:00"), "skip", 1.0),
        (2, datetime.fromisoformat("2024-01-01 10:05:00"), "play", 3.0),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string, value double")
    df.coalesce(1).write.mode("overwrite").parquet(path)
    return df


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_windowed_counts_stream_equals_batch(spark, event_dir):
    batch = _mk_events(spark, event_dir)
    stream = read_parquet_stream(spark, event_dir, batch.schema)
    out = windowed_counts(stream, "ts", ["event_type"], window="1 hour")
    run_to_memory_sink(out, "wc_test")
    assert not spark.streams.active  # the sink returns only after its drain ends
    got = spark.table("wc_test").select("w", "event_type", "n", "total_value")
    expect = windowed_counts(batch, "ts", ["event_type"], window="1 hour")
    cols = ["w", "event_type", "n", "total_value"]
    assert _rows(got, cols) == _rows(expect, cols)


def test_session_window_stream_equals_batch(spark, event_dir):
    batch = _mk_events(spark, event_dir)
    stream = read_parquet_stream(spark, event_dir, batch.schema)
    out = session_aggregate(stream, "ts", "user_id", gap="30 minutes")
    run_to_memory_sink(out, "sw_test")
    got = spark.table("sw_test")
    expect = session_aggregate(batch, "ts", "user_id", gap="30 minutes")
    cols = ["user_id", "sw", "n_events"]
    assert _rows(got, cols) == _rows(expect, cols)
    # Sanity: user 1 has two sessions (10:00-10:10 merged, 12:00 alone).
    u1 = [r for r in got.collect() if r.user_id == 1]
    assert sorted(r.n_events for r in u1) == [1, 2]


def test_sliding_trending_stream_equals_batch(spark, event_dir):
    """The stateful stage of sliding_trending (overlapping-window
    counts) must agree stream-vs-batch; the per-window rank applied on
    the drained sink then reproduces the batch trending report
    exactly. (The rank itself is a non-time window, so in stream mode
    it runs downstream of the stateful count — same split as here.)"""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.streaming.jobs import sliding_trending

    batch = _mk_events(spark, event_dir)
    stream = read_parquet_stream(spark, event_dir, batch.schema)
    # The streaming branch of sliding_trending returns the stateful
    # stage only (rank is a non-time window — unsupported on streams).
    counts = sliding_trending(
        stream, "ts", "event_type", window="2 hours", slide="1 hour"
    )
    assert counts.isStreaming and set(counts.columns) == {"w", "event_type", "n"}
    run_to_memory_sink(counts, "tr_test")
    rk = W.partitionBy("w").orderBy(F.col("n").desc(), "event_type")
    got = (
        spark.table("tr_test")
        .withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= 3)
        .select(F.col("w.start").alias("w_start"), "event_type", "n", "rank")
    )
    expect = sliding_trending(
        batch, "ts", "event_type", window="2 hours", slide="1 hour", top_k=3
    )
    cols = ["w_start", "event_type", "n", "rank"]
    assert _rows(got, cols) == _rows(expect, cols)


def test_trending_rank_sink_ranked_stream_equals_batch(spark, tmp_path):
    """VERDICT r7 #4: the foreachBatch rank-and-upsert sink must
    reproduce the batch trending report on the RANKED output (not just
    the count stage), with a REAL watermark on a time-ordered replay —
    the live-ingest shape where eviction is safe. Two appends, second
    strictly later than the first, 1-file triggers so the rank runs
    mid-stream and the final swap must still converge to batch."""
    from pyspark.sql import functions as F

    from listenbrainz_server_spark.streaming.jobs import (
        sliding_trending,
        trending_rank_sink,
    )

    log = str(tmp_path / "log")
    rows_a = [
        (1, datetime.fromisoformat("2024-01-01 10:00:00"), "play", 1.0),
        (2, datetime.fromisoformat("2024-01-01 10:05:00"), "play", 3.0),
        (1, datetime.fromisoformat("2024-01-01 10:10:00"), "skip", 2.0),
    ]
    rows_b = [
        (1, datetime.fromisoformat("2024-01-01 12:00:00"), "skip", 1.0),
        (2, datetime.fromisoformat("2024-01-01 12:30:00"), "play", 1.0),
        (2, datetime.fromisoformat("2024-01-01 13:40:00"), "play", 1.0),
    ]
    schema = "user_id long, ts timestamp, event_type string, value double"
    spark.createDataFrame(rows_a, schema).coalesce(1).write.mode(
        "append"
    ).parquet(log)
    spark.createDataFrame(rows_b, schema).coalesce(1).write.mode(
        "append"
    ).parquet(log)
    batch = spark.read.parquet(log)
    stream = read_parquet_stream(spark, log, batch.schema, max_files=1)
    counts_path = str(tmp_path / "counts")
    ranked_path = str(tmp_path / "ranked")
    trending_rank_sink(
        stream, "ts", "event_type", counts_path, ranked_path,
        window="2 hours", slide="1 hour", top_k=2, watermark="2 hours",
    )
    assert not spark.streams.active
    got = spark.read.parquet(ranked_path)
    expect = sliding_trending(
        batch, "ts", "event_type", window="2 hours", slide="1 hour", top_k=2
    )
    cols = ["w_start", "event_type", "n", "rank"]
    assert _rows(got, cols) == _rows(expect, cols)
    # Idempotence of the merge: re-running the whole sink over the same
    # log (fresh checkpoint) lands on the identical ranked state.
    import shutil

    shutil.rmtree(counts_path.rstrip("/") + "__ckpt")
    stream2 = read_parquet_stream(spark, log, batch.schema, max_files=1)
    trending_rank_sink(
        stream2, "ts", "event_type", counts_path, ranked_path,
        window="2 hours", slide="1 hour", top_k=2, watermark="2 hours",
    )
    assert not spark.streams.active
    assert _rows(spark.read.parquet(ranked_path), cols) == _rows(expect, cols)


def test_sliding_trending_warns_on_stream_topk(spark, tmp_path):
    """Advisor r7: a non-default top_k on a streaming input must emit a
    warning that ranking was dropped."""
    import warnings

    from listenbrainz_server_spark.streaming.jobs import sliding_trending

    log = str(tmp_path / "log")
    _mk_events(spark, log)
    stream = read_parquet_stream(spark, log, spark.read.parquet(log).schema)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = sliding_trending(stream, "ts", "event_type", top_k=5)
    assert out.isStreaming
    assert any("top_k is ignored" in str(w.message) for w in caught)


def test_stream_dedup_stream_equals_batch(spark, event_dir):
    """Streaming dedup ≡ batch dedup when all duplicates arrive within
    the watermark (exactly the append-log duplicate-delivery case)."""
    from pyspark.sql import functions as F

    import listenbrainz_server_spark.streaming.jobs as jobs
    from listenbrainz_server_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    # Duplicate every 5th event to simulate at-least-once delivery.
    dupes = ev.where(F.col("event_id") % 5 == 0)
    batch_in = ev.unionByName(dupes)
    batch_out = jobs.stream_dedup(batch_in, ["event_id"], "ts").count()
    assert batch_out == ev.count()

    dup_dir = str(event_dir) + "_dup"
    batch_in.write.mode("overwrite").parquet(dup_dir)
    stream = jobs.read_parquet_stream(spark, dup_dir, batch_in.schema)
    deduped = jobs.stream_dedup(stream, ["event_id"], "ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_sink").count()
    assert got == ev.count()


def test_foreach_batch_upsert_equals_batch(spark, event_dir, tmp_path):
    """foreachBatch aggregate-state sink: draining the stream in
    several micro-batches (maxFilesPerTrigger=1) must leave exactly
    the batch groupBy result in the state dir."""
    from pyspark.sql import functions as F

    import listenbrainz_server_spark.streaming.jobs as jobs
    from listenbrainz_server_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "ts"
    ).withColumn("n", F.lit(1).cast("bigint"))
    multi_dir = str(tmp_path / "ev_multi")
    ev.repartition(4).write.mode("overwrite").parquet(multi_dir)

    state = str(tmp_path / "state")
    stream = jobs.read_parquet_stream(
        spark, multi_dir, spark.read.parquet(multi_dir).schema, max_files=1
    )
    jobs.foreach_batch_upsert(stream, state, keys=["user_id"], sum_cols=["n"])
    assert not spark.streams.active

    got = {r.user_id: r.n for r in spark.read.parquet(state).collect()}
    want = {
        r.user_id: r.n
        for r in ev.groupBy("user_id").agg(F.sum("n").alias("n")).collect()
    }
    assert got == want


def test_interval_join_stream_equals_batch(spark, tmp_path):
    """Stream-stream interval join (both sides watermarked, state
    evicted past watermark+interval) must equal the batch range join
    on the same inputs."""
    from pyspark.sql import functions as F

    import listenbrainz_server_spark.streaming.jobs as jobs
    from listenbrainz_server_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    args = dict(
        key=("user_id", "p_user_id"), left_ts="c_ts", right_ts="p_ts", upper="4 hours"
    )
    want = sorted(
        (r.click_id, r.purchase_id)
        for r in jobs.interval_join(clicks, purchases, **args).collect()
    )
    assert want, "fixture produced no joined pairs"

    c_dir, p_dir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.parquet(c_dir)
    purchases.write.parquet(p_dir)
    got_df = jobs.interval_join(
        jobs.read_parquet_stream(spark, c_dir, clicks.schema),
        jobs.read_parquet_stream(spark, p_dir, purchases.schema),
        **args,
    )
    q = (
        got_df.writeStream.format("memory")
        .queryName("ij_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.click_id, r.purchase_id) for r in spark.table("ij_sink").collect()
    )
    assert got == want


def test_stream_static_enrich_equals_batch(spark, tmp_path):
    """Stream-static dim join ≡ batch dim join (stateless; broadcast
    keeps the stream side shuffle-free)."""
    from pyspark.sql import functions as F

    import listenbrainz_server_spark.streaming.jobs as jobs
    from listenbrainz_server_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "event_type", "value"
    )
    dim = spark.createDataFrame(
        [("click", 1.0), ("purchase", 5.0), ("view", 0.5)],
        "event_type string, weight double",
    )
    want = sorted(
        (r.event_id, r.weight)
        for r in jobs.stream_static_enrich(ev, dim, "event_type").collect()
    )

    ev_dir = str(tmp_path / "ev")
    ev.write.parquet(ev_dir)
    out = jobs.stream_static_enrich(
        jobs.read_parquet_stream(spark, ev_dir, ev.schema), dim, "event_type"
    )
    q = (
        out.writeStream.format("memory")
        .queryName("sse_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r.event_id, r.weight) for r in spark.table("sse_sink").collect())
    assert got == want


def test_merge_latest_out_of_order_and_idempotent(spark, tmp_path):
    """The LWW merge must take the argmax over state UNION batch: an
    out-of-order micro-batch carrying an OLDER version of a key must
    not clobber newer state, and re-merging the same batch (replay)
    must leave the state unchanged."""
    from listenbrainz_server_spark.streaming import jobs

    state = str(tmp_path / "state")

    def merge_batch(rows):
        # Drive the foreachBatch body directly (it is the public
        # merge_latest_into_state batch primitive).
        df = spark.createDataFrame(rows, "k string, ts long, v string")
        jobs.merge_latest_into_state(state, df, keys=["k"], order_cols=["ts", "v"])

    merge_batch([("a", 10, "a-new"), ("b", 5, "b-old")])
    merge_batch([("a", 3, "a-stale"), ("b", 9, "b-new")])  # a is out-of-order
    got = {(r.k, r.ts, r.v) for r in spark.read.parquet(state).collect()}
    assert got == {("a", 10, "a-new"), ("b", 9, "b-new")}

    merge_batch([("a", 3, "a-stale"), ("b", 9, "b-new")])  # replay
    got2 = {(r.k, r.ts, r.v) for r in spark.read.parquet(state).collect()}
    assert got2 == got


def test_interval_join_outer_stream_emits_unmatched(spark, tmp_path):
    """LEFT OUTER interval join in stream mode: matched pairs equal the
    batch join exactly; unmatched (null-padded) clicks emit once the
    right watermark closes their interval — every click whose interval
    closed strictly before the final watermark must have emitted, and
    nothing outside the batch answer may appear."""
    from datetime import timedelta

    from pyspark.sql import functions as F

    import listenbrainz_server_spark.streaming.jobs as jobs
    from listenbrainz_server_spark.catalog import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    args = dict(
        key=("user_id", "p_user_id"),
        left_ts="c_ts",
        right_ts="p_ts",
        upper="4 hours",
        watermark="2 hours",
    )
    batch = jobs.interval_join_outer(clicks, purchases, **args).collect()
    batch_matched = sorted(
        (r.click_id, r.purchase_id) for r in batch if r.purchase_id is not None
    )
    batch_unmatched = {
        (r.click_id, r.c_ts) for r in batch if r.purchase_id is None
    }
    assert batch_matched and batch_unmatched, "fixture must exercise both sides"

    c_dir, p_dir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    clicks.write.parquet(c_dir)
    purchases.write.parquet(p_dir)
    got_df = jobs.interval_join_outer(
        jobs.read_parquet_stream(spark, c_dir, clicks.schema),
        jobs.read_parquet_stream(spark, p_dir, purchases.schema),
        **args,
    )
    q = (
        got_df.writeStream.format("memory")
        .queryName("ijo_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("ijo_sink").collect()
    got_matched = sorted(
        (r.click_id, r.purchase_id) for r in got if r.purchase_id is not None
    )
    got_unmatched = {r.click_id for r in got if r.purchase_id is None}

    assert got_matched == batch_matched
    # Final global watermark = min over inputs of (max event time - delay).
    max_c = max(r.c_ts for r in clicks.collect())
    max_p = max(r.p_ts for r in purchases.collect())
    wm = min(max_c, max_p) - timedelta(hours=2)
    must_emit = {
        cid
        for cid, c_ts in batch_unmatched
        # 1s slack on the boundary to stay robust to watermark rounding.
        if c_ts + timedelta(hours=4, seconds=1) < wm
    }
    batch_unmatched_ids = {cid for cid, _ in batch_unmatched}
    assert must_emit <= got_unmatched <= batch_unmatched_ids


def test_quality_gate_stream_equals_batch(spark, tmp_path):
    """The quality gate is stateless, so streaming it over the
    documents table file-by-file must admit exactly the docs the batch
    form admits — in every micro-batch, with no watermark or state."""
    import listenbrainz_server_spark.streaming.jobs as jobs
    from listenbrainz_server_spark.catalog import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text", "source"
    )
    batch_ids = _rows(jobs.quality_gate(docs), ["doc_id"])
    assert 0 < len(batch_ids) < docs.count()  # gate discriminates

    doc_dir = str(tmp_path / "doc_stream")
    docs.repartition(3).write.mode("overwrite").parquet(doc_dir)
    stream = jobs.read_parquet_stream(
        spark, doc_dir, spark.read.parquet(doc_dir).schema, max_files=1
    )
    q = (
        jobs.quality_gate(stream)
        .writeStream.format("memory")
        .queryName("quality_gate_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = _rows(spark.table("quality_gate_sink"), ["doc_id"])
    assert got == batch_ids


def test_cdc_tombstone_blocks_resurrection(spark, tmp_path):
    """CDC retraction semantics: a tombstone is STORED with its
    version, so a replayed/out-of-order micro-batch carrying an OLDER
    upsert of the key cannot resurrect it — and a NEWER upsert can
    legitimately re-create the key."""
    from listenbrainz_server_spark.streaming import jobs

    state = str(tmp_path / "state")

    def merge_batch(rows):
        df = spark.createDataFrame(rows, "k string, ts long, op string")
        jobs.merge_latest_into_state(state, df, keys=["k"], order_cols=["ts"])

    def live():
        df = spark.read.parquet(state)
        return {(r.k, r.ts) for r in df.where(df.op != "D").collect()}

    merge_batch([("a", 10, "D"), ("b", 5, "U")])
    merge_batch([("a", 3, "U")])  # out-of-order older upsert
    assert live() == {("b", 5)}  # 'a' stays dead
    merge_batch([("a", 12, "U")])  # genuinely newer upsert
    assert live() == {("a", 12), ("b", 5)}


def test_st_cdc_merge_stream_equals_batch(spark):
    """The drained streaming CDC state must equal i_cdc_merge's batch
    answer row-for-row (same declared changelog derivation)."""
    from listenbrainz_server_spark.queries import load_all

    reg = load_all()
    from tests.conftest import SF_SMOKE

    batch = [tuple(r) for r in reg["i_cdc_merge"].fn(spark, SF_SMOKE).collect()]
    stream = [tuple(r) for r in reg["st_cdc_merge"].fn(spark, SF_SMOKE).collect()]
    assert stream == batch


def test_session_cdc_split_shrink_erase(spark, tmp_path):
    """Delete-retraction semantics at event granularity: removing the
    bridge event SPLITS a session in two, removing an edge event
    SHRINKS it, removing the only event ERASES it — none of which
    Spark's native session_window state (merged [start,end,agg]) can
    express."""
    from datetime import datetime

    from listenbrainz_server_spark.streaming.jobs import read_parquet_stream
    from listenbrainz_server_spark.streaming.stateful import session_cdc

    t = lambda m: datetime(2024, 1, 1, m // 60, m % 60)  # noqa: E731
    schema = "user_id bigint, event_id bigint, ts timestamp, op string"
    # u1: 0/25/50-min chain bridged by eid=2 -> delete splits it.
    # u2: two events, delete the later -> session shrinks to one.
    # u3: single event deleted -> no session at all.
    ups = [
        (1, 1, t(0), "U"), (1, 2, t(25), "U"), (1, 3, t(50), "U"),
        (2, 4, t(0), "U"), (2, 5, t(5), "U"),
        (3, 6, t(0), "U"),
    ]
    dels = [(1, 2, t(40), "D"), (2, 5, t(20), "D"), (3, 6, t(10), "D")]
    sentinel = [(0, 0, t(360), "F")]

    log = str(tmp_path / "log")
    for rows in (ups, dels, sentinel):  # sequential mtimes = replay order
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(log)

    q = (
        session_cdc(
            read_parquet_stream(spark, log, spark.read.parquet(log).schema,
                                max_files=1),
            watermark="30 minutes",
        )
        .writeStream.format("memory")
        .queryName("session_cdc_unit")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("session_cdc_unit").collect()
    }
    assert got == {
        (1, t(0), t(30), 1),   # split: left half of the broken chain
        (1, t(50), t(80), 1),  # split: right half
        (2, t(0), t(30), 1),   # shrink: survivor keeps the session
    }  # u3 erased entirely


def test_session_cdc_same_timestamp_delete_wins(spark, tmp_path):
    """A delete stamped with the SAME timestamp as its upsert — common
    when a CDC feed copies the source row's timestamp onto the
    tombstone — must still retract the event. Lexicographic op order
    ('D' < 'U') would apply the delete first and let the event survive
    (r9 advisor finding); ops are rank-ordered U-before-D on ts ties."""
    from datetime import datetime

    from listenbrainz_server_spark.streaming.jobs import read_parquet_stream
    from listenbrainz_server_spark.streaming.stateful import session_cdc

    t = lambda m: datetime(2024, 1, 1, m // 60, m % 60)  # noqa: E731
    schema = "user_id bigint, event_id bigint, ts timestamp, op string"
    # u1: keeper at t0 plus a same-trigger same-timestamp U/D pair at
    # t5 — the pair must cancel, leaving a 1-event session.
    # u2: ONLY a same-timestamp U/D pair -> erased entirely.
    batch = [
        (1, 1, t(0), "U"), (1, 2, t(5), "U"), (1, 2, t(5), "D"),
        (2, 3, t(0), "U"), (2, 3, t(0), "D"),
    ]
    sentinel = [(0, 0, t(360), "F")]

    log = str(tmp_path / "log")
    for rows in (batch, sentinel):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(log)

    q = (
        session_cdc(
            read_parquet_stream(spark, log, spark.read.parquet(log).schema,
                                max_files=1),
            watermark="30 minutes",
        )
        .writeStream.format("memory")
        .queryName("session_cdc_ts_tie")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("session_cdc_ts_tie").collect()
    }
    assert got == {(1, t(0), t(30), 1)}  # u2 erased, u1's t5 retracted


def test_session_cdc_vec_matches_reference(spark, tmp_path, monkeypatch):
    """The vectorized state update (production path) and the per-row
    reference implementation produce identical session sets on a
    mixed fixture: multi-session users, same-timestamp U/D ties,
    re-inserts after delete, cross-trigger retractions (max_files=1
    forces the delete file into a later trigger than its upsert)."""
    from datetime import datetime

    import listenbrainz_server_spark.streaming.stateful as stf
    from listenbrainz_server_spark.streaming.jobs import read_parquet_stream

    t = lambda m: datetime(2024, 1, 1, m // 60, m % 60)  # noqa: E731
    schema = "user_id bigint, event_id bigint, ts timestamp, op string"
    # File phases keep every op inside the watermark (wm after a file
    # = its max ts - 30 min): first-session upserts, then the
    # retraction batch, then second-session upserts 2 h later, then
    # the flush sentinel. Distinct eids per session.
    ups1 = [
        (u, u * 100 + i, t(i * 5), "U") for u in (1, 2, 3) for i in range(4)
    ]
    dels = [
        (1, 102, t(20), "D"),  # shrink u1's first session
        (2, 200, t(0), "D"),   # same-ts-as-upsert delete (tie rule)
        (3, 301, t(10), "D"),  # delete then re-insert below
        (3, 301, t(12), "U"),  # re-insert shifts the event to 0:12
    ]
    ups2 = [
        (u, u * 100 + 10 + i, t(120 + i * 5), "U")
        for u in (1, 2, 3)
        for i in range(4)
    ]
    sentinel = [(0, 0, t(600), "F")]

    log = str(tmp_path / "log")
    for rows in (ups1, dels, ups2, sentinel):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(log)

    def drain(sink: str) -> set:
        q = (
            stf.session_cdc(
                read_parquet_stream(
                    spark, log, spark.read.parquet(log).schema, max_files=1
                ),
                watermark="30 minutes",
            )
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{sink}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.table(sink).collect()
        }

    results = {True: drain("cdc_eq_vec")}
    # monkeypatch restores the vectorized update after the test, even
    # when the reference drain fails.
    monkeypatch.setattr(
        stf, "_make_session_cdc_update_vec", stf._make_session_cdc_update
    )
    results[False] = drain("cdc_eq_ref")
    assert results[True] == results[False]
    assert results[True] == {
        (1, t(0), t(45), 3),    # 102 deleted
        (2, t(5), t(45), 3),    # 200's same-ts delete won
        (3, t(0), t(45), 4),    # 301 deleted then re-inserted at 0:12
        (1, t(120), t(165), 4),
        (2, t(120), t(165), 4),
        (3, t(120), t(165), 4),
    }
