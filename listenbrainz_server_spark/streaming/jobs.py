"""Structured Streaming jobs.

The reference has no Structured Streaming — its incremental model is
batch-incremental with explicit state (SURVEY.md §2.9). This module
provides the Spark-native streaming equivalents of its semantics:

- file-source append log (the ``incremental/`` daily Parquet appends,
  listens/dump.py:219-249) → ``read_parquet_stream``;
- watermarked event-time windowed aggregation (the ``created``
  high-water-mark filter, stats/incremental/user/entity.py:44-53) →
  ``windowed_counts``;
- session windows (the batch window-function sessionization,
  similarity/recording/common.py:95-103) → ``session_aggregate``
  using Spark's native ``session_window`` state merging.

Every transformation here works identically on batch DataFrames —
the queries layer runs them in batch mode for oracle checks, and
tests/test_streaming.py proves stream-mode ≡ batch-mode on the same
input (the property that makes the engine's incremental semantics
trustworthy).

The ``availableNow`` sinks block until the drain ends: such a run
stops by itself once the source is consumed, and a failed run raises
``StreamingQueryException``, so no sink returns while its query still
runs.

Scale notes: watermarks bound state (late events beyond the watermark
drop); session_window state is per-user and merges on arrival — at
1000 executors the state store partitions on the grouping key, so
skewed users are the thing to watch (cap session length upstream).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_parquet_stream(
    spark: SparkSession, path: str, schema: StructType, max_files: int = 16
) -> DataFrame:
    """File-source stream over a Parquet append log."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


@contextmanager
def state_partition_conf(spark: SparkSession, n: int | None):
    """Pin ``spark.sql.shuffle.partitions`` for the duration of a
    streaming job start+drain, restoring the session value after.

    Why this is a first-class knob and not a fixture tune: the state
    store's partition count is frozen from ``shuffle.partitions`` at
    the FIRST checkpoint, and every trigger pays one task + one state
    commit per partition forever after. For stateful aggregations the
    exchange feeding the store carries only map-side-combined partials
    (|windows × keys| rows, not events), so the right size tracks
    STATE CARDINALITY, not input volume — a sliding-count job with a
    handful of keys wants ~8 partitions whether it ingests 60k rows or
    100 TB (event parallelism comes from the source split, upstream of
    the partial agg). Measured on st_trending_ranked (4 triggers,
    sf0.1): 32 → 8 state partitions cut wall 8.5 → 5.2 s with
    identical output. Exception: applyInPandasWithState ships FULL
    rows to the state partitioning (no partial agg), so there the
    count must also cover the Python-stage parallelism — size to
    key-cardinality / keys-per-task, not below the source split you
    need.
    """
    if n is None:
        yield
        return
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    group_cols: list[str],
    window: str = "1 hour",
) -> DataFrame:
    """Event-time tumbling-window counts (+sum of ``value`` when
    present). Watermark bounds streaming state; harmless in batch."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, "2 hours")
    aggs = [F.count(F.lit(1)).alias("n")]
    if "value" in df.columns:
        aggs.append(F.sum("value").alias("total_value"))
    return df.groupBy(F.window(ts_col, window).alias("w"), *group_cols).agg(*aggs)


def session_aggregate(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "30 minutes",
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """Native session-window aggregation: events within ``gap`` of the
    running session end merge; state is per-``user_col``."""
    if df.isStreaming:
        df = df.withWatermark(ts_col, "2 hours")
    aggs = [F.count(F.lit(1)).alias("n_events")] + list(extra_aggs or [])
    return df.groupBy(
        F.session_window(F.col(ts_col), gap).alias("sw"), F.col(user_col)
    ).agg(*aggs)


def sliding_trending(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window: str = "2 hours",
    slide: str = "1 hour",
    top_k: int | None = None,
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Sliding-window trending top-k: per overlapping event-time
    window, the ``top_k`` keys by count (deterministic (n desc, key)
    total order). Each event lands in window/slide windows (Spark's
    F.window overlap explode); the rank runs per-window over the
    COUNT-reduced frame, so the window only ever orders
    |keys-per-window| rows.

    Streaming: row_number is a non-time window and is unsupported on
    streaming DataFrames, so when ``df.isStreaming`` this returns ONLY
    the stateful stage — the watermark-bounded overlapping-window
    counts ``(w, key, n)`` — and the caller ranks on the drained sink
    (tests/test_streaming.py does exactly that and proves the split
    reproduces the batch report). Batch inputs get the full ranked
    report.
    """
    if df.isStreaming:
        if top_k is not None:
            # None is the explicit "default" sentinel, so ANY
            # caller-supplied top_k on a stream gets the signal that
            # the ranking stage was dropped (a `!= 3` check would
            # swallow an explicit top_k=3, and drift if the default
            # changed).
            import warnings

            warnings.warn(
                "sliding_trending: top_k is ignored on streaming inputs "
                "— only the stateful (w, key, n) count stage is returned; "
                "rank on the drained sink or use "
                "trending_rank_sink() for an in-stream ranked top-k",
                stacklevel=2,
            )
        if watermark is not None:
            df = df.withWatermark(ts_col, watermark)
        return df.groupBy(
            F.window(ts_col, window, slide).alias("w"), F.col(key_col)
        ).agg(F.count(F.lit(1)).alias("n"))
    counts = df.groupBy(
        F.window(ts_col, window, slide).alias("w"), F.col(key_col)
    ).agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    rk = W.partitionBy("w").orderBy(F.col("n").desc(), F.col(key_col))
    return (
        counts.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .where(F.col("rank") <= (3 if top_k is None else top_k))
        .select(
            F.col("w.start").alias("w_start"),
            F.col(key_col),
            "n",
            "rank",
        )
    )


def trending_rank_sink(
    stream_df: DataFrame,
    ts_col: str,
    key_col: str,
    counts_path: str,
    ranked_path: str,
    top_k: int = 3,
    watermark: str | None = "2 hours",
    state_partitions: int | None = None,
) -> None:
    """In-stream ranked trending top-k over 2-hour windows sliding by
    1 hour: close the gap ``sliding_trending`` leaves on streams, where
    row_number is a non-time window and unsupported, by ranking inside
    a ``foreachBatch`` sink — the ``st_upsert_latest`` pattern.

    Per micro-batch (update mode, so each emitted row is the NEW
    running total for its (window, key)):

    1. flatten ``(w, key, n)`` → ``(w_start, key, n)`` and LWW-merge
       into the counts state with ``order_cols=["n"]`` — per-key counts
       are monotone non-decreasing across triggers, so argmax-by-n IS
       latest-wins, and a replayed batch re-merges idempotently;
    2. rank the merged state (row_number per ``w_start`` by
       ``(n desc, key)`` — the exact batch total order), keep
       ``rank <= top_k``, atomic-swap into ``ranked_path``.

    The ranked output therefore always reflects every window the
    stream has emitted so far, converging to the batch
    ``sliding_trending`` report once the source drains
    (tests/test_streaming.py pins stream ≡ batch on the RANKED
    output). Scale: the rank runs over the count-reduced state
    (|windows| × |keys| rows, never raw events), and the merge is
    keyed on (w_start, key) — one window + one swap per trigger.
    ``state_partitions`` sizes the state store to state cardinality
    (see ``state_partition_conf``); it also governs the foreachBatch
    merge/rank plans, which only ever shuffle the count-reduced state.
    """
    from pyspark.sql import Window as W

    from listenbrainz_server_spark.sources.sinks import atomic_swap_write

    counts = sliding_trending(
        stream_df, ts_col, key_col, window="2 hours", slide="1 hour",
        watermark=watermark,
    )

    def rank_and_upsert(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        flat = batch_df.select(
            F.col("w.start").alias("w_start"), F.col(key_col), "n"
        )
        merge_latest_into_state(
            counts_path, flat, keys=["w_start", key_col], order_cols=["n"]
        )
        state = batch_df.sparkSession.read.parquet(counts_path)
        rk = W.partitionBy("w_start").orderBy(F.col("n").desc(), F.col(key_col))
        ranked = state.withColumn(
            "rank", F.row_number().over(rk).cast("bigint")
        ).where(F.col("rank") <= top_k)
        # Lineage reads counts_path, not ranked_path — no checkpoint
        # needed even under the swap's rename discipline.
        atomic_swap_write(ranked, ranked_path)

    with state_partition_conf(stream_df.sparkSession, state_partitions):
        q = (
            counts.writeStream.outputMode("update")
            .foreachBatch(rank_and_upsert)
            .trigger(availableNow=True)
            .option("checkpointLocation", counts_path.rstrip("/") + "__ckpt")
            .start()
        )
        q.awaitTermination()


def stream_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """Streaming exact dedup: dropDuplicatesWithinWatermark on the
    identity keys — the streaming analog of the reference's ON CONFLICT
    identity insert (timescale_listenstore.py:170-176) and this
    engine's batch exact_dedup.

    Watermark bounds the dedup state store: a duplicate arriving later
    than the 2-hour watermark after the original is NOT suppressed (and a
    correctly configured upstream should not produce one) — that is the
    state-size/completeness trade every streaming dedup makes. In batch
    mode plain dropDuplicates gives the exact answer.
    """
    if df.isStreaming:
        return df.withWatermark(ts_col, "2 hours").dropDuplicatesWithinWatermark(
            key_cols
        )
    return df.dropDuplicates(key_cols)


def foreach_batch_upsert(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    sum_cols: list[str],
) -> None:
    """Drain a stream into a Parquet aggregate-state sink via
    ``foreachBatch``: each micro-batch is pre-aggregated (map-side
    partial per batch), combined with the existing state by
    UNION ALL + re-GROUP BY + SUM, and atomically swapped into place —
    the streaming form of the reference's partial+delta combine
    (stats/incremental/user/artist.py:50-73) over its swap-on-write
    sink (listens/dump.py:204-208).

    foreachBatch runs the combine as a BATCH plan per micro-batch, so
    arbitrary sinks and multi-step merges are available where
    writeStream's built-in sinks are not; exactly-once comes from the
    atomic swap (a replayed batch re-merges idempotently only if the
    upstream replays whole batches — the availableNow/file-source
    case).
    """
    from listenbrainz_server_spark.operators.aggregates import combine_aggregates
    from listenbrainz_server_spark.sources.sinks import atomic_swap_write

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = batch_df.groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in sum_cols]
        )
        import os

        if os.path.exists(state_path):
            existing = spark.read.parquet(state_path)
            merged = combine_aggregates(existing, delta, keys, sum_cols)
        else:
            merged = delta
        # Self-referential plan (reads state_path) is safe without a
        # checkpoint: atomic_swap_write materializes into a __tmp
        # sibling BEFORE any rename touches state_path.
        atomic_swap_write(merged, state_path)

    q = (
        stream_df.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .option("checkpointLocation", state_path.rstrip("/") + "__ckpt")
        .start()
    )
    q.awaitTermination()


def merge_latest_into_state(
    state_path: str,
    batch_df: DataFrame,
    keys: list[str],
    order_cols: list[str],
) -> None:
    """One last-write-wins merge step (the ``foreachBatch`` body of
    ``foreach_batch_merge_latest``, public for batch use and tests):
    state ← argmax over state ∪ batch per key, ordered by
    ``order_cols`` desc. Monotone, hence idempotent under replay and
    immune to out-of-order batches carrying older versions."""
    import os

    from pyspark.sql import Window

    from listenbrainz_server_spark.sources.sinks import atomic_swap_write

    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])

    def _latest(df: DataFrame) -> DataFrame:
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )

    winners = _latest(batch_df)
    if os.path.exists(state_path):
        existing = batch_df.sparkSession.read.parquet(state_path)
        merged = _latest(existing.unionByName(winners))
    else:
        merged = winners
    # Self-referential plan (reads state_path) needs no checkpoint:
    # atomic_swap_write's write-to-__tmp completes before the renames.
    atomic_swap_write(merged, state_path)


def foreach_batch_merge_latest(
    stream_df: DataFrame,
    state_path: str,
    keys: list[str],
    order_cols: list[str],
) -> None:
    """CDC-style last-write-wins MERGE sink via ``foreachBatch``: the
    state keeps exactly one row per key — the version with the highest
    ``order_cols`` (e.g. event time, then a unique id tie-break) seen
    so far across all micro-batches.

    This is the replace-semantics sibling of ``foreach_batch_upsert``
    (which adds): the streaming form of the reference's registry upsert
    (listens/dump.py:188-208 / sinks.registry_upsert, S14). The merge
    is NOT the naive "delete matched keys, insert batch" — it takes the
    argmax over state ∪ batch, so an out-of-order micro-batch carrying
    an older version of a key cannot clobber newer state, and a
    replayed batch re-merges idempotently (same winners). Per batch:
    one window over the micro-batch, one window over state ∪ winners,
    atomic swap — all keyed on the merge key.
    """
    def merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_latest_into_state(state_path, batch_df, keys, order_cols)

    q = (
        stream_df.writeStream.foreachBatch(merge)
        .trigger(availableNow=True)
        .option("checkpointLocation", state_path.rstrip("/") + "__ckpt")
        .start()
    )
    q.awaitTermination()


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str | tuple[str, str],
    left_ts: str,
    right_ts: str,
    upper: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval equi join: pair each left event with the
    right events of the same ``key`` arriving in ``[left_ts, left_ts +
    upper]`` — the attribution-join shape (click → purchase within the
    window). ``how="left_outer"`` also emits the left rows with no
    match in their interval, right side null (the unattributed-clicks
    shape).

    In stream mode BOTH sides carry 2-hour watermarks and the join
    condition bounds event-time distance, so Spark's state store evicts
    a buffered row as soon as the other side's watermark passes its
    interval — state is bounded by the watermark plus ``upper`` of
    traffic, never the stream history. In batch mode the same plan is a
    plain range-predicate join (AQE free to pick the strategy).

    The outer form's semantics are watermark-driven in stream mode:
    Spark can only declare a left row unmatched once the right
    watermark has passed the row's whole interval, so null-padded rows
    surface with watermark delay, and the final micro-batch of a
    bounded run may retain tail rows in state — the batch form is the
    converged answer. Both sides MUST carry watermarks and the
    condition must bound event-time distance or the unmatched check
    never closes; Spark rejects the query otherwise.

    The reference has no stream-stream joins (its request-queue model
    recomputes batch joins); this is the Structured Streaming native
    equivalent of its "combine events from two incremental feeds"
    pattern (SURVEY.md §2.9).
    """
    lkey, rkey = (key, key) if isinstance(key, str) else key
    if left.isStreaming:
        left = left.withWatermark(left_ts, "2 hours")
    if right.isStreaming:
        right = right.withWatermark(right_ts, "2 hours")
    cond = (
        (left[lkey] == right[rkey])
        & (right[right_ts] >= left[left_ts])
        & (right[right_ts] <= left[left_ts] + F.expr(f"INTERVAL {upper}"))
    )
    return left.join(right, cond, how)
