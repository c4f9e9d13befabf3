"""Physical layout and execution queries: `x_zorder_key` (Morton
clustering key), `x_compaction_plan`, `x_zone_map_report`, and
`x_chunked_pairs`, the chunked-execution harness checked equal to the
unchunked plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.queries import register


# --------------------------------------------------------------------------
# Z-order (Morton) layout key — multi-dimensional clustering for scan
# pruning: interleaving the bits of (user bucket, hour bucket) gives a
# single sort key under which BOTH a user-range filter and a
# time-range filter touch few contiguous files — the 100 TB data-
# layout lever Spark itself doesn't ship (Delta/Iceberg OPTIMIZE
# ZORDER compute exactly this key and sort by it). Pure bit
# arithmetic, map-only; writing the table back sorted by zkey is the
# S9 partitioned-sink path. 8 bits per dimension → 16-bit key.
# --------------------------------------------------------------------------
def _zorder_sql() -> str:
    terms = " + ".join(
        f"(((user_id % 256) // {1 << i}) % 2) * {1 << (2 * i)} + "
        f"(((CAST(FLOOR(epoch(ts)) AS BIGINT) // 3600) % 256) // {1 << i}) % 2 * {1 << (2 * i + 1)}"
        for i in range(8)
    )
    return f"""
    SELECT event_id, user_id,
           CAST({terms} AS BIGINT) AS zkey
    FROM events
    """


@register(
    "x_zorder_key",
    _zorder_sql(),
    doc="Morton z-order key over (user bucket, hour bucket) — the "
    "multi-dim clustering sort key for layout-level scan pruning",
)
def x_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    u = F.col("user_id") % 256
    h = (F.unix_timestamp("ts") / 3600).cast("bigint") % 256
    zkey = F.lit(0).cast("bigint")
    for i in range(8):
        zkey = (
            zkey
            + (F.floor(u / (1 << i)) % 2) * (1 << (2 * i))
            + (F.floor(h / (1 << i)) % 2) * (1 << (2 * i + 1))
        )
    return ev.select("event_id", "user_id", zkey.cast("bigint").alias("zkey"))


# --------------------------------------------------------------------------
# Small-file compaction planner — the table-maintenance pass every
# large parquet corpus needs (Iceberg/Delta "rewrite small files", or
# the reference's per-dump repartition before upload): greedily packs
# each source partition's documents, in deterministic doc_id order,
# into target-size output files and reports the resulting layout.
# The bin id is pure arithmetic on a per-source prefix sum —
# floor(bytes_before / target) — so planning is ONE window + ONE
# aggregate, no driver loop, no sort beyond the per-partition window
# order; at 100 TB the plan itself stays a per-partition computation
# (source-keyed exchanges only) and the executor that writes file i
# needs only its own rows. fill_ratio > 1 marks bins whose last doc
# overflowed the target (the standard greedy-packing tail).
# --------------------------------------------------------------------------
_COMPACT_TARGET = 2048  # bytes per output file at fixture scale


@register(
    "x_compaction_plan",
    f"""
    WITH sized AS (
        SELECT source, doc_id, n_chars,
               SUM(n_chars) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cum
        FROM documents
    )
    SELECT source,
           CAST((cum0 // {_COMPACT_TARGET}) AS BIGINT) AS file_idx,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS file_bytes,
           ROUND(SUM(n_chars) * 1.0 / {_COMPACT_TARGET}, 4) AS fill_ratio
    FROM (SELECT source, n_chars, cum - n_chars AS cum0 FROM sized)
    GROUP BY source, cum0 // {_COMPACT_TARGET}
    """,
    doc=f"compaction plan: greedy sequential packing of each source's "
    f"docs into {_COMPACT_TARGET}-byte target files via a prefix-sum "
    "bin id (one window + one aggregate; source-keyed only)",
)
def x_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    binned = docs.select(
        "source",
        "n_chars",
        (F.sum("n_chars").over(w) - F.col("n_chars")).alias("cum0"),
    ).withColumn("file_idx", F.expr(f"cum0 div {_COMPACT_TARGET}"))
    return binned.groupBy("source", "file_idx").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("file_bytes"),
        F.round(
            F.sum("n_chars") * 1.0 / _COMPACT_TARGET, 4
        ).alias("fill_ratio"),
    ).select("source", F.col("file_idx").cast("bigint").alias("file_idx"),
             "n_docs", "file_bytes", "fill_ratio")


# --------------------------------------------------------------------------
# Zone-map / file-skipping report — the scan-pruning observability
# query: per (event_type, day) zone, min/max of the value column and
# whether a representative predicate (value >= 400) could SKIP the
# zone entirely (vmax < 400 ⇒ no row can match — exactly the
# parquet row-group / Iceberg manifest pruning rule). At 100 TB this
# is how you audit whether your partition layout actually prunes: a
# skippable_share near 0 says the predicate column is spread across
# every zone and the layout (or a z-order on that column —
# x_zorder_key) needs to change. Map-side-combinable min/max/count
# only; one zone-keyed exchange.
# --------------------------------------------------------------------------
@register(
    "x_zone_map_report",
    """
    WITH zones AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS n_rows, MIN(value) AS vmin, MAX(value) AS vmax
        FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT SUM(n_rows) AS total FROM zones)
    SELECT event_type, day, CAST(n_rows AS BIGINT) AS n_rows,
           vmin, vmax,
           (vmax < 400.0) AS skippable,
           ROUND(n_rows * 1.0 / total, 6) AS row_share
    FROM zones, tot
    """,
    doc="zone-map report: per (event_type, day) min/max/count of "
    "value + skippability under value >= 400 (scan-pruning audit; "
    "map-side-combinable stats, one zone-keyed exchange)",
)
def x_zone_map_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    zones = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    tot = zones.agg(F.sum("n_rows").alias("total"))
    return zones.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "day",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        "vmin",
        "vmax",
        (F.col("vmax") < 400.0).alias("skippable"),
        F.round(F.col("n_rows") * 1.0 / F.col("total"), 6).alias("row_share"),
    )


# --------------------------------------------------------------------------
# Chunked-harness execution through the correctness gate: the MLHD
# 16-chunk pattern (plans/chunked.py) must be invisible to results —
# oracle is the plain unchunked pair count.
# --------------------------------------------------------------------------
@register(
    "x_chunked_pairs",
    """
    WITH gaps AS (
        SELECT user_id, event_id, ts, event_type,
               DATE_DIFF('second', LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
        FROM events
    ),
    sessions AS (
        SELECT user_id, event_type,
               SUM(CASE WHEN gap_s > 1800 THEN 1 ELSE 0 END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        FROM gaps
    )
    SELECT a.event_type AS item_a, b.event_type AS item_b, COUNT(*) AS score
    FROM sessions a
    JOIN sessions b ON a.user_id = b.user_id AND a.session_id = b.session_id
                    AND a.event_type < b.event_type
    GROUP BY 1, 2
    """,
    doc="chunked execution harness ≡ unchunked (4 hash chunks, parquet barriers)",
)
def x_chunked_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from listenbrainz_server_spark.operators.sessionize import (
        session_pairs,
        with_session_ids,
    )
    from listenbrainz_server_spark.plans.chunked import run_chunked

    ev = load_table(spark, sf_dir, "events")

    def per_chunk(df: DataFrame) -> DataFrame:
        sess = with_session_ids(df, "user_id", "ts", 1800, tiebreak=("event_id",))
        return session_pairs(sess, "user_id", "session_id", "event_type")

    return run_chunked(
        spark,
        ev,
        key_col="user_id",
        n_chunks=4,
        per_chunk=per_chunk,
        state_dir=tempfile.mkdtemp(prefix="lbs_chunk_"),
        combine=lambda df: df.groupBy("item_a", "item_b").agg(
            F.sum("score").cast("bigint").alias("score")
        ),
    )
