"""Incremental-engine queries: the full partial/delta/combine lifecycle
run end-to-end with real Parquet state, checked against a direct
(non-incremental) DuckDB aggregate — the recompute-equivalence
invariant (SURVEY.md §7.4 hard part #1).
"""

from __future__ import annotations

import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.incremental.engine import IncrementalEngine, IncrementalStat
from listenbrainz_server_spark.queries import register
from listenbrainz_server_spark.session import scratch_root

_CUTOFF = "2024-01-20"


def _state_dir(spark: SparkSession, sf_dir: str) -> str:
    """Process-lifetime incremental state dir under the scratch root,
    one subdir per input dataset (a partial built over sf0.001 must
    never satisfy the freshness check for an sf0.01 run — the date
    range alone matches). A stable path, so a later call in the same
    process reuses the stored partial.

    Outlives the returned DataFrame's lazy plan (the plan reads the
    Parquet partial on execution — a driver-side collect to 'rescue'
    rows from a vanishing temp dir would be a hot-path anti-pattern at
    aggregate cardinality ×100)."""
    sub = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return os.path.join(scratch_root(spark), "incr_state", sub)


def _user_type_stat() -> IncrementalStat:
    return IncrementalStat(
        name="user_event_counts",
        aggregate=lambda df: df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("listen_count"),
            F.sum("value").alias("total_value"),
        ),
        keys=("user_id", "event_type"),
        sum_cols=("listen_count", "total_value"),
    )


# --------------------------------------------------------------------------
# Full lifecycle: base partial (< cutoff) persisted to Parquet state,
# delta (>= cutoff) aggregated and combined. Equals the direct agg.
# --------------------------------------------------------------------------
@register(
    "i_incremental_lifecycle",
    """
    SELECT user_id, event_type,
           COUNT(*) AS listen_count,
           ROUND(SUM(value), 2) AS total_value
    FROM events
    GROUP BY user_id, event_type
    """,
    doc="incremental engine lifecycle: partial+delta+combine ≡ full recompute "
    "(incremental_stats_engine.py:86-227)",
)
def i_incremental_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    engine = IncrementalEngine(spark, _state_dir(spark, sf_dir))
    stat = _user_type_stat()
    combined = engine.run(
        stat,
        full_df=ev.where(F.col("ts") < cutoff),
        delta_df=ev.where(F.col("ts") >= cutoff),
        from_date="2024-01-01",
        to_date="2024-02-01",
        created="2024-01-20",
    )
    return combined.select(
        "user_id",
        "event_type",
        F.col("listen_count").cast("bigint").alias("listen_count"),
        F.round("total_value", 2).alias("total_value"),
    )


# --------------------------------------------------------------------------
# Affected-key pruning: stats recomputed ONLY for users in the delta
# (only_inc mode, stats/incremental/user/entity.py:38-53).
# --------------------------------------------------------------------------
@register(
    "i_affected_key_pruning",
    f"""
    WITH delta_users AS (
        SELECT DISTINCT user_id, event_type FROM events
        WHERE ts >= TIMESTAMP '{_CUTOFF} 00:00:00'
    )
    SELECT e.user_id, e.event_type, COUNT(*) AS listen_count
    FROM events e
    JOIN delta_users d
      ON e.user_id = d.user_id AND e.event_type = d.event_type
    GROUP BY e.user_id, e.event_type
    """,
    doc="only-incremental affected-key pruning (user/entity.py:38-53)",
)
def i_affected_key_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    engine = IncrementalEngine(spark, _state_dir(spark, sf_dir))
    stat = IncrementalStat(
        name="user_event_counts_pruned",
        aggregate=lambda df: df.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("listen_count")
        ),
        keys=("user_id", "event_type"),
        sum_cols=("listen_count",),
    )
    combined = engine.run(
        stat,
        full_df=ev.where(F.col("ts") < cutoff),
        delta_df=ev.where(F.col("ts") >= cutoff),
        from_date="2024-01-01",
        to_date="2024-02-01",
        created="2024-01-20",
        only_affected=True,
    )
    return combined.select(
        "user_id", "event_type", F.col("listen_count").cast("bigint").alias("listen_count")
    )


# --------------------------------------------------------------------------
# i_cdc_merge: changelog application with full insert / update /
# delete semantics — the batch MERGE INTO analog (Delta/Iceberg MERGE,
# Flink upsert-compaction). The reference's incremental-dump flow
# (listenbrainz_spark/dump loaders) only ever appends; a real CDC feed
# also retracts, and the engine needs the keyed apply:
#
#   final(key) = CASE latest-op(key)
#                  WHEN none THEN base(key)            -- untouched
#                  WHEN 'D'  THEN <absent>             -- retracted
#                  ELSE      changelog row (upsert)    -- I/U
#
# "latest" is a (version, tiebreak) max PER KEY — computed as a
# max(struct(...)) aggregate, not a row_number window, so the per-key
# reduction is map-side combinable (the same argmax-as-aggregate trade
# g_label_prop documents: a window's required sort/distribution would
# re-shuffle; an aggregate partial-combines every task's changelog
# slice before the one keyed exchange).
#
# Fixture derivation (declared, deterministic): state = one row per
# customer; base = latest order per customer before 1997-01-01;
# changelog = orders from 1997 on, op 'D' when o_orderkey % 7 = 0 else
# 'U', version = (o_orderdate, o_orderkey). Scale: one keyed exchange
# for the changelog compaction + one keyed outer join against base —
# both on the state key; nothing scans more than once.
# --------------------------------------------------------------------------
_CDC_CUTOFF = "1997-01-01"


@register(
    "i_cdc_merge",
    f"""
    WITH base AS (
        SELECT o_custkey, o_orderkey, o_totalprice FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate < DATE '{_CDC_CUTOFF}'
        ) WHERE rn = 1
    ),
    latest AS (
        SELECT o_custkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op,
               o_orderkey, o_totalprice
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
            FROM orders WHERE o_orderdate >= DATE '{_CDC_CUTOFF}'
        ) WHERE rn = 1
    )
    SELECT COALESCE(b.o_custkey, c.o_custkey) AS custkey,
           COALESCE(c.o_orderkey, b.o_orderkey) AS last_orderkey,
           ROUND(COALESCE(c.o_totalprice, b.o_totalprice), 6)
               AS last_totalprice,
           CASE WHEN c.o_custkey IS NULL THEN 'base' ELSE 'merged' END
               AS provenance
    FROM base b
    FULL OUTER JOIN latest c ON c.o_custkey = b.o_custkey
    WHERE COALESCE(c.op, '') <> 'D'
    ORDER BY custkey
    """,
    doc="CDC MERGE apply (insert/update/delete) of a derived order "
    "changelog onto a per-customer snapshot: per-key latest op via "
    "map-side-combinable max(struct) compaction, one keyed full-outer "
    "join, 'D' retracts the key entirely; provenance column audits "
    "untouched-vs-merged rows",
)
def i_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("ck"),
        F.col("o_orderkey").cast("bigint").alias("ok"),
        F.col("o_totalprice").alias("tp"),
        F.col("o_orderdate").alias("od"),
    )
    cutoff = F.lit(_CDC_CUTOFF).cast("date")

    def compact(df: DataFrame) -> DataFrame:
        # argmax-as-aggregate: one map-side-combinable reduction per
        # key instead of a row_number sort-window.
        return (
            df.groupBy("ck")
            .agg(F.max(F.struct("od", "ok", "tp")).alias("m"))
            .select("ck", F.col("m.ok").alias("ok"), F.col("m.tp").alias("tp"))
        )

    base = compact(orders.where(F.col("od") < cutoff))
    latest = compact(orders.where(F.col("od") >= cutoff)).select(
        "ck",
        F.when(F.col("ok") % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        "ok",
        "tp",
    )
    b = base.select(
        F.col("ck").alias("bck"), F.col("ok").alias("bok"), F.col("tp").alias("btp")
    )
    c = latest.select(
        F.col("ck").alias("cck"), "op", F.col("ok").alias("cok"),
        F.col("tp").alias("ctp"),
    )
    return (
        b.join(c, b.bck == c.cck, "full_outer")
        .where(F.coalesce(F.col("op"), F.lit("")) != "D")
        .select(
            F.coalesce(F.col("cck"), F.col("bck")).alias("custkey"),
            F.coalesce(F.col("cok"), F.col("bok")).alias("last_orderkey"),
            F.round(F.coalesce(F.col("ctp"), F.col("btp")), 6).alias(
                "last_totalprice"
            ),
            F.when(F.col("cck").isNull(), F.lit("base"))
            .otherwise(F.lit("merged"))
            .alias("provenance"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# i_deletion_apply: the reference's two-tier listen-deletion
# semantics (listenbrainz_spark/listens/delete.py:43,67 import jobs;
# listens/data.py:67 filter_deleted_listens), applied and audited:
#
#   tier 1 — row tombstones: exact rows anti-joined away on a
#            composite key (reference: user_id+listened_at+msid+
#            created; here: user_id+ts+event_id);
#   tier 2 — per-user history cutoff: users in deleted_user_listen_
#            history keep only rows created >= max_created (reference
#            data.py:79-84 left join + null-safe where).
#
# Instead of two destructive anti-joins, the audit TAGS each row with
# the tier that would remove it (tombstone wins, like the reference's
# apply order) — one scan, two broadcast joins, one per-type
# aggregate; the counts are the GDPR-erasure evidence a pipeline has
# to produce anyway. Deterministic fixture derivation: tombstones =
# event_id % 199 = 0; cutoff users = user_id % 7 = 0 with max_created
# = their latest 'signup' ts. Scale: tombstone and cutoff frames are
# deletion-sized (broadcast), the fact table is scanned once and
# never shuffled until the tiny per-type aggregate.
# --------------------------------------------------------------------------
@register(
    "i_deletion_apply",
    """
    WITH tomb AS (
        SELECT user_id, ts, event_id FROM events WHERE event_id % 199 = 0
    ),
    cutoff AS (
        SELECT user_id, MAX(ts) AS max_created
        FROM events
        WHERE user_id % 7 = 0 AND event_type = 'signup'
        GROUP BY user_id
    ),
    tagged AS (
        SELECT e.event_type,
               (t.event_id IS NOT NULL) AS is_tomb,
               (t.event_id IS NULL AND c.max_created IS NOT NULL
                AND e.ts < c.max_created) AS is_hist
        FROM events e
        LEFT JOIN tomb t ON t.user_id = e.user_id AND t.ts = e.ts
                        AND t.event_id = e.event_id
        LEFT JOIN cutoff c ON c.user_id = e.user_id
    )
    SELECT event_type,
           COUNT(*) AS n_before,
           COUNT(*) FILTER (is_tomb) AS n_tombstoned,
           COUNT(*) FILTER (is_hist) AS n_history_pruned,
           COUNT(*) FILTER (NOT is_tomb AND NOT is_hist) AS n_after
    FROM tagged
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="two-tier deletion apply + audit (reference listens/delete.py "
    "tombstones + per-user history cutoff, data.py:67 apply order): "
    "rows tagged by the tier that removes them, per-type before/"
    "tombstoned/history-pruned/after counts; deletion-sized broadcast "
    "frames, fact scanned once, integer-exact",
)
def i_deletion_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tomb = ev.where(F.col("event_id") % 199 == 0).select(
        F.col("user_id").alias("t_uid"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("t_eid"),
        F.lit(1).alias("t_hit"),
    )
    cutoff = (
        ev.where((F.col("user_id") % 7 == 0) & (F.col("event_type") == "signup"))
        .groupBy(F.col("user_id").alias("c_uid"))
        .agg(F.max("ts").alias("max_created"))
    )
    tagged = (
        ev.join(
            F.broadcast(tomb),
            (F.col("user_id") == F.col("t_uid"))
            & (F.col("ts") == F.col("t_ts"))
            & (F.col("event_id") == F.col("t_eid")),
            "left",
        )
        .join(F.broadcast(cutoff), F.col("user_id") == F.col("c_uid"), "left")
        .select(
            "event_type",
            F.col("t_hit").isNotNull().alias("is_tomb"),
            (
                F.col("t_hit").isNull()
                & F.col("max_created").isNotNull()
                & (F.col("ts") < F.col("max_created"))
            ).alias("is_hist"),
        )
    )
    return (
        tagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_before"),
            F.count_if("is_tomb").cast("bigint").alias("n_tombstoned"),
            F.count_if("is_hist").cast("bigint").alias("n_history_pruned"),
            F.count_if(~F.col("is_tomb") & ~F.col("is_hist"))
            .cast("bigint")
            .alias("n_after"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# i_time_travel: snapshot-versioned table + as-of read
# (sources/versioned.py — the Delta/Iceberg commit-log idea on plain
# Parquet, mirroring the reference's side-by-side dump generations +
# registry pointer, SURVEY §2.1 S2/S14). The lifecycle exercised end
# to end: commit v1 = per-customer order counts BEFORE the 1997
# cutoff, commit v2 = the full-history recompute, then TIME-TRAVEL
# back to v1 while v2 is latest and diff the two reads. The oracle
# recomputes both snapshots from base data — so the v1 read proves
# the old version is still byte-faithful after a newer commit landed
# (the reproducible-report guarantee), and the diff proves latest
# resolution. Manifest and rollback mechanics are pytest-pinned.
# --------------------------------------------------------------------------
@register(
    "i_time_travel",
    """
    WITH v1 AS (
        SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sp
        FROM orders WHERE o_orderdate < DATE '1997-01-01'
        GROUP BY o_custkey
    ),
    v2 AS (
        SELECT o_custkey, COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sp
        FROM orders GROUP BY o_custkey
    )
    SELECT COALESCE(v2.o_custkey, v1.o_custkey) AS custkey,
           CAST(COALESCE(v1.n, 0) AS BIGINT) AS n_orders_v1,
           CAST(COALESCE(v2.n, 0) AS BIGINT) AS n_orders_latest,
           CAST(COALESCE(v2.n, 0) - COALESCE(v1.n, 0) AS BIGINT)
               AS orders_added,
           ROUND(COALESCE(v2.sp, 0) - COALESCE(v1.sp, 0), 2)
               AS spend_added
    FROM v1 FULL OUTER JOIN v2 ON v1.o_custkey = v2.o_custkey
    ORDER BY custkey
    """,
    doc="snapshot versioning + time travel on plain Parquet: commit "
    "v1 (pre-1997 per-customer order aggregate), commit v2 (full "
    "recompute), read v1 AS-OF while v2 is latest and diff -- the "
    "old report stays reproducible after new data lands; manifest "
    "swap/rollback pytest-pinned",
)
def i_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.sources.versioned import (
        commit_version,
        read_version,
    )

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("custkey"),
        "o_totalprice",
        "o_orderdate",
    )

    def snapshot(df):
        return df.groupBy("custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("sp"),
        )

    root = tempfile.mkdtemp(prefix="i_time_travel_", dir=scratch_root(spark))
    root += "/orders_agg"
    v1 = commit_version(
        snapshot(orders.where(F.col("o_orderdate") < F.lit("1997-01-01"))),
        root,
    )
    commit_version(snapshot(orders), root)

    asof = read_version(spark, root, version=v1).select(
        F.col("custkey").alias("k1"),
        F.col("n").alias("n1"),
        F.col("sp").alias("sp1"),
    )
    latest = read_version(spark, root)  # resolves v2 via the manifest
    return (
        latest.join(asof, latest.custkey == F.col("k1"), "full_outer")
        .select(
            F.coalesce("custkey", "k1").alias("custkey"),
            F.coalesce("n1", F.lit(0)).cast("bigint").alias("n_orders_v1"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_orders_latest"),
            (F.coalesce("n", F.lit(0)) - F.coalesce("n1", F.lit(0)))
            .cast("bigint")
            .alias("orders_added"),
            F.round(
                F.coalesce("sp", F.lit(0.0)) - F.coalesce("sp1", F.lit(0.0)), 2
            ).alias("spend_added"),
        )
        .orderBy("custkey")
    )


# --------------------------------------------------------------------------
# i_retraction_combine: GDPR-style erasure applied to AGGREGATE
# STATE — deletions enter the incremental engine's ordinary combine
# with negated measures instead of forcing the reference's
# full-history recompute (listens/delete.py tombstones + stats
# rebuild): sums/counts form an abelian group, so subtract-then-drop-
# zero-groups is exact. Money is integer-cent quantized BEFORE
# summation (float sums are not associative enough to survive
# subtract-then-compare — the repo's order-free-sum convention).
# retract prunes the combine to erased keys: a small
# erasure batch touches a small state slice; the untouched remainder
# unions back verbatim. Oracle = direct recompute over the surviving
# rows, so the gate proves retraction == rebuild.
# --------------------------------------------------------------------------
@register(
    "i_retraction_combine",
    """
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0, 2)
               AS spend
    FROM orders
    WHERE o_orderkey % 9 <> 0
    GROUP BY o_custkey
    ORDER BY custkey
    """,
    doc="deletion applied to aggregate state, not base data: erased "
    "orders (okey % 9 == 0) retract from the stored per-customer "
    "partial as a negated-measure combine (groups at zero count drop "
    "out; affected-key pruning); integer-cent exact; oracle proves "
    "retraction == full recompute of survivors",
)
def i_retraction_combine(spark: SparkSession, sf_dir: str) -> DataFrame:
    state_dir = tempfile.mkdtemp(prefix="i_retract_", dir=scratch_root(spark))
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").cast("bigint").alias("custkey"),
        F.col("o_orderkey").alias("okey"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    stat = IncrementalStat(
        name="cust_orders",
        aggregate=lambda df: df.groupBy("custkey").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("cents"),
        ),
        keys=("custkey",),
        sum_cols=("n_orders", "cents"),
    )
    eng = IncrementalEngine(spark, state_dir)
    eng.create_partial(stat, orders, "1992-01-01", "1998-12-31", "1999-01-01")

    erased = orders.where(F.col("okey") % 9 == 0)
    survived = eng.retract(
        stat, stat.aggregate(erased), count_col="n_orders"
    )
    return survived.select(
        "custkey",
        "n_orders",
        F.round(F.col("cents") / 100.0, 2).alias("spend"),
    ).orderBy("custkey")
