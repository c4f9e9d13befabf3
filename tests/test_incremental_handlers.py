"""Handler-level incremental equivalence: the user-entity stat
computed incrementally (partial + delta + combine + final top-K)
equals the same handler run over all data at once — the reference's
recompute-equivalence requirement at the full pipeline level."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from listenbrainz_server_spark.incremental.engine import IncrementalEngine
from listenbrainz_server_spark.plans.incremental_stats import (
    final_user_entity_stats,
    run_incremental_user_entity,
    user_entity_stat,
)


def _events(spark, rows):
    return spark.createDataFrame(
        [(u, e, datetime.fromisoformat(t)) for u, e, t in rows],
        "user_id long, event_type string, ts timestamp",
    )


ROWS = [
    (1, "play", "2024-01-01 10:00:00"),
    (1, "play", "2024-01-02 10:00:00"),
    (1, "skip", "2024-01-03 10:00:00"),
    (2, "play", "2024-01-04 10:00:00"),
    (2, "like", "2024-01-21 10:00:00"),   # delta
    (1, "play", "2024-01-22 10:00:00"),   # delta
    (3, "skip", "2024-01-23 10:00:00"),   # delta: user only in delta
]


def test_incremental_handler_equals_batch_handler(spark, tmp_path):
    df = _events(spark, ROWS)
    cutoff = F.lit("2024-01-20").cast("timestamp")
    engine = IncrementalEngine(spark, str(tmp_path))
    inc = run_incremental_user_entity(
        engine,
        full_df=df.where(F.col("ts") < cutoff),
        delta_df=df.where(F.col("ts") >= cutoff),
        from_date="2024-01-01",
        to_date="2024-02-01",
        created="2024-01-20",
        k=10,
    )
    batch = final_user_entity_stats(user_entity_stat().aggregate(df), k=10)
    assert inc.columns == batch.columns
    assert set(inc.collect()) == set(batch.collect())


def test_incremental_handler_affected_only(spark, tmp_path):
    df = _events(spark, ROWS)
    cutoff = F.lit("2024-01-20").cast("timestamp")
    engine = IncrementalEngine(spark, str(tmp_path))
    out = run_incremental_user_entity(
        engine,
        full_df=df.where(F.col("ts") < cutoff),
        delta_df=df.where(F.col("ts") >= cutoff),
        from_date="2024-01-01",
        to_date="2024-02-01",
        created="2024-01-20",
        k=10,
        only_affected=True,
    )
    users = {r.user_id for r in out.select("user_id").distinct().collect()}
    # Only keys touched by the delta: (2,like), (1,play), (3,skip).
    assert users == {1, 2, 3}
    rows = {(r.user_id, r.event_type, r.listen_count) for r in out.collect()}
    assert (1, "play", 3) in rows       # 2 base + 1 delta combined
    assert (1, "skip", 1) not in rows   # untouched key pruned
    assert (3, "skip", 1) in rows       # delta-only user present


def test_sitewide_cap_composes_per_pass(spark, tmp_path):
    """Pin the per-pass cap semantics of sitewide_entity_stat (advisor
    r12): the user-listen cap applies WITHIN each aggregation pass
    (reference sitewide/entity.py:50-59 — `least(count, cap)` inside
    the pass), so

      * a (user, entity) pair exceeding the cap inside ONE batch is
        clamped to the cap in that pass's partial, and
      * a pair split ACROSS batches contributes up to `cap` PER PASS —
        combine sums the capped partials and must NOT re-cap (the
        reference's documented approximation; same class as its summed
        partial count-distincts).

    Uses cap=5 so both regimes are exercised cheaply:
      user 1: 8 base events        -> base pass clamps to 5
      user 2: 3 base + 4 delta     -> 3 + 4 = 7 > cap after combine
      user 3: 2 base + 9 delta     -> delta pass clamps to 5; 2+5 = 7
    """
    from listenbrainz_server_spark.plans.incremental_stats import (
        final_sitewide_entity_stats,
        sitewide_entity_stat,
    )

    def ev(u, n, day):
        return [(u, "play", f"2024-01-{day:02d} 10:00:00")] * n

    base = _events(spark, ev(1, 8, 1) + ev(2, 3, 2) + ev(3, 2, 3))
    delta = _events(spark, ev(2, 4, 21) + ev(3, 9, 22))
    stat = sitewide_entity_stat(cap=5)
    engine = IncrementalEngine(spark, str(tmp_path))
    combined = engine.run(
        stat, base, delta,
        from_date="2024-01-01", to_date="2024-02-01", created="2024-01-20",
    )
    got = {
        (r.user_id, r.event_type): r.capped_count
        for r in combined.collect()
    }
    assert got == {
        (1, "play"): 5,   # within-batch clamp
        (2, "play"): 7,   # 3 + 4: combine must not re-cap at 5
        (3, "play"): 7,   # 2 + min(9, 5): delta pass clamps its side
    }
    # Final stats sum the capped partials as-is: 5 + 7 + 7.
    final = final_sitewide_entity_stats(combined, k=10).collect()
    assert [(r.event_type, r.listen_count) for r in final] == [("play", 19)]
