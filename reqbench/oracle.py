"""DuckDB references for the responses the benchmark checks.

Responses are compared as canonical row multisets: every row of every
message as ``json.dumps(row, sort_keys=True, default=str)``, sorted —
the form ``tools/gen_golden.stream_canonical`` stores.
"""

from __future__ import annotations

import hashlib
import json
from datetime import datetime, timedelta

import duckdb


def canonical_rows(messages) -> list[str]:
    return sorted(
        json.dumps(r, sort_keys=True, default=str) for m in messages for r in m["data"]
    )


def digest(rows: list[str]) -> str:
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


_EPOCH = datetime(1970, 1, 1)


def _epoch_us(dt: datetime) -> int:
    return (dt - _EPOCH) // timedelta(microseconds=1)


def _rows(con, sql: str, params) -> list[str]:
    cur = con.execute(sql, params)
    cols = [d[0] for d in cur.description]
    return sorted(
        json.dumps(dict(zip(cols, r)), sort_keys=True, default=str)
        for r in cur.fetchall()
    )


def _ranged(con, events: str, stats_range: str | None) -> tuple[str, list]:
    """A ``ev`` CTE over the listens of ``stats_range``, anchored at the
    latest listen as ``plans.ranges`` anchors it."""
    from listenbrainz_server_spark.plans.ranges import resolve_range

    if stats_range is None:
        return f"ev AS (SELECT * FROM read_parquet('{events}'))", []
    max_us = con.execute(f"SELECT max(epoch_us(ts)) FROM read_parquet('{events}')").fetchone()[0]
    frm, to = resolve_range(_EPOCH + timedelta(microseconds=max_us), stats_range)
    return (
        f"ev AS (SELECT * FROM read_parquet('{events}') "
        "WHERE epoch_us(ts) >= ? AND epoch_us(ts) < ?)",
        [_epoch_us(frm), _epoch_us(to)],
    )


def user_entity(events: str, stats_range: str | None, k: int = 1000) -> list[str]:
    """stats.user.entity: per-user entity counts, top ``k`` with the
    user's total listens and distinct entity count."""
    with duckdb.connect() as con:
        ev, params = _ranged(con, events, stats_range)
        return _rows(
            con,
            f"""WITH {ev},
            c AS (SELECT user_id, event_type, count(*) AS listen_count
                  FROM ev GROUP BY user_id, event_type),
            r AS (SELECT *,
                    sum(listen_count) OVER (PARTITION BY user_id) AS total_count,
                    count(*) OVER (PARTITION BY user_id) AS entity_count,
                    row_number() OVER (PARTITION BY user_id
                        ORDER BY listen_count DESC, event_type) AS rank
                  FROM c)
            SELECT * FROM r WHERE rank <= {int(k)}""",
            params,
        )


def sitewide_entity(
    events: str, stats_range: str | None, cap: int = 500, k: int = 1000
) -> list[str]:
    """stats.sitewide.entity: per-user counts capped at ``cap``, summed
    per entity, global top ``k``."""
    with duckdb.connect() as con:
        ev, params = _ranged(con, events, stats_range)
        return _rows(
            con,
            f"""WITH {ev},
            c AS (SELECT event_type, least(count(*), {int(cap)}) AS n
                  FROM ev GROUP BY user_id, event_type)
            SELECT event_type, sum(n) AS listen_count FROM c
            GROUP BY event_type
            ORDER BY listen_count DESC, event_type LIMIT {int(k)}""",
            params,
        )


ORACLES = {"stats.user.entity": user_entity, "stats.sitewide.entity": sitewide_entity}


def partial_mismatches(partial_dir: str, sources: list[str]) -> int:
    """Rows in the persisted (user_id, event_type, listen_count) partial
    that differ from a GROUP BY over ``sources`` — the
    recompute-equivalence invariant of ``incremental/engine.py``.
    Counted both ways, so 0 means the multisets are equal."""
    files = ", ".join(f"'{s}'" for s in sources)
    with duckdb.connect() as con:
        return con.execute(
            f"""WITH want AS (
                  SELECT user_id, event_type, count(*) AS listen_count
                  FROM read_parquet([{files}]) GROUP BY user_id, event_type),
                got AS (
                  SELECT user_id, event_type, listen_count
                  FROM read_parquet('{partial_dir}/*.parquet'))
            SELECT (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL SELECT * FROM got))
                 + (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM want))"""
        ).fetchone()[0]


def delta_keys(path: str) -> int:
    """Distinct (user_id, event_type) keys in one delta file."""
    with duckdb.connect() as con:
        return con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT user_id, event_type "
            f"FROM read_parquet('{path}'))"
        ).fetchone()[0]
