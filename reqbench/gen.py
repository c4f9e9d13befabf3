"""Seeded listens generator for the request-path benchmark.

Writes parquet in the engine's ``events`` schema (``schemas.py``):

- ``events.parquet``: the whole history, read by the stats workloads
  through ``catalog.load_table``;
- ``base.parquet``: every listen before the first delta day, from
  which the incremental workload builds its seed partial;
- ``deltas/day_NN.parquet``: one file per daily incremental dump.

The history spans 13 months so that every stats range (week, month,
year, all_time) and every listening-activity window holds listens.
Users have log-normal activity and are each active on a fixed share of
days; entities (stored in ``event_type``) follow a Zipf(1.1)
popularity. Sizes are fixed, only the values depend on the seed, so
every seed costs the engine about the same work.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone
from statistics import NormalDist

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

START = datetime(2024, 1, 1, tzinfo=timezone.utc)
DAY_US = 86_400 * 1_000_000

SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

_PROPS = ('{"src":"web"}', '{"src":"mobile"}', '{"src":"scrobbler"}')


@dataclass(frozen=True)
class Scale:
    users: int = 500
    entities: int = 16000
    days: int = 397  # 2024-01-01 .. 2025-01-31
    delta_days: int = 60
    active_share: float = 0.15
    listens_per_active_day: float = 3.0
    zipf_s: float = 1.1


def generate(seed: int, scale: Scale = Scale()) -> pa.Table:
    """The full listens table for ``seed``, sorted by (ts, user_id)."""
    rng = np.random.default_rng(seed)
    # The same log-normal rates and the same number of active days for
    # every seed; the seed only decides which user gets which rate and
    # which days. A random draw of rates would change the heavy users,
    # and so the engine's work, from seed to seed.
    quantiles = (np.arange(scale.users) + 0.5) / scale.users
    rate = np.exp(0.8 * np.array([NormalDist().inv_cdf(q) for q in quantiles]))
    rate *= scale.listens_per_active_day / rate.mean()
    rng.shuffle(rate)
    active_days = round(scale.active_share * scale.days)
    day_rank = rng.random((scale.users, scale.days)).argsort(axis=1).argsort(axis=1)
    active = day_rank < active_days
    counts = rng.poisson(rate[:, None] * active)
    user_idx, day_idx = np.nonzero(counts)
    reps = counts[user_idx, day_idx]
    users = np.repeat(user_idx, reps).astype(np.int64) + 1
    days = np.repeat(day_idx, reps).astype(np.int64)
    n = len(users)

    ranks = np.arange(1, scale.entities + 1, dtype=np.float64)
    popularity = ranks ** -scale.zipf_s
    entity = rng.choice(scale.entities, size=n, p=popularity / popularity.sum())

    start_us = int(START.timestamp()) * 1_000_000
    ts = start_us + days * DAY_US + rng.integers(0, DAY_US, n)
    order = np.lexsort((users, ts))
    names = np.array([f"e{i:05d}" for i in range(scale.entities)], dtype=object)
    value = np.round(rng.uniform(30.0, 600.0, n), 3)
    props = np.array(_PROPS, dtype=object)[rng.integers(0, len(_PROPS), n)]
    return pa.table(
        {
            "event_id": np.arange(1, n + 1, dtype=np.int64),
            "ts": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
            "user_id": users[order],
            "event_type": names[entity[order]],
            "value": value[order],
            "props": props[order],
        },
        schema=SCHEMA,
    )


def delta_start_us(scale: Scale = Scale()) -> int:
    """Epoch microseconds of the first delta day."""
    return (
        int(START.timestamp()) * 1_000_000
        + (scale.days - scale.delta_days) * DAY_US
    )


def _write(table: pa.Table, path: str) -> None:
    # Several row groups, so a cache-off scan splits across cores.
    pq.write_table(table, path, row_group_size=50_000, compression="snappy")


def write_dataset(out_dir: str, seed: int, scale: Scale = Scale()) -> dict:
    """Write events, base and per-day deltas under ``out_dir``."""
    table = generate(seed, scale)
    os.makedirs(os.path.join(out_dir, "deltas"), exist_ok=True)
    _write(table, os.path.join(out_dir, "events.parquet"))
    ts = table.column("ts").cast(pa.int64()).to_numpy()
    cut = delta_start_us(scale)
    idx = np.arange(len(ts))
    _write(table.take(idx[ts < cut]), os.path.join(out_dir, "base.parquet"))
    deltas = []
    for d in range(scale.delta_days):
        lo, hi = cut + d * DAY_US, cut + (d + 1) * DAY_US
        path = os.path.join(out_dir, "deltas", f"day_{d:02d}.parquet")
        _write(table.take(idx[(ts >= lo) & (ts < hi)]), path)
        deltas.append(path)
    return {
        "dir": out_dir,
        "events": os.path.join(out_dir, "events.parquet"),
        "base": os.path.join(out_dir, "base.parquet"),
        "deltas": deltas,
        "listens": len(table),
        "users": scale.users,
        "entities": scale.entities,
        "events_bytes": os.path.getsize(os.path.join(out_dir, "events.parquet")),
    }
