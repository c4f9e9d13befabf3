"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All implementations live in ``listenbrainz_server_spark``; this module
just adapts the registry to the driver contract.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from listenbrainz_server_spark.queries import load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on sf0.001: the pricing-summary group-count
    workhorse (the A1 shape every reference stat is built on)."""
    registry = load_all()
    return registry["a1_pricing_summary"].fn(spark, SMOKE_SF_DIR)


# Least-recently-passed ordering: names are sorted by the last round
# whose committed CORRECTNESS artifact records a full PASS for them, so
# the driver's bounded sweep rotates through the whole registry and a
# regression in any name, late-alphabet ones included, is re-checked
# within a few rounds. Plain never-verified-first degenerates to
# alphabetical once every name has been verified once. Only full passes
# count (no error, rows, schema and hash all matched): an error, a
# mismatch or an oracle-less check leaves the name at its last true
# pass, or round 0, instead of counting as verified now, which would
# bury a freshly failed name at the back of the queue. Never-verified
# names (round 0) front the queue by construction.


def _is_pass(entry) -> bool:
    """True only for a full gate pass: no error, all three comparisons
    true. Errors, rows-only checks, and mismatches do NOT count as a
    verification — they must front the sweep queue, not bury it."""
    if not isinstance(entry, dict):
        return False
    if entry.get("err"):
        return False
    return all(
        entry.get(k) is True
        for k in ("rows_match", "schema_match", "hash_match")
    )


def _last_verified_round() -> dict[str, int]:
    """name → latest round number with a PASSING driver verdict,
    scanned from the committed CORRECTNESS_r*.json artifacts."""
    import glob
    import json
    import re

    last: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnum = int(m.group(1))
        try:
            with open(path) as f:
                entries = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(entries, dict):
            continue
        for name, entry in entries.items():
            if _is_pass(entry):
                last[name] = max(last.get(name, 0), rnum)
    return last


def _sweep_order() -> list[str]:
    names = sorted(load_all())
    last = _last_verified_round()
    return sorted(names, key=lambda n: (last.get(n, 0), n))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    registry = load_all()
    return {name: registry[name].fn for name in _sweep_order()}


def oracle_sql() -> dict[str, str]:
    registry = load_all()
    return {
        name: registry[name].oracle
        for name in _sweep_order()
        if registry[name].oracle is not None
    }
