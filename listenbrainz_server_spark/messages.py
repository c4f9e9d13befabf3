"""Chunked result iteration — the result-sink layer (S12).

The reference streams query results as N-rows-per-message JSON dicts
through toLocalIterator (stats/incremental/user/entity.py:70-97;
chunk sizes 25/5000/10000 per stat family, SURVEY.md §4.3). Our
engine returns DataFrames; this is the thin adapter for callers that
need the message-stream shape.

``toLocalIterator`` pulls one partition at a time — driver memory is
bounded by partition size, not result size, which is the property
that makes it safe for million-row results.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

CHUNK_USER_STATS = 25
CHUNK_LISTENER_STATS = 5000
CHUNK_SIMILARITY = 10000

# Canonical float contract for the message stream (VERDICT r10 #6):
# every float crossing the message boundary is rounded to this many
# decimals. The stream is the public API surface, and unrounded
# doubles leak plan-order-dependent last bits (partial-sum order
# varies with partitioning/AQE), so a float-emitting handler could
# produce two different "correct" streams for the same data. 6 dp
# matches the engine-wide determinism rule (queries/__init__.py) and
# the 6dp rounding the stat queries already apply — for pre-rounded
# values this is the identity, so the contract costs nothing where
# queries already comply and pins the stream where they don't.
MESSAGE_FLOAT_DP = 6


def _canon_floats(v):
    """Round every float in a row value tree (dicts/lists from
    Row.asDict(recursive=True)) to MESSAGE_FLOAT_DP; NaN passes
    through (round(nan)=nan), ints/strings/dates untouched."""
    if isinstance(v, float):
        return round(v, MESSAGE_FLOAT_DP)
    if isinstance(v, dict):
        return {k: _canon_floats(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon_floats(x) for x in v]
    return v


def iter_message_chunks(
    df: DataFrame, chunk_size: int, message_type: str
) -> Iterator[dict]:
    """Yield {type, data: [row dicts]} messages of ≤chunk_size rows,
    floats canonicalized to MESSAGE_FLOAT_DP decimals."""
    buf: list[dict] = []
    for row in df.toLocalIterator():
        buf.append(_canon_floats(row.asDict(recursive=True)))
        if len(buf) >= chunk_size:
            yield {"type": message_type, "data": buf}
            buf = []
    if buf:
        yield {"type": message_type, "data": buf}
