"""Chunked result iteration — the result-sink layer (S12).

The reference streams query results as N-rows-per-message JSON dicts
through toLocalIterator (stats/incremental/user/entity.py:70-97;
chunk sizes 25/5000/10000 per stat family, SURVEY.md §4.3). Our
engine returns DataFrames; this is the thin adapter for callers that
need the message-stream shape.

**The drain.** ``_iter_rows`` runs one Spark job per result partition,
in partition order: the JVM's ``PythonRDD`` ``runJob`` over
``df._jdf.javaToPython()`` for that one partition, which the JVM then
serves whole on one socket. Its rows are read in one pass with the same
``BatchedSerializer(CPickleSerializer())`` that ``collect`` and
``toLocalIterator`` use, so they are the same ``Row`` objects and the
stream, the 6-dp float contract and the goldens are unchanged. The next
partition's job starts only once the socket is drained, so the driver
holds at most one result partition at a time — the property
``toLocalIterator`` gives and the reason it is safe for million-row
results. Rows are yielded as batches arrive, so a large partition's
first message does not wait for its last row (50k rows in one
partition: first message at 0.16 s instead of 0.44 s when the partition
was read into a list first). A consumer that closes the generator
early drops the socket with it; no further job runs and the session
stays usable.

Measured on a 4-core host against ``toLocalIterator``, whose socket
protocol makes one request and one response per partition: on small
partitions it stalls ~45 ms per partition beyond the job itself. A
1,000-row frame took 72 ms on 1 partition, 228 ms on 4 and 792 ms on
16 (``collect`` 23–37 ms on every shape); the one-read drain took
155 ms on 4. Job and task counts are identical; at 50k-row partitions
the two are equal within noise. The drain's jobs run outside a SQL
execution id, so they do not appear as a SQL query in the Spark UI.

Measured rejections:

- **Several partitions per job.** Serving W partitions per job was
  faster on multi-partition results (16 × 50k rows: 800 ms at W=4
  against 1,030 ms for ``toLocalIterator``), but it raises the driver
  bound to W partitions, and ``spark.driver.maxResultSize`` then fails
  large exports. It needs a byte bound first.
- **An Arrow drain.** ``toArrow`` → ``to_pylist`` built 50k rows 2.5×
  faster, but its values differ from ``Row.asDict``: timestamps come
  back tz-aware instead of naive local, and maps as lists of pairs
  instead of dicts. It needs that type mapping to stay byte-identical.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.serializers import BatchedSerializer, CPickleSerializer
from pyspark.sql import DataFrame, Row
from pyspark.traceback_utils import SCCallSiteSync
from pyspark.util import _load_from_socket

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


def _iter_rows(df: DataFrame) -> Iterator[Row]:
    """Yield the result's rows, one Spark job per partition, each
    partition streamed from one served socket before the next job."""
    sc = df.sparkSession.sparkContext
    jrdd = df._jdf.javaToPython()
    ser = BatchedSerializer(CPickleSerializer())
    for i in range(jrdd.getNumPartitions()):
        with SCCallSiteSync(sc):
            sock_info = sc._jvm.PythonRDD.runJob(sc._jsc.sc(), jrdd, [i])
        yield from _load_from_socket(sock_info, ser)


def iter_message_chunks(
    df: DataFrame, chunk_size: int, message_type: str
) -> Iterator[dict]:
    """Yield {type, data: [row dicts]} messages of ≤chunk_size rows,
    floats canonicalized to MESSAGE_FLOAT_DP decimals."""
    buf: list[dict] = []
    for row in _iter_rows(df):
        buf.append(_canon_floats(row.asDict(recursive=True)))
        if len(buf) >= chunk_size:
            yield {"type": message_type, "data": buf}
            buf = []
    if buf:
        yield {"type": message_type, "data": buf}
