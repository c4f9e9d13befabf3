"""Dataset registry: named tables over a parquet directory.

The reference resolves datasets by HDFS path constants and registers
temp views per query (listenbrainz_spark/path.py, listens/data.py:38-55).
We keep a thin catalog: table name -> parquet path under a base dir,
read through ``load_table``.

A table is read one of two ways:

- **Cached** (the default; the "many queries, one session" path the
  reference's request_consumer runs with one long-lived session serving
  a request queue). The handle for (session, path) is memoized, so
  repeated loads reuse one analyzed plan instead of re-listing files and
  re-reading parquet footers. A table up to ``_CACHE_MAX_BYTES`` on disk
  is repartitioned once and ``.cache()``d: the first action fills
  executor memory and later queries scan memory, not parquet. A memo hit
  that Spark has since un-cached (``spark.catalog.clearCache()``) is
  cached again, so a hit never plans the repartition over a bare scan.
  Larger tables keep a memoized plain scan with pushdown and pruning,
  which is every table at 100 TB.
- **Bare scan**, inside ``cache_disabled()``: no memo and no cache.
  Entering it un-caches the memoized handles, since Spark would
  otherwise substitute a cached copy whose plan equals the plain scan.

The memo key includes the parquet directory's mtime, so a sink that
overwrites a path invalidates the stale handle on the next load.

``recorded_loads()`` lists the handles ``load_table`` returns while it
is open, so a caller that keeps something built from them (the
prepared request plans of ``plans.api.dispatch``) can later ask
whether each is still the memoized handle.
"""

from __future__ import annotations

import os
import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table_path(base_dir: str, name: str) -> str:
    return os.path.join(base_dir, f"{name}.parquet")


# Columns stored as parquet TIMESTAMP(NANOS): Spark reads them as long
# (spark.sql.legacy.parquet.nanosAsLong) and we convert to micros
# timestamps here — same truncation DuckDB applies reading TIMESTAMP_NS.
_NANO_TS_COLS = {"events": ("ts",)}

_CACHE_MAX_BYTES = 512 * 1024 * 1024

# Cached-table partition quantum. A cached table inherits its scan's
# split count, and a single-file table scans as 1-3 row-group splits, so
# every consumer's first map stage (InMemoryTableScan → project /
# broadcast join / partial agg → exchange write) would run 1-3 tasks
# wide whatever the core count. Repartitioning before ``.cache()`` sizes
# the cached layout to clamp(ceil(on-disk bytes / quantum), 1,
# defaultParallelism): size-derived, so a large cluster does not shred a
# small dimension table into empty blocks, and core-capped, so small
# sessions get fewer blocks. The round-robin shuffle runs once, when the
# cache fills.
#
# 1 MiB is measured. 256 KiB (lineitem → 32 blocks at sf0.1) made
# sub-second cached-scan queries slower, because per-task overhead
# dominates a 0.2 s query read 32 wide: p9_conditional_projection went
# from 0.23 to 0.67 s in matched A-B-A legs. A mirrored A/B over {256K,
# 1M, 4M, off} at sf0.1 favoured 1 MiB on the small queries
# (p9 0.244 → 0.183 s, a12_distinct 0.239 → 0.147 s) at a small cost on
# the widest stage (h_fresh_releases 2.27 → 2.53 s, against 5.36 s
# without repartitioning); panel totals 5.35 / 5.12 / 6.38 / 9.61 s.
_CACHE_PARTITION_BYTES = 1024 * 1024

# (applicationId, abspath, mtime_ns) -> DataFrame
_TABLE_CACHE: dict[tuple[str, str, int], DataFrame] = {}

_CACHE_ENABLED = True

# SparkContext -> its applicationId, read over Py4J once per context
# instead of on every load.
_APP_IDS: weakref.WeakKeyDictionary[SparkContext, str] = weakref.WeakKeyDictionary()

# While ``recorded_loads()`` is open: (base_dir, name) -> the handle
# load_table returned.
_LOADS: dict[tuple[str, str], DataFrame] | None = None


def cache_enabled() -> bool:
    """False inside ``cache_disabled()``."""
    return _CACHE_ENABLED


def app_id(spark: SparkSession) -> str:
    """``spark``'s applicationId, without a Py4J call after the first."""
    sc = spark.sparkContext
    if sc not in _APP_IDS:
        _APP_IDS[sc] = sc.applicationId
    return _APP_IDS[sc]


@contextmanager
def recorded_loads() -> Iterator[dict[tuple[str, str], DataFrame]]:
    """Yield a dict that maps the (base_dir, name) of every
    ``load_table`` call made while the block runs to the handle it
    returned."""
    global _LOADS
    prev, _LOADS = _LOADS, {}
    try:
        yield _LOADS
    finally:
        _LOADS = prev


class cache_disabled:
    """Context manager: bare parquet scans, the shape every table takes
    at 100 TB where the size gate turns caching off. Plan-shape tests
    use it to assert pushdown and pruning on the real scan instead of
    an InMemoryTableScan. On entry it un-caches and forgets the
    memoized handles, so no cached copy can stand in for the scan."""

    def __enter__(self):
        global _CACHE_ENABLED
        self._prev = _CACHE_ENABLED
        _CACHE_ENABLED = False
        sc = SparkContext._active_spark_context
        for (app, _path, _mtime), df in _TABLE_CACHE.items():
            if sc is not None and app == sc.applicationId:
                df.unpersist()
        _TABLE_CACHE.clear()
        return self

    def __exit__(self, *exc):
        global _CACHE_ENABLED
        _CACHE_ENABLED = self._prev
        return False


def _path_stats(path: str) -> tuple[int, int]:
    """(total_bytes, newest_mtime_ns) over a parquet file or directory."""
    if os.path.isfile(path):
        st = os.stat(path)
        return st.st_size, st.st_mtime_ns
    total, mtime = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(root, f))
            except OSError:
                continue
            total += st.st_size
            mtime = max(mtime, st.st_mtime_ns)
    return total, mtime


def load_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    """Parquet scan with memoized handle + size-gated in-memory cache
    (a bare scan inside ``cache_disabled()``).

    Column pruning + predicate pushdown are left to Catalyst — callers
    filter/select on the returned DataFrame and the scan narrows
    automatically (verify with .explain: PushedFilters/ReadSchema).
    Pruning still applies through an InMemoryRelation (cached batches
    carry per-column stats and batch-level filtering).

    SIDE EFFECT (nano-timestamp tables only): loading a table listed in
    ``_NANO_TS_COLS`` sets ``spark.sql.legacy.parquet.nanosAsLong=true``
    and pins ``spark.sql.session.timeZone`` to UTC **for the whole
    session** — required so the long-nanos and native-timestamp data
    generations agree with each other and with the UTC DuckDB oracle.
    An embedding application that had set a non-UTC session timezone
    will see its unrelated timestamp rendering change; a RuntimeWarning
    is emitted when that override actually flips a non-UTC setting.
    """
    df = _load_table(spark, base_dir, name)
    if _LOADS is not None:
        _LOADS[(base_dir, name)] = df
    return df


def _load_table(spark: SparkSession, base_dir: str, name: str) -> DataFrame:
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    path = table_path(base_dir, name)
    key = None
    if _CACHE_ENABLED:
        size, mtime = _path_stats(path)
        key = (app_id(spark), os.path.abspath(path), mtime)
        hit = _TABLE_CACHE.get(key)
        if hit is not None:
            # ``is_cached`` records that we cached it and survives
            # clearCache(); the storage level is what Spark holds now.
            if hit.is_cached and not hit._jdf.storageLevel().useMemory():
                hit.cache()
            return hit

    if name in _NANO_TS_COLS:
        # Runtime-settable; required even on externally-built sessions
        # (the driver harness constructs its own SparkSession).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # The NTZ→TIMESTAMP cast below interprets the wall clock in the
        # session timezone; the long-nanos path is epoch-based. On a
        # non-UTC external session the two generations would diverge
        # (and drift from the UTC DuckDB oracle), so pin UTC here too —
        # get_session already does, but load_table supports sessions it
        # didn't build. Warn when this actually changes a host
        # application's non-UTC setting (see docstring SIDE EFFECT).
        prev_tz = spark.conf.get("spark.sql.session.timeZone", None)
        if prev_tz not in (None, "UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            import warnings

            warnings.warn(
                f"load_table({name!r}): overriding session timezone "
                f"{prev_tz!r} with UTC for nano-timestamp parity; this "
                "affects timestamp rendering session-wide.",
                RuntimeWarning,
                stacklevel=3,
            )
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    for col in _NANO_TS_COLS.get(name, ()):
        if col not in df.columns:
            continue
        dtype = df.schema[col].dataType
        if isinstance(dtype, LongType):
            # Integer `div` — float division loses precision at 1e18 ns.
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"`{col}` div 1000")))
        elif isinstance(dtype, TimestampNTZType):
            # Newer testdata stores native parquet timestamps with
            # isAdjustedToUTC=false; normalize to TimestampType so both
            # generations present one schema (wall clock preserved —
            # rendering happens in the same session timezone). Cast via
            # the explicit type object: the "timestamp" DDL keyword
            # resolves to TIMESTAMP_NTZ (a no-op cast) when a session
            # sets spark.sql.timestampType=TIMESTAMP_NTZ.
            df = df.withColumn(col, F.col(col).cast(TimestampType()))

    from listenbrainz_server_spark.schemas import validate

    df = validate(name, df)
    if key is not None:
        if size <= _CACHE_MAX_BYTES:
            nparts = max(
                1,
                min(
                    spark.sparkContext.defaultParallelism,
                    -(-size // _CACHE_PARTITION_BYTES),
                ),
            )
            if nparts > 1:
                df = df.repartition(nparts)
            df = df.cache()
        _TABLE_CACHE[key] = df
    return df

