"""SparkSession factory.

Mirrors the reference's session setup (listenbrainz_spark/__init__.py:24-73:
app name, shuffle-partition tuning, test-mode config) but sized for the
local harness and, via the same knobs, for a large cluster:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting
  replaces the reference's hand-set ``spark.sql.shuffle.partitions = 2000``
  per-job tuning (listenbrainz_spark/similarity/recording/mlhd.py:37-39).
- UTC session timezone so timestamp semantics are engine-independent
  (and comparable against the DuckDB oracle).
- Arrow enabled for the few Pandas-UDF operators (multimodal decode).
- A generated-class cache that holds the dispatch table's working set.
  Spark keeps ``spark.sql.codegen.cache.maxEntries`` compiled classes,
  100 by default. One pass over the 45-name ``QUERY_MAP`` compiles 579
  classes at sf0.01, and a second pass compiled 685 more (14 with the
  cache at 1000); each pass over the 9 request kinds of the request
  benchmark's small-stats mix recompiled 48 (0 at 1000). In a
  warmed run of that mix the JIT compiler threads were the largest CPU
  consumer, 0.20 of 0.72 CPU-s per request. Metaspace ended near 190
  MB after two passes with either cache size.
- Driver memory is half of what this process may use (the lower of
  ``MemTotal`` and the cgroup memory limit), between 1g and 8g, unless
  ``SPARK_GRAFT_DRIVER_MEM`` sets it.
- Frames built from driver-side rows go through ``local_frame``: an
  Arrow local relation plans as ``LocalTableScan``, where
  ``createDataFrame(list, ddl)`` plans as ``Scan ExistingRDD`` and
  forks Python workers for every job that scans it (two such jobs,
  ~290 and ~560 ms, in the month listening-activity request).

Measured and not set: ``spark.python.sql.dataFrameDebugging.enabled=
false`` cut one ``F.col`` from 1.6 to 0.5 ms, but moved no end-to-end
request metric in two A/B pairs.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

# SPARK_GRAFT_CPUS overrides for a deployment; otherwise use the CPUs
# this process may run on.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# Generated classes Spark keeps compiled: the whole dispatch table's
# working set (579 at sf0.01) with room to spare.
CODEGEN_CACHE_ENTRIES = 1000

# Files that bound this process's memory; a missing cgroup file, or its
# "max", reads as no limit.
_MEMINFO = "/proc/meminfo"
_CGROUP_MEMORY_MAX = (
    "/sys/fs/cgroup/memory.max",  # cgroup v2
    "/sys/fs/cgroup/memory/memory.limit_in_bytes",  # cgroup v1
)


def driver_memory(meminfo: str, cgroup_max: str | None) -> str:
    """Half the memory this process may use, floored at 1g and capped
    at 8g: the lower of ``MemTotal`` in ``meminfo`` (the text of
    /proc/meminfo) and the cgroup limit ``cgroup_max`` (bytes, or
    "max"). Two 8g sessions on a 15 GB host got one JVM OOM-killed."""
    limits = [
        int(ln.split()[1]) * 1024  # kB
        for ln in meminfo.splitlines() if ln.startswith("MemTotal:")
    ]
    if cgroup_max is not None and cgroup_max.strip() != "max":
        limits.append(int(cgroup_max))
    half_mb = min(limits, default=2**63) // 2 // 2**20
    return f"{min(8192, max(1024, half_mb))}m"


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def _host_driver_memory() -> str:
    cgroup_max = next((t for t in map(_read, _CGROUP_MEMORY_MAX) if t is not None), None)
    return driver_memory(_read(_MEMINFO) or "", cgroup_max)


def get_session(
    app_name: str = "listenbrainz_server_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``, or to the CPUs this process
    may use when that is unset.
    """
    cpus = _DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # Deterministic, oracle-comparable timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: coalesce post-shuffle partitions, split skewed joins,
        # convert SMJ->broadcast at runtime. This is the scale story:
        # static shuffle-partition counts never fit both sf0.001 and 100TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Local default sized to cores; AQE coalesces below it as needed.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else cpus),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: vectorized reader + pushdown are defaults; keep
        # explicit so a misconfigured cluster profile can't silently
        # disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        # A parquet TIMESTAMP(NANOS) column (events.ts in older data
        # generations) has no Spark type; read it as long and convert
        # in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        # Static: a repeated request must find its classes compiled.
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, ddl: str | StructType) -> DataFrame:
    """``rows`` (tuples in ``ddl``'s column order) as a DataFrame that
    plans as ``LocalTableScan``: the rows travel to the JVM once as an
    Arrow table, and no job that scans the frame starts a Python
    worker. Values equal ``spark.createDataFrame(rows, ddl)``'s: a
    timestamp column is converted by ``TimestampType.toInternal``, the
    list path's own conversion, which reads a naive ``datetime`` as
    local time (``.astimezone(timezone.utc)`` agrees with it except in
    a daylight-saving gap, where it lands an hour away). Timestamps
    nested in an array or struct are not converted."""
    import pyarrow as pa  # here: a package import should not pay ~0.1 s for it
    from pyspark.sql.pandas.types import to_arrow_type

    schema = ddl if isinstance(ddl, StructType) else StructType.fromDDL(ddl)
    rows = list(rows)
    columns = []
    for i, field in enumerate(schema.fields):
        values = [row[i] for row in rows]
        if isinstance(field.dataType, TimestampType):
            values = [field.dataType.toInternal(v) for v in values]  # UTC micros
        columns.append(pa.array(values, to_arrow_type(field.dataType)))
    table = pa.Table.from_arrays(columns, names=schema.names)
    return spark.createDataFrame(table, schema)


# Made by the first ``scratch_root`` call; the finalizer of a
# TemporaryDirectory removes it at interpreter exit.
_SCRATCH: tempfile.TemporaryDirectory | None = None


def scratch_root(spark: SparkSession) -> str:
    """The one directory, per process, for engine state that outlives a
    call (stream logs and checkpoints, stored partials, version
    manifests, staged blocks, import outputs, model registries); callers
    make entries with ``tempfile.mkdtemp(dir=scratch_root(spark))``.
    Made on first use under the ``spark.lbs.scratchDir`` conf, else the
    system temp dir, and removed at interpreter exit. A POSIX path that
    driver and executors both reach (a shared mount on a multi-node
    cluster): the driver renames, writes and touches files in it."""
    global _SCRATCH
    if _SCRATCH is None:
        parent = spark.conf.get("spark.lbs.scratchDir", None) or None
        if parent is not None:
            os.makedirs(parent, exist_ok=True)
        _SCRATCH = tempfile.TemporaryDirectory(prefix="lbs_scratch_", dir=parent)
    return _SCRATCH.name


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
