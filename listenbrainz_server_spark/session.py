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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS overrides for a deployment; otherwise use the CPUs
# this process may run on.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


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
        # Testdata's events.ts is TIMESTAMP(NANOS); Spark has no nanos
        # type, so read as long and convert in the catalog loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.enableVectorizedReader", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
        .config("spark.executor.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_session() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
