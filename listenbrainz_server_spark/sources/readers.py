"""Read-path composition: the reference's listens read pipeline
(SURVEY.md §2.1-2.2) as reusable functions.

get_listens_from_dump analog (listenbrainz_spark/listens/data.py:25-86):
base ∪ incremental → deleted-rows anti join → per-user history cutoff.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from listenbrainz_server_spark.operators.joins import anti_join


def union_base_incremental(
    base: DataFrame | None, incremental: DataFrame | None, schema: StructType, spark: SparkSession
) -> DataFrame:
    """S2: base/ ∪ incremental/ with an empty seed when either side is
    missing (listens/data.py:25-55)."""
    empty = spark.createDataFrame([], schema)
    out = empty
    if base is not None:
        out = out.unionByName(base)
    if incremental is not None:
        out = out.unionByName(incremental)
    return out


def apply_tombstones(
    df: DataFrame,
    deleted_rows: DataFrame | None,
    delete_keys: Sequence[str],
) -> DataFrame:
    """P4 (listens/data.py:67-78): subtract exact tombstones."""
    if deleted_rows is not None:
        df = anti_join(df, deleted_rows, delete_keys)
    return df


def glob_scan(spark: SparkSession, path: str, pattern: str) -> DataFrame:
    """S8: glob-filtered Parquet scan (mlhd/download.py:45-52 chunk
    reads). Partition discovery lists only matching files — at scale
    this is how the 16-way MLHD chunking bounds a job's input."""
    return spark.read.option("pathGlobFilter", pattern).parquet(path)


def jdbc_query(
    spark: SparkSession, url: str, query: str, properties: dict[str, str] | None = None
) -> DataFrame:
    """S3: JDBC dimension source with full SQL pushdown
    (postgres/utils.py:8-17). Verified live against embedded Apache
    Derby (driver ships in Spark's jars) by
    tests/test_sources.py::test_jdbc_round_trip_embedded_derby — the
    same Spark read path a Postgres/Timescale URL exercises; only the
    driver class and URL differ."""
    reader = spark.read.format("jdbc").option("url", url).option("query", query)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


MLHD_LISTEN_SCHEMA = (
    "listened_at BIGINT, artist_credit_mbids STRING, "
    "release_mbid STRING, recording_mbid STRING"
)


def mlhd_csv_ingest(
    spark: SparkSession,
    csv_glob: str,
    out_path: str | None = None,
) -> DataFrame:
    """S7: MLHD+ TSV → Parquet ingest (mlhd/download.py:63-110).

    The reference loops pandas.read_csv per user file on the driver
    because its workers can't see the leader's local files; with a
    shared filesystem the Spark-first shape is one distributed
    ``spark.read.csv`` over the whole glob — schema'd, headerless,
    tab-separated — with user_id recovered from each file's name
    (every user has their own file) via input_file_name(), then a
    user-partitioned Parquet rewrite so downstream per-user jobs prune.
    """
    df = spark.read.csv(csv_glob, sep="\t", schema=MLHD_LISTEN_SCHEMA, header=False)
    df = df.withColumn(
        "user_id",
        F.regexp_extract(F.input_file_name(), r"([^/]+?)\.(txt|tsv|csv)", 1),
    )
    if out_path is not None:
        # Small fixed file count per chunk (the reference's "smaller
        # number of large parquet files" goal) — at 100 TB raise
        # the count or drop the coalesce and let AQE size outputs.
        df.coalesce(4).write.mode("overwrite").parquet(out_path)
        return spark.read.parquet(out_path)
    return df
