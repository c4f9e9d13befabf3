"""Write-path patterns (SURVEY.md §2.1 sinks S9-S11, S14).

Scale notes: partitioned overwrite with dynamic partition mode only
rewrites touched partitions (the compaction job's contract); the
registry upsert is the read-modify-write + swap pattern the reference
uses for import metadata — small state, driver-coordinated.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def partitioned_overwrite(
    df: DataFrame, path: str, partition_cols: Sequence[str]
) -> None:
    """S9 (listens/compact.py:36-45): partitioned Parquet rewrite.
    Dynamic overwrite replaces only partitions present in ``df``."""
    (
        df.sparkSession.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    df.write.partitionBy(*partition_cols).mode("overwrite").parquet(path)


def append_coalesced(df: DataFrame, path: str) -> None:
    """S10 (listens/dump.py:229-233): small incremental append,
    coalesced to one file so daily deltas don't shatter into per-task
    files."""
    df.coalesce(1).write.mode("append").parquet(path)


def atomic_swap_write(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Write to a temp sibling then rename into place
    (listens/dump.py:204-208 / delete.py:27-34 swap pattern) — readers
    never observe a half-written dataset on a posix-rename filesystem.

    The old dataset is renamed ASIDE first (rename is atomic; delete is
    not), so the path is absent only for the instant between two
    renames — not for the duration of a recursive delete.

    ``partition_by`` preserves a partitioned-layout contract across the
    swap (a replacement written flat would silently drop the per-
    partition directory layout downstream pruning relies on)."""
    tmp = path.rstrip("/") + "__tmp"
    old = path.rstrip("/") + "__old"
    writer = (
        df.repartition(*partition_by) if partition_by else df
    ).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    if os.path.exists(old):
        shutil.rmtree(old)
    had_old = os.path.exists(path)
    if had_old:
        os.rename(path, old)
    os.rename(tmp, path)
    if had_old:
        shutil.rmtree(old)


def registry_upsert(
    spark: SparkSession,
    path: str,
    new_rows: DataFrame,
    key_cols: Sequence[str],
) -> DataFrame:
    """S14 (listens/dump.py:188-208): read-modify-write upsert of a
    small Parquet registry — filter out rows matching new keys, union
    the new rows, swap atomically. (Delta MERGE is the table-format
    equivalent; plain Parquet keeps zero extra dependencies.)

    Fully distributed: ``atomic_swap_write`` materializes the merged
    dataset at a temp sibling path (so the job reads ``path`` while it
    is still intact) and only then renames it into place — no
    driver-side collect, so this is safe as the generic S14 primitive
    even when the "registry" is a dimension cache of millions of rows
    (``import.pg_metadata_tables`` routes through here)."""
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(
            new_rows.select(*key_cols).distinct(), on=list(key_cols), how="left_anti"
        )
        merged = keep.unionByName(new_rows)
    else:
        merged = new_rows
    atomic_swap_write(merged, path)
    return spark.read.parquet(path)
