"""S6 — dump-archive transport (SURVEY.md §2.1).

The reference imports public listen dumps as tar archives whose
members are parquet files: the tar is walked sequentially, matching
members are extracted and landed on the cluster filesystem, then the
landed parquet is read, repartitioned, and recorded in an import-
metadata registry (listenbrainz_spark/hdfs/upload.py:23-65 —
extract_and_upload_archive; listens/dump.py:33-78 —
import_full_dump_to_hdfs / import_incremental_dump_to_hdfs;
dump.py:insert_dump_data for the bookkeeping row).

Spark-first shape of the same transport:

- The TAR WALK is inherently sequential — a tar has no central
  directory, so member offsets are only discoverable by streaming.
  That is true in the reference too; the driver streams the archive
  once (``mode="r|*"`` — any stdlib codec: gz/bz2/xz/plain — never
  materializing more than one member), which is I/O-bound, not
  CPU-bound.
- PARALLELISM starts the moment members land: the landed directory is
  read as ordinary parquet (splittable, column-pruned, predicate-
  pushed), so every downstream stage distributes normally. At 100 TB
  the dump is many archives; each archive's walk is one task of a
  driver-coordinated loop (or one executor task via a paths RDD), and
  the expensive part — decode, repartition, write — is always
  cluster-wide.
- Bookkeeping goes through the same ``registry_upsert`` swap pattern
  the reference uses for IMPORT_METADATA, so repeated imports of one
  dump id are idempotent.
"""

from __future__ import annotations

import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.session import local_frame
from listenbrainz_server_spark.sources.sinks import (
    append_coalesced,
    atomic_swap_write,
    registry_upsert,
)

IMPORT_METADATA_SCHEMA = "dump_id bigint, dump_type string, imported_at timestamp"


def extract_dump_archive(archive: str, local_dir: str) -> list[str]:
    """Stream a dump archive and extract its ``.parquet`` members
    into ``local_dir``; returns the extracted paths in archive order.

    Mirrors extract_and_upload_archive (hdfs/upload.py:23-54): member
    filter by extension, one member at a time, a corrupt member aborts
    the whole import (half-imported dumps must never look complete).
    ``mode="r|*"`` streams with any stdlib compression codec and never
    seeks, so archives larger than memory are fine.
    """
    extracted: list[str] = []
    with tarfile.open(archive, mode="r|*") as tar:
        for member in tar:
            if not (member.isfile() and member.name.endswith(".parquet")):
                continue
            # The reference aborts the import on any TarError
            # (DumpInvalidException); same contract, same reason.
            tar.extract(member, path=local_dir, filter="data")
            extracted.append(os.path.join(local_dir, member.name))
    return extracted


def import_dump(
    spark: SparkSession,
    archive: str,
    work_dir: str,
    listens_path: str,
    metadata_path: str,
    dump_id: int,
    dump_type: str = "full",
) -> DataFrame:
    """Import one dump archive: extract parquet members, land them as
    the listens dataset, record the import.

    ``dump_type="full"`` replaces the dataset via the atomic-swap
    pattern (process_full_listens_dump deletes existing listens first
    — listens/dump.py:33-55); ``"incremental"`` appends coalesced
    (incremental dumps accumulate in one location —
    listens/dump.py:57-80). Returns the 1-row import report the
    reference's handler returns as JSON (dump.py:83-99).
    """
    if dump_type not in ("full", "incremental"):
        raise ValueError(f"unknown dump_type {dump_type!r}")
    extract_dir = os.path.join(work_dir, f"dump_{dump_id}")
    members = extract_dump_archive(archive, extract_dir)
    if not members:
        raise ValueError(f"no parquet members in {archive}")

    listens = spark.read.parquet(*members)
    n_imported = listens.count()
    if dump_type == "full":
        atomic_swap_write(listens, listens_path)
    else:
        append_coalesced(listens, listens_path)
    # Report BOTH counts: the rows this archive contributed and the
    # landed dataset's total after the import (for a full import they
    # coincide; for an incremental they deliberately differ).
    n_total = spark.read.parquet(listens_path).count()

    meta = local_frame(
        spark, [(dump_id, dump_type)], "dump_id bigint, dump_type string"
    ).withColumn("imported_at", F.current_timestamp())
    registry_upsert(spark, metadata_path, meta, key_cols=("dump_id", "dump_type"))

    # The extracted members were only transport staging — the landed
    # parquet is the dataset now, so the work dir must not accumulate.
    import shutil

    shutil.rmtree(extract_dir, ignore_errors=True)

    return local_frame(
        spark,
        [(dump_id, dump_type, len(members), n_imported, n_total)],
        "dump_id bigint, dump_type string, n_members int, "
        "n_rows bigint, n_rows_total bigint",
    )
