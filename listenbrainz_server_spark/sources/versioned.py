"""Snapshot-versioned Parquet tables with as-of reads (time travel).

The reference's import pipeline keeps full/incremental dump
GENERATIONS side by side and tracks which one readers should see
(SURVEY §2.1 S2/S14: base ∪ incremental + registry bookkeeping);
table formats solve the same problem with a commit log (Delta/Iceberg
snapshots). This is the dependency-free core of that idea on plain
Parquet:

  * every commit writes a NEW immutable version directory
    ``root/v=N`` (atomic temp+rename — readers never see a partial
    dataset), then swaps a tiny JSON manifest naming the committed
    versions and the latest pointer;
  * reads resolve through the manifest: latest by default,
    ``version=N`` for time travel — an old report stays reproducible
    after new data lands, and a bad commit is one manifest edit away
    from rollback.

Scale notes: data writes are ordinary distributed Parquet jobs; the
manifest is O(versions) driver-side JSON, the same bookkeeping weight
as incremental/engine.py's state registry. Version directories are
self-contained snapshots (storage trades for O(1) rollback); for
delta-sized commits compose this with the incremental engine's
partials instead of full rewrites.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession

_MANIFEST = "_manifest.json"


def _manifest_path(root: str) -> str:
    return os.path.join(root, _MANIFEST)


def _read_manifest(root: str) -> dict:
    p = _manifest_path(root)
    if not os.path.exists(p):
        return {"versions": [], "latest": None}
    with open(p) as f:
        return json.load(f)


def _swap_manifest(root: str, manifest: dict) -> None:
    tmp = _manifest_path(root) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.replace(tmp, _manifest_path(root))  # atomic on posix


def commit_version(df: DataFrame, root: str) -> int:
    """Write ``df`` as the next version of the table at ``root`` and
    return its version number. The data directory is complete and
    fsync-renamed into place BEFORE the manifest points at it, so a
    crash between the two steps leaves an orphan directory, never a
    manifest naming missing data."""
    os.makedirs(root, exist_ok=True)
    m = _read_manifest(root)
    # max over ALL committed versions, not latest: after a manifest
    # rollback (latest pointed back at an older version) latest+1
    # would REUSE a committed number and destroy that snapshot.
    version = max([m["latest"] or 0, *m["versions"]], default=0) + 1
    final = os.path.join(root, f"v={version}")
    tmp = final + "__tmp"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(final):
        shutil.rmtree(final)  # orphan from a previous crashed commit
    os.rename(tmp, final)
    m["versions"].append(version)
    m["latest"] = version
    _swap_manifest(root, m)
    return version


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read the table as of ``version`` (time travel), or the latest
    committed snapshot when omitted."""
    m = _read_manifest(root)
    if m["latest"] is None:
        raise FileNotFoundError(f"no committed versions at {root}")
    v = m["latest"] if version is None else version
    if v not in m["versions"]:
        raise ValueError(
            f"version {v} not available at {root} "
            f"(committed: {m['versions']})"
        )
    return spark.read.parquet(os.path.join(root, f"v={v}"))
