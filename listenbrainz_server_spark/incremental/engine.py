"""Batch-incremental aggregation engine.

Re-implements the reference's IncrementalStatsEngine
(listenbrainz_spark/stats/incremental/incremental_stats_engine.py:25-227)
Spark-first:

- **partial aggregate**: the aggregate over the full/base data,
  materialized to Parquet with JSON bookkeeping (from/to/created) —
  engine.py:86-125;
- **freshness invalidation**: the partial is only reusable if its
  (from, to) range still matches the requested range — engine.py:64-84;
- **delta aggregate**: same aggregate over the incremental batch,
  filtered to rows with ``created`` after the bookkept high-water mark
  (processing-time watermark analog) — engine.py:127-142,154-165;
- **combine**: UNION ALL + re-GROUP BY + SUM — job-level partial/final
  aggregation — e.g. stats/incremental/user/artist.py:50-73;
- **affected-key pruning** (``only_affected``): recompute final stats
  only for keys present in the delta, via semi joins on both sides —
  engine.py:167-227, stats/incremental/user/entity.py:38-53. The
  reference's single cleverest trick: a daily delta touching 1% of
  users turns a full recompute into a 1% recompute.

State is explicit Parquet + JSON — resumable, testable, and exactly
what Structured Streaming state stores give up at this granularity.

Scale notes: the combine shuffles aggregate-cardinality rows, not
fact rows; the partial write is the lineage barrier that keeps daily
jobs from re-scanning the 100 TB base.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from listenbrainz_server_spark.operators.aggregates import combine_aggregates
from listenbrainz_server_spark.operators.joins import semi_join
from listenbrainz_server_spark.sources.sinks import atomic_swap_write


@dataclass
class IncrementalStat:
    """One incremental statistic definition.

    ``aggregate`` maps fact rows -> partial-aggregate rows; ``keys``
    are the group identity; ``sum_cols`` the combinable measures
    (sums/counts — the only combine the reference supports; see
    SURVEY.md §7.4 on the count-distinct approximation).
    """

    name: str
    aggregate: Callable[[DataFrame], DataFrame]
    keys: Sequence[str]
    sum_cols: Sequence[str]


def _columns(schema: StructType) -> list[tuple]:
    return [(f.name, f.dataType) for f in schema.fields]


class IncrementalEngine:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir
        # stat name -> the stored partial's schema (see load_partial)
        self._schemas: dict[str, StructType] = {}

    # -- state paths -------------------------------------------------
    def _agg_path(self, stat: IncrementalStat) -> str:
        return os.path.join(self.state_dir, stat.name, "aggregate")

    def _meta_path(self, stat: IncrementalStat) -> str:
        return os.path.join(self.state_dir, stat.name, "bookkeeping.json")

    # -- bookkeeping (engine.py:64-125 analog) -----------------------
    def _read_meta(self, stat: IncrementalStat) -> dict | None:
        try:
            with open(self._meta_path(stat)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _write_meta(self, stat: IncrementalStat, meta: dict) -> None:
        path = self._meta_path(stat)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(meta, f)
        os.replace(path + ".tmp", path)  # atomic on posix

    def partial_usable(
        self, stat: IncrementalStat, from_date: str, to_date: str
    ) -> bool:
        """Freshness check: stored range must equal the requested range
        (a rolled-over week/month invalidates the partial)."""
        meta = self._read_meta(stat)
        return (
            meta is not None
            and meta.get("from_date") == from_date
            and meta.get("to_date") == to_date
            and os.path.exists(self._agg_path(stat))
        )

    # -- partial / delta / combine ------------------------------------
    def create_partial(
        self,
        stat: IncrementalStat,
        full_df: DataFrame,
        from_date: str,
        to_date: str,
        created: str,
    ) -> DataFrame:
        """Aggregate the base data and persist (lineage barrier)."""
        self._write_partial(stat, stat.aggregate(full_df))
        self._write_meta(
            stat,
            {"from_date": from_date, "to_date": to_date, "created": created},
        )
        return self.load_partial(stat)

    def load_partial(self, stat: IncrementalStat) -> DataFrame:
        """The stored partial. Only the first read per stat on this
        handle infers the schema, which runs a ``parquet at`` job over
        the footers (~25-40 ms); later reads pass it to
        ``spark.read.schema``, so a fold's two reads (``combine``, then
        ``advance_partial``) run no job before the fold's own. The
        handle owns ``state_dir``: ``_write_partial`` keeps the memo
        only while the written columns match it.

        Measured and rejected: keeping the combined partial cached in
        memory instead of re-reading it. The cached lineage chains from
        fold to fold, and a fold grew from 0.73 to 2.6 s over four
        folds."""
        path = self._agg_path(stat)
        schema = self._schemas.get(stat.name)
        if schema is not None:
            return self.spark.read.schema(schema).parquet(path)
        df = self.spark.read.parquet(path)
        self._schemas[stat.name] = df.schema
        return df

    def _write_partial(self, stat: IncrementalStat, df: DataFrame) -> None:
        memo = self._schemas.get(stat.name)
        if memo is not None and _columns(memo) != _columns(df.schema):
            del self._schemas[stat.name]
        atomic_swap_write(df, self._agg_path(stat))

    def delta_aggregate(
        self, stat: IncrementalStat, delta_df: DataFrame, created_col: str | None = None
    ) -> DataFrame:
        """Aggregate an incremental batch; when ``created_col`` is set,
        only rows ingested after the bookkept high-water mark count
        (processing-time watermark, engine.py:154-165)."""
        meta = self._read_meta(stat)
        if created_col and meta and meta.get("created"):
            delta_df = delta_df.where(
                F.col(created_col) >= F.lit(meta["created"]).cast("timestamp")
            )
        return stat.aggregate(delta_df)

    def combine(
        self,
        stat: IncrementalStat,
        delta_agg: DataFrame,
        only_affected: bool = False,
    ) -> DataFrame:
        """Partial ⊎ delta re-aggregated; with ``only_affected``, both
        sides are semi-join-pruned to keys present in the delta
        (user/entity.py:38-53)."""
        partial = self.load_partial(stat)
        if only_affected:
            affected = delta_agg.select(*stat.keys).distinct()
            partial = semi_join(partial, affected, stat.keys)
        return combine_aggregates(partial, delta_agg, stat.keys, stat.sum_cols)

    def run(
        self,
        stat: IncrementalStat,
        full_df: DataFrame,
        delta_df: DataFrame,
        from_date: str,
        to_date: str,
        created: str,
        only_affected: bool = False,
    ) -> DataFrame:
        """Full lifecycle: reuse-or-build partial, aggregate delta,
        combine. Returns the combined aggregate DataFrame. ``delta_df``
        must hold only rows the partial lacks: callers pre-filter it
        (``delta_aggregate(created_col=...)`` applies the created
        high-water mark, engine.py:154-165).
        """
        if not self.partial_usable(stat, from_date, to_date):
            self.create_partial(stat, full_df, from_date, to_date, created)
        delta_agg = self.delta_aggregate(stat, delta_df)
        return self.combine(stat, delta_agg, only_affected=only_affected)

    def advance_partial(
        self, stat: IncrementalStat, combined: DataFrame, created: str
    ) -> DataFrame:
        """Persist a combined aggregate as the NEW partial — the state
        advance that lets incremental batches STACK (the reference's
        dump-import flow: incremental dump N folds into the
        materialized base that dump N+1 then builds on,
        listenbrainz_spark/tests/__init__.py:69-72). Written through
        ``atomic_swap_write``, because ``combined``'s lazy plan READS
        the current partial — overwriting it in place would pull the
        input out from under the scan — and the swap renames the old
        partial aside before deleting it, so a reader finds a complete
        partial at every point but the instant between two renames.
        Bumps the ``created`` high-water mark; the (from, to) range is
        unchanged."""
        meta = self._read_meta(stat) or {}
        self._write_partial(stat, combined)
        self._write_meta(stat, {**meta, "created": created})
        return self.load_partial(stat)

    def retract(
        self,
        stat: IncrementalStat,
        deleted_agg: DataFrame,
        count_col: str,
    ) -> DataFrame:
        """Apply DELETIONS to the stored partial without rebuilding it:
        the deleted rows' aggregate enters the ordinary combine with
        NEGATED measures, and groups whose ``count_col`` reaches zero
        drop out entirely. This is the aggregate-state form of the
        reference's listen-deletion flow (listens/delete.py applies
        tombstones, stats then recompute from scratch) — sums/counts
        are abelian-group measures, so retraction is exact and the
        full-history rescan is avoided. Requires deletions ⊆ the
        partial's input (enforced upstream by the tombstone anti-join,
        i_deletion_apply); measures must be exactly combinable
        (integer-quantize money first — float sums are not associative
        enough to survive subtract-then-compare).

        The combine is pruned to keys present in the deletion delta
        (P8), so a small erasure batch touches a small slice of state;
        the untouched remainder is unioned back verbatim.
        """
        neg = deleted_agg.select(
            *stat.keys,
            *[(-F.col(c)).alias(c) for c in stat.sum_cols],
        )
        partial = self.load_partial(stat)
        affected = neg.select(*stat.keys).distinct()
        touched = semi_join(partial, affected, stat.keys)
        untouched = partial.join(affected, list(stat.keys), "left_anti")
        merged = combine_aggregates(touched, neg, stat.keys, stat.sum_cols)
        return merged.unionByName(untouched).where(F.col(count_col) > 0)
