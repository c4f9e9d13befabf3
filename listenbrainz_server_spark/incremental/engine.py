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

from listenbrainz_server_spark.operators.aggregates import combine_aggregates
from listenbrainz_server_spark.operators.joins import semi_join


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


class IncrementalEngine:
    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.state_dir = state_dir

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
        os.makedirs(os.path.dirname(self._meta_path(stat)), exist_ok=True)
        with open(self._meta_path(stat), "w") as f:
            json.dump(meta, f)

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
        agg = stat.aggregate(full_df)
        agg.write.mode("overwrite").parquet(self._agg_path(stat))
        self._write_meta(
            stat,
            {"from_date": from_date, "to_date": to_date, "created": created},
        )
        return self.spark.read.parquet(self._agg_path(stat))

    def load_partial(self, stat: IncrementalStat) -> DataFrame:
        return self.spark.read.parquet(self._agg_path(stat))

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
        listenbrainz_spark/tests/__init__.py:69-72). Writes to a temp
        directory and swaps, because ``combined``'s lazy plan READS
        the current partial — overwriting it in place would pull the
        input out from under the scan. Bumps the ``created``
        high-water mark; the (from, to) range is unchanged."""
        import shutil

        meta = self._read_meta(stat) or {}
        final = self._agg_path(stat)
        tmp = final + "__next"
        combined.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)
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
