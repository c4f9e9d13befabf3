"""Query registry: every operator from SURVEY.md §2 as a named query.

Each entry pairs a Spark callable ``(spark, sf_dir) -> DataFrame`` with
an equivalent DuckDB oracle SQL string (None for genuinely
non-SQL-expressible ops — the driver then records a rows-only check).

Determinism rules for oracle comparability (driver hashes values
order-insensitively but exactly):
- every computed column is aliased identically on both sides;
- float aggregates are ROUNDed on both sides (sum → 2dp, ratios → 6dp)
  so summation-order ULP drift cannot flip the hash;
- Spark integer expressions are cast to BIGINT where DuckDB returns
  BIGINT (count/extract/etc.) so schemas line up;
- window orderings always carry a unique tie-break key;
- "random" orderings are derived from md5(key) — identical bytes in
  both engines.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def load_all() -> dict[str, Query]:
    """Import every query module so the registry is populated."""
    from listenbrainz_server_spark.queries import (  # noqa: F401
        analytics,
        api_variants,
        audits,
        curation,
        dedup,
        graph,
        incremental,
        layout,
        ml,
        multimodal,
        olap,
        recommendations,
        relational,
        similarity,
        sketches,
        stats,
        streaming,
        temporal,
        text,
        windows,
        year_in_music,
    )

    return REGISTRY
