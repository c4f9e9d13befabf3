"""Deterministic hash-based sampling and splitting.

Training-data pipelines need reproducible sampling that survives
reruns, engine changes, and data re-partitioning. RNG-based sampling
(``df.sample``/``sampleBy``) is none of those — its output depends on
partitioning and the engine's RNG stream. Hash sampling is the
standard fix: a row is in the sample iff ``md5(key)`` falls below a
threshold, so membership is a pure function of the key.

- ``hash_sample(df, key, fraction)``: ~fraction of rows, exactly
  reproducible anywhere md5 exists.
- ``hash_split(df, key, weights)``: disjoint exhaustive splits
  (train/val/test). Splitting on a *group* key (user id, document
  family) keeps groups intact across splits — the leakage-safe way to
  split supervised data.

Implementation detail: the first 8 hex chars of md5(key) are compared
against hex thresholds — string comparison on fixed-width hex equals
numeric comparison, so the same predicate runs in any SQL engine with
md5 (the portability property the whole oracle harness relies on).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPACE = 16**8  # first 8 hex chars


def _hex_threshold(fraction: float) -> str:
    return format(min(int(fraction * _SPACE), _SPACE - 1), "08x")


def hash_bucket(key: Column) -> Column:
    """The 8-hex-char sampling coordinate of a key."""
    return F.substring(F.md5(key.cast("string")), 1, 8)


def hash_sample(df: DataFrame, key_col: str, fraction: float) -> DataFrame:
    """Keep rows whose hash coordinate < fraction of the space."""
    return df.where(hash_bucket(F.col(key_col)) < _hex_threshold(fraction))


def split_label(key: Column, weights: Sequence[float], labels: Sequence[str]) -> Column:
    """Label column assigning each key to one split by hash range."""
    total = sum(weights)
    acc = 0.0
    expr = None
    coord = hash_bucket(key)
    for w, lab in zip(weights, labels):
        acc += w / total
        cond = coord < F.lit(_hex_threshold(acc))
        expr = F.when(cond, lab) if expr is None else expr.when(cond, lab)
    return expr.otherwise(labels[-1])


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    labels: Sequence[str] = ("train", "val", "test"),
) -> DataFrame:
    """Disjoint, exhaustive, reproducible splits keyed on ``key_col``
    (use a group key to keep groups un-leaked across splits)."""
    return df.withColumn("split", split_label(F.col(key_col), weights, labels))


def stratified_hash_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum reproducible sampling: each stratum keeps its own
    hash-threshold fraction (the deterministic form of ``sampleBy``).
    The workhorse of source-mix rebalancing in training-data pipelines
    — e.g. downsample crawl data to 10% while keeping 100% of curated
    sources — with membership still a pure function of (key, stratum
    fractions), independent of partitioning and engine.

    Salting the coordinate with the stratum keeps per-stratum samples
    independent: a key kept at 10% in one stratum is not automatically
    kept in another.
    """
    coord = F.substring(
        F.md5(F.concat_ws("|", F.col(stratum_col), F.col(key_col).cast("string"))),
        1,
        8,
    )
    expr = F.lit(_hex_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        expr = F.when(
            F.col(stratum_col) == stratum, F.lit(_hex_threshold(frac))
        ).otherwise(expr)
    return df.where(coord < expr)


def weighted_hash_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    rate_per_unit: float,
    max_weight: float,
) -> DataFrame:
    """Weighted Bernoulli sampling: P(keep) = weight × rate_per_unit
    (clamped at 1) with membership a pure function of the key — the
    deterministic form of importance-weighted data mixing (upsample
    high-quality docs, downsample boilerplate) used when building
    training mixes.

    The keep test compares the key's integer hash coordinate against
    ``weight × rate × space`` computed in integer space — no ln/pow,
    so the predicate is bit-identical in any engine with md5 (float
    transcendentals differ at ULP level across engines and would flip
    rows near the threshold).
    """
    coord = F.conv(hash_bucket(F.col(key_col)), 16, 10).cast("decimal(20,0)")
    threshold = F.least(
        (F.col(weight_col) * F.lit(rate_per_unit) * F.lit(_SPACE)).cast(
            "decimal(20,0)"
        ),
        F.lit(_SPACE).cast("decimal(20,0)"),
    )
    _ = max_weight  # documented calibration aid: rate_per_unit ≈ target_rate / max_weight
    return df.where(coord < threshold)
