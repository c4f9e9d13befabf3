"""t-digest mergeable quantile sketch (Dunning & Ertl, "Computing
extremely accurate quantiles using t-digests", arXiv:1902.04023 —
public algorithm; this is an independent implementation of the
MERGING variant).

Why this exists: the repo's robust-stats queries
(w_mad_outliers) document their 100 TB path as "swap the exact
per-group percentile for a mergeable sketch" — this is that sketch.
approx_percentile (x_approx_percentile) already covers the built-in
tier; t-digest adds the property the built-in KLL-style sketch does
not expose to callers: an EXPLICIT, driver-inspectable, mergeable
summary (means[] + weights[]) that can be persisted, unioned across
days/shards, and queried repeatedly without rescanning — the same
contract the reference's incremental engine gives its partial
aggregates (SURVEY §2.9).

Spark shape (the scale story):

  1. ``partition_digests``: ONE ``mapInPandas`` pass builds a local
     digest per (group, input-partition) — no shuffle; executors
     stream Arrow batches and keep O(δ) centroids per group.
  2. ``merge_digests``: groupBy(group) over the *sketches* — the only
     shuffle moves ~δ doubles per group per partition, not rows.
     Merging sorts centroids by mean and re-compresses (the standard
     merging-digest combine; associative up to the documented rank
     error, which is what the bounded-error audits check).
  3. ``quantile_of`` / ``digest_quantile``: interpolate the merged
     centroid CDF.

Determinism: for a fixed input partitioning the build is fully
deterministic (values sorted per group, centroids sorted by
(mean, weight) before merge). Across DIFFERENT partitionings the
estimate moves within the rank-error bound — consumers therefore
register bounded-error booleans (rank-of-estimate audits), never raw
estimates, as their hash-gated contract (the x_approx_percentile
pattern).
"""

from __future__ import annotations

import math
import sys
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The mapInPandas/applyInPandas functions below close over this
# module's pure helpers (build_digest, merge_centroid_sets). By
# default cloudpickle serializes importable-module functions BY
# REFERENCE, which breaks on executors whose Python workers don't
# have this package on sys.path (the driver harness builds its own
# vanilla session from an arbitrary cwd). Registering the module for
# by-value pickling ships the code with the closure instead.
try:  # cloudpickle >= 2.0 (vendored in pyspark >= 3.3)
    from pyspark import cloudpickle as _cp

    _cp.register_pickle_by_value(sys.modules[__name__])
except Exception:  # pragma: no cover - older pickler: import-path mode
    pass

# Compression δ of every digest: O(δ) centroids per group.
DELTA = 100


def _compress(means: np.ndarray, weights: np.ndarray, delta: int):
    """Greedy merging pass over mean-sorted centroids: grow the
    current cluster while its cumulative span stays inside the scale
    function's size bound k(q1) - k(q0) <= 1, with
    k(q) = δ/(2π)·asin(2q−1) (tight clusters at the tails, wide at
    the median — the t-digest accuracy shape)."""
    total = float(weights.sum())
    if total == 0.0:
        return [], []
    two_pi = 2.0 * math.pi

    def k(q: float) -> float:
        return delta / two_pi * math.asin(max(-1.0, min(1.0, 2.0 * q - 1.0)))

    def inv_k(kk: float) -> float:
        s = math.sin(kk * two_pi / delta)
        return (max(-1.0, min(1.0, s)) + 1.0) / 2.0

    out_m = [float(means[0])]
    out_w = [float(weights[0])]
    w_before = 0.0  # total weight in flushed clusters
    q_cap = total * inv_k(k(0.0) + 1.0)
    for m, w in zip(means[1:], weights[1:]):
        m, w = float(m), float(w)
        if w_before + out_w[-1] + w <= q_cap:
            nw = out_w[-1] + w
            out_m[-1] += (m - out_m[-1]) * w / nw
            out_w[-1] = nw
        else:
            w_before += out_w[-1]
            q_cap = total * inv_k(k(w_before / total) + 1.0)
            out_m.append(m)
            out_w.append(w)
    return out_m, out_w


def build_digest(values: np.ndarray):
    """Digest of a raw value array: sort, then one compress pass
    (each value enters as a weight-1 centroid)."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    return _compress(v, np.ones(len(v)), DELTA)


def merge_centroid_sets(means_list, weights_list):
    """Combine any number of digests: concatenate centroids, sort by
    (mean, weight) — the deterministic tie order — and re-compress."""
    m = np.concatenate([np.asarray(x, dtype=np.float64) for x in means_list])
    w = np.concatenate([np.asarray(x, dtype=np.float64) for x in weights_list])
    order = np.lexsort((w, m))
    return _compress(m[order], w[order], DELTA)


def quantile_of(means, weights, q: float) -> float:
    """Interpolated quantile from a digest: centroid i sits at
    cumulative position (sum of prior weights) + w_i/2; linear
    interpolation between neighbors, clamped to the extreme means."""
    if not len(means):
        return float("nan")
    m = np.asarray(means, dtype=np.float64)
    w = np.asarray(weights, dtype=np.float64)
    total = w.sum()
    target = q * total
    cum = np.cumsum(w)
    centers = cum - w / 2.0
    if target <= centers[0]:
        return float(m[0])
    if target >= centers[-1]:
        return float(m[-1])
    i = int(np.searchsorted(centers, target, side="right"))
    c0, c1 = centers[i - 1], centers[i]
    frac = (target - c0) / (c1 - c0) if c1 > c0 else 0.0
    return float(m[i - 1] + (m[i] - m[i - 1]) * frac)


def partition_digests(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Stage 1: one digest per (group, input partition), built in a
    single mapInPandas pass — zero shuffle; only O(δ) centroids per
    group LEAVE each partition. Build memory is bounded by the input
    partition (values buffer per group before one sort+compress —
    ≤ spark.sql.files.maxPartitionBytes, the same bound any in-task
    sort pays); folding each Arrow batch into a running digest would
    tighten that to O(δ) during the build at the cost of one
    merge-compress per batch — the upgrade path if partition sizes
    ever outgrow task memory."""
    g_t = df.schema[group_col].dataType.simpleString()
    schema = f"{group_col} {g_t}, means array<double>, weights array<double>"

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in batches:
            for g, vals in pdf.groupby(group_col, sort=False)[value_col]:
                acc.setdefault(g, []).append(vals.to_numpy(dtype=np.float64))
        if acc:
            rows = []
            for g in sorted(acc):
                m, w = build_digest(np.concatenate(acc[g]))
                rows.append((g, m, w))
            yield pd.DataFrame(rows, columns=[group_col, "means", "weights"])

    return df.select(group_col, value_col).mapInPandas(gen, schema)


def merge_digests(pdigests: DataFrame, group_col: str) -> DataFrame:
    """Stage 2: reduce each group's partition digests to one digest —
    the shuffle carries sketches, not rows."""
    g_t = pdigests.schema[group_col].dataType.simpleString()
    schema = f"{group_col} {g_t}, means array<double>, weights array<double>"

    def combine(pdf: pd.DataFrame) -> pd.DataFrame:
        m, w = merge_centroid_sets(list(pdf["means"]), list(pdf["weights"]))
        return pd.DataFrame(
            {group_col: [pdf[group_col].iloc[0]], "means": [m], "weights": [w]}
        )

    return pdigests.groupBy(group_col).applyInPandas(combine, schema)


def group_tdigest_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple = (0.5,),
) -> DataFrame:
    """End-to-end per-group quantile estimates: build → merge →
    interpolate. Returns (group, q, est) rows."""
    merged = merge_digests(partition_digests(df, group_col, value_col), group_col)
    qs = tuple(float(q) for q in qs)

    def to_quantiles(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = []
        for _, r in pdf.iterrows():
            for q in qs:
                rows.append(
                    (r[group_col], q, quantile_of(r["means"], r["weights"], q))
                )
        return pd.DataFrame(rows, columns=[group_col, "q", "est"])

    g_t = merged.schema[group_col].dataType.simpleString()
    return merged.groupBy(group_col).applyInPandas(
        to_quantiles, f"{group_col} {g_t}, q double, est double"
    )
