"""Similarity-search queries over the embeddings table (SURVEY.md §7.5).

Brute-force cosine top-k (exactness baseline), sign-LSH bucketed ANN
(the scale path), and embedding-cosine near-dup pairs. DuckDB oracles
fold dot products in the same left-to-right double order.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.similarity import (
    as_double_sql,
    brute_force_topk,
    hyperplane_component,
    lsh_bucketed_topk,
    neardup_pairs,
    mmr_rerank,
)
from listenbrainz_server_spark.queries import register
from listenbrainz_server_spark.session import scratch_root

_DIMS = 64
_DOT = (
    "list_sum(list_transform(range(1, {d} + 1), "
    "i -> (a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)))"
).format(d=_DIMS)
_NORM_CTE = f"""
    norms AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM embeddings
    )
"""


# --------------------------------------------------------------------------
# Brute-force cosine top-k (k=5) — generalizes DIMSUM user similarity
# (similarity/user.py:89-115) to embedding columns.
# --------------------------------------------------------------------------
@register(
    "v_cosine_topk",
    f"""
    WITH {_NORM_CTE},
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT qid, nid, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
        FROM scored
    )
    SELECT qid, nid, score, rank FROM ranked WHERE rank <= 5
    """,
    doc="exact cosine top-5 neighbors per vector (brute force baseline)",
)
def v_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, "vec_id", "embedding", k=5).select(
        "qid", "nid", "score", "rank"
    )


# --------------------------------------------------------------------------
# Sign-LSH bucketed ANN top-k — the 100TB path: bucket on a hyperplane
# signature, exact re-rank within buckets only.
#
# Signature sizing: the operator default auto-sizes
# sig_bits = ceil(log2(n / TARGET_BUCKET_ROWS)) from the corpus
# (operators/similarity.py sized_sig_bits) so expected bucket
# population — and with it the quadratic in-bucket re-rank — stays
# bounded as n grows. The REGISTERED fixtures below pin sig_bits=8
# only because the DuckDB oracle is a static SQL string: 8 bits on the
# ~500-vector sf0.01 fixture gives ≈2 rows per bucket, i.e. exactly
# what the rule would target at 100× the fixture.
# --------------------------------------------------------------------------
_SIG_BITS = 8


def _sig_sql_expr() -> str:
    """The sign-LSH signature bitstring as a DuckDB expression over
    ``embedding`` — shared by the v_lsh_* oracles and v_bucket_stats."""
    bit_exprs = []
    for h in range(_SIG_BITS):
        comps = ", ".join(
            str(float(hyperplane_component(h, d))) for d in range(_DIMS)
        )
        proj = (
            f"list_sum(list_transform(range(1, {_DIMS} + 1), "
            f"i -> (embedding[i]::DOUBLE) * ([{comps}][i])))"
        )
        bit_exprs.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(bit_exprs)


def _lsh_sql() -> str:
    sig = _sig_sql_expr()
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT qid, nid, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
        FROM scored
    )
    SELECT qid, nid, score, rank FROM ranked WHERE rank <= 5
    """


@register(
    "v_lsh_topk",
    _lsh_sql(),
    doc=f"sign-LSH bucketed ANN top-5 ({_SIG_BITS}-bit signature, exact re-rank in bucket)",
)
def v_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(
        emb, "vec_id", "embedding", dims=_DIMS, k=5, sig_bits=_SIG_BITS
    ).select("qid", "nid", "score", "rank")


# --------------------------------------------------------------------------
# Embedding-cosine near-dup pairs (dedup via embeddings).
# --------------------------------------------------------------------------
@register(
    "v_embedding_neardup",
    f"""
    WITH {_NORM_CTE}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
    FROM norms a JOIN norms b ON a.vec_id < b.vec_id
    WHERE {_DOT} / (a.nrm * b.nrm) >= 0.4
    """,
    doc="embedding-cosine near-duplicate pairs (score ≥ 0.4)",
)
def v_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(emb, "vec_id", "embedding", threshold=0.4)


# --------------------------------------------------------------------------
# Banded RANGE SEARCH — the radius-query API next to top-k (FAISS
# range_search, pgvector '<=>' + WHERE): all pairs with cosine >=
# threshold. A single wide signature bucket is the WRONG construction
# for radius queries (p^24 ~ 0 at cos 0.4 — measured 4/59 pairs);
# the banded OR-construction (B=8 bands x R=3 bits, the MinHash-LSH
# banding shape transplanted to sign-LSH) recovers 0.93 recall on the
# fixture (pinned by test) with bucket-bounded candidate volume. The
# oracle mirrors the banding exactly, so agreement is bit-for-bit;
# recall vs the exact v_embedding_neardup is a separate test.
# --------------------------------------------------------------------------
_RS_BANDS, _RS_BITS = 8, 3


def _range_search_sql() -> str:
    bit_exprs = []
    for h in range(_RS_BANDS * _RS_BITS):
        comps = ", ".join(
            str(float(hyperplane_component(h, d))) for d in range(_DIMS)
        )
        proj = (
            f"list_sum(list_transform(range(1, {_DIMS} + 1), "
            f"i -> (embedding[i]::DOUBLE) * ([{comps}][i])))"
        )
        bit_exprs.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    sig = " || ".join(bit_exprs)
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM embeddings
    ),
    bands AS (
        SELECT vec_id, b AS band_id,
               substr(sig, b * {_RS_BITS} + 1, {_RS_BITS}) AS bk
        FROM sigs, UNNEST(range(0, {_RS_BANDS})) AS t(b)
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.bk = b.bk AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
    FROM cand JOIN sigs a ON a.vec_id = id_a JOIN sigs b ON b.vec_id = id_b
    WHERE a.nrm <> 0 AND b.nrm <> 0
      AND ROUND({_DOT} / (a.nrm * b.nrm), 6) >= 0.4
    """


@register(
    "v_range_search",
    _range_search_sql(),
    doc=f"banded radius search: cosine >= 0.4 pairs via "
    f"{_RS_BANDS}x{_RS_BITS}-bit sign-LSH OR-construction + exact "
    "filter (the scale path for v_embedding_neardup)",
)
def v_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import banded_range_search

    emb = load_table(spark, sf_dir, "embeddings")
    return banded_range_search(
        emb, "vec_id", "embedding", dims=_DIMS, threshold=0.4,
        bands=_RS_BANDS, band_bits=_RS_BITS,
    )


# --------------------------------------------------------------------------
# Recall-audit harness for the trained-quantizer ANN tiers:
# KMeans/PCA training is not SQL-expressible, so the raw
# top-k can't be hashed cross-engine — but the CHECK can. Each tier's
# registered form joins its own top-5 against the exact brute-force
# top-5 computed in the same query and emits one row: the exact
# side's counts (which the oracle reproduces bit-for-bit), the pinned
# recall floor as a literal, and recall >= floor as a boolean. A
# quantizer regression that drops recall below the floor flips the
# boolean and fails the driver hash gate; the serving form (raw
# top-k) remains the operator function each wrapper calls. Floors are
# pinned ~0.08 under the measured fixture recall at both SFs
# (deterministic: seeded trainers, fixed fixtures).
# --------------------------------------------------------------------------
def _recall_audit(emb: DataFrame, approx: DataFrame, floor: float) -> DataFrame:
    exact = brute_force_topk(emb, "vec_id", "embedding", k=5).select("qid", "nid")
    a = approx.select(F.col("qid").alias("aqid"), F.col("nid").alias("anid"))
    joined = exact.join(
        a, (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")), "left"
    )
    return joined.agg(
        F.count_distinct("qid").cast("bigint").alias("n_queries"),
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.lit(float(floor)).alias("floor"),
        (
            F.count("anid").cast("double") / F.count(F.lit(1))
            >= F.lit(float(floor))
        ).alias("recall_ge_floor"),
    )


def _recall_audit_sql(floor: float) -> str:
    return f"""
    WITH {_NORM_CTE},
    exact AS (
        SELECT qid, nid FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND({_DOT} / (a.nrm * b.nrm), 6) DESC,
                                b.vec_id) AS rank
            FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
        ) WHERE rank <= 5
    )
    SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) AS n_queries,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           {float(floor)} AS floor,
           TRUE AS recall_ge_floor
    FROM exact
    """


# --------------------------------------------------------------------------
# IVF-PQ ANN top-k — the full FAISS IVFPQ composition: KMeans coarse
# lists + residual-encoded PQ/ADC scoring inside probed lists + exact
# re-rank of the ADC survivors. Registered as its recall audit
# (measured 0.505/0.53 at sf0.001/sf0.01); raw top-k = ivfpq_topk.
# --------------------------------------------------------------------------
@register(
    "v_ivfpq_topk",
    _recall_audit_sql(0.40),
    doc="IVF-PQ ANN top-5: KMeans coarse lists + residual PQ/ADC "
    "candidate scoring + exact re-rank, at the auto dial triple "
    "(nlist=sqrt(n), n_probe=sqrt(nlist), oversample=2*n_probe); "
    "registered form is the recall@5 >= 0.40 audit vs in-query "
    "brute force (hash-gated); serving form = "
    "operators.similarity.ivfpq_topk",
)
def v_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # The registered audit runs the AUTO triple, not pinned
    # integers. The sf0.1 oracle sweep (CHECK_sf01_r13) caught the
    # old fixed dial (n_centroids=8, n_probe=2, oversample=8, tuned at
    # sf0.001/0.01) reading recall < 0.40 at sf0.1 — the same decay
    # mode the recall smoke found for fixed n_probe: a fixed candidate
    # budget scans a vanishing fraction as n grows. The audit's
    # "recall >= floor" claim must hold at every gated scale, so it
    # audits the dial a scale operator would actually run; the oracle
    # side (exact counts + floor) is dial-independent, so no churn.
    # m=8 (8-dim subspaces): the ADC stage loses little — recall is
    # probe-bound (measured 91% of the IVF ceiling at equal probes).
    approx = ivfpq_topk(
        emb, "vec_id", "embedding", dims=_DIMS, k=5,
        n_centroids="auto", n_probe="auto", m=8, k_sub=16,
        oversample="auto",
    )
    return _recall_audit(emb, approx, floor=0.40)


# --------------------------------------------------------------------------
# OPQ-encoded IVFPQ: the serving composition of the
# v_opq_rotation tier — rotate the corpus with the learned OPQ R
# (one Arrow matmul pass; R is orthogonal, so rotation commutes with
# unit-normalization and cosine ranking is preserved exactly), then
# run the UNCHANGED IVFPQ pipeline on the rotated frame. The PQ
# codebooks inside ivfpq_topk retrain on rotated data, which is
# exactly OPQ's final state; recall measured 0.537/0.525 at
# sf0.001/sf0.01 vs plain IVFPQ's 0.505/0.53 — the rotation costs no
# recall while the v_opq_rotation audit shows it cuts reconstruction
# MSE ~10%. Registered as the recall audit (floor 0.42, above the
# plain-IVFPQ tier's 0.40); the exact side of the audit runs on the
# ORIGINAL frame — rotation-invariant cosine makes its top-5 sets
# equal the rotated ones, so comparing rotated-ANN ids against
# unrotated-exact ids is exact, and the oracle's unrotated counts
# match for free.
# --------------------------------------------------------------------------
@register(
    "v_opq_ivfpq_topk",
    _recall_audit_sql(0.42),
    doc="OPQ-encoded IVFPQ ANN top-5: corpus rotated by the learned "
    "OPQ R (orthogonal — cosine ranking preserved exactly), then the "
    "unchanged KMeans-coarse + residual-PQ/ADC + exact-re-rank "
    "pipeline; registered form is the recall@5 >= 0.42 audit vs "
    "in-query brute force (hash-gated; measured 0.537/0.525, vs "
    "plain IVFPQ 0.505/0.53 — rotation costs no recall while cutting "
    "reconstruction MSE ~10%, see v_opq_rotation)",
)
def v_opq_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from listenbrainz_server_spark.operators.similarity import (
        ivfpq_topk,
        opq_train,
        unit_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    unit = unit_vectors(emb, "vec_id", "embedding", pin=True)
    R, _books, _trace = opq_train(unit, "vec", _DIMS, m=8, k_sub=16)
    Rm = np.array(R)

    def rot(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "embedding": list((V @ Rm).astype("float32")),
                }
            )

    # Scratch parquet, not localCheckpoint: the IVFPQ pipeline
    # re-scans its input several times (trainer sample, index pass,
    # probe/member sides) and checkpointed UnsafeRow blocks pay
    # full-row deserialization per scan, while parquet re-scans stay
    # vectorized + pruned (measured: brute-force on the checkpointed
    # frame 8.1 s vs 2-3 s on parquet, same data). float32 matches the
    # source column type — the downstream quantizer re-normalizes and
    # re-rounds, so the cast costs nothing the PQ didn't already.
    # The copy is corpus-sized, so it is removed in the finally rather
    # than kept until the scratch root goes at exit. The audit result
    # is a 1-row aggregate, so eagerly checkpointing it before the
    # delete is free and the UnsafeRow-rescans trap above doesn't apply
    # to the OUTPUT.
    scratch = tempfile.mkdtemp(prefix="opq_rotated_", dir=scratch_root(spark))
    rotated_path = scratch + "/rotated"
    try:
        emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).mapInPandas(rot, "vec_id bigint, embedding array<float>").write.parquet(
            rotated_path
        )
        rotated = spark.read.parquet(rotated_path)
        # Auto dial triple, same reasoning as v_ivfpq_topk — the
        # fixed (8, 2, 8) dial read recall < 0.42 at sf0.1 in the
        # CHECK_sf01_r13 sweep; the oracle is dial-independent.
        approx = ivfpq_topk(
            rotated, "vec_id", "embedding", dims=_DIMS, k=5,
            n_centroids="auto", n_probe="auto", m=8, k_sub=16,
            oversample="auto",
        )
        # Exact side on the ORIGINAL frame: rotation preserves cosine
        # ranking, so these are the true exact neighbors (and the
        # parquet source scans faster than any re-derived frame).
        return _recall_audit(emb, approx, floor=0.42).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


# --------------------------------------------------------------------------
# IVF ANN top-k — learned coarse quantizer (seeded KMeans) + probed
# bucket search. Registered as its recall audit (measured 0.536/0.57
# at sf0.001/sf0.01); raw top-k = ivf_topk.
# --------------------------------------------------------------------------
@register(
    "v_ivf_topk",
    _recall_audit_sql(0.45),
    doc="IVF ANN top-5: KMeans coarse quantizer, n_probe=2 bucket probe, "
    "exact cosine re-rank; registered form is the recall@5 >= 0.45 "
    "audit vs in-query brute force (hash-gated); serving form = "
    "operators.similarity.ivf_topk",
)
def v_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    approx = ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids=8, n_probe=2)
    return _recall_audit(emb, approx, floor=0.45)


# --------------------------------------------------------------------------
# Multi-probe sign-LSH ANN top-k: each query probes its own signature
# bucket plus all Hamming-distance-1 buckets — the standard recall
# boost without growing the bucket count. Pure column expressions
# (zero Python workers); fully SQL-expressible, so the oracle checks
# it exactly.
# --------------------------------------------------------------------------
def _lsh_multiprobe_sql() -> str:
    bit_exprs = []
    for h in range(_SIG_BITS):
        comps = ", ".join(
            str(float(hyperplane_component(h, d))) for d in range(_DIMS)
        )
        proj = (
            f"list_sum(list_transform(range(1, {_DIMS} + 1), "
            f"i -> (embedding[i]::DOUBLE) * ([{comps}][i])))"
        )
        bit_exprs.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    sig = " || ".join(bit_exprs)
    flips = "\n        UNION ALL ".join(
        "SELECT vec_id, embedding, nrm, "
        f"substr(sig, 1, {i}) || (CASE WHEN substr(sig, {i + 1}, 1) = '1' "
        f"THEN '0' ELSE '1' END) || substr(sig, {i + 2}) AS psig FROM sigs"
        for i in range(_SIG_BITS)
    )
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id, embedding, nrm, sig AS psig FROM sigs
        UNION ALL {flips}
    ),
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM probes a JOIN sigs b ON a.psig = b.sig AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT qid, nid, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
        FROM scored
    )
    SELECT qid, nid, score, rank FROM ranked WHERE rank <= 5
    """


@register(
    "v_lsh_multiprobe",
    _lsh_multiprobe_sql(),
    doc=f"multi-probe sign-LSH ANN top-5 (Hamming-1 probe fan-out over "
    f"{_SIG_BITS}-bit buckets, pure-expression exact re-rank)",
)
def v_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import lsh_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # vectorized=False: with the fixture-pinned 8-bit signature the
    # buckets hold a handful of rows, so the pure-expression re-rank
    # beats Arrow worker spin-up (measured 2.6 vs 2.9 s at sf0.1); the
    # corpus-sized callers (v_mmr_rerank's candidate stage) take the
    # vectorized default instead.
    return lsh_multiprobe_topk(
        emb, "vec_id", "embedding", dims=_DIMS, k=5, sig_bits=_SIG_BITS,
        n_flip=1, vectorized=False,
    )


# The SERVING dial of the multiprobe family, driver-gated: the
# corpus-sized signature (sized_sig_bits) + the radius scaled with it
# (resolve_n_flip('auto') = clamp(ceil(bits/6), 2, 3)) — the v_lsh_topk
# / v_lsh_multiprobe audits above keep their FIXED fixture dials (their
# oracles mirror the bucketing bit-for-bit), so without this entry the
# dial an operator would actually turn was guarded only by
# tools/recall_smoke.py. Registered as a recall audit: the oracle
# (exact counts + constant flag) is dial-independent, same contract as
# v_ivfpq_topk. Floor 0.45 = the smoke floor (measured 0.7297 at
# sf0.1, 0.96 at sf1; the fixture reads higher still — at n=200 the
# sized signature is 4 bits and radius 2 probes 11/16 buckets).
@register(
    "v_lsh_auto_topk",
    _recall_audit_sql(0.45),
    doc="multi-probe sign-LSH ANN top-5 at the SERVING dial "
    "(sig_bits=sized_sig_bits(n), n_flip='auto'=clamp(ceil(bits/6),2,3)); "
    "registered form is the recall@5 >= 0.45 audit vs in-query brute "
    "force (hash-gated; measured 0.7297/0.96 at sf0.1/sf1)",
)
def v_lsh_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import lsh_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings")
    approx = lsh_multiprobe_topk(
        emb, "vec_id", "embedding", dims=_DIMS, k=5, sig_bits=None,
        n_flip="auto",
    )
    return _recall_audit(emb, approx, floor=0.45)


# --------------------------------------------------------------------------
# Product-quantization ANN top-k. The memory-bound tier: candidates
# score from 2-byte codes, not raw vectors; composes with any coarse
# index (IVF-PQ shape). Registered as its recall audit (measured
# 0.105/0.127 at sf0.001/sf0.01 — the LSH-bucketed candidate stage +
# coarse 8x8 codes bound it; the floor pins the measured band, the
# ADC-vs-exact agreement itself is pytest-pinned); raw top-k =
# pq_topk.
# --------------------------------------------------------------------------
@register(
    "v_pq_topk",
    _recall_audit_sql(0.08),
    doc="product-quantization ADC ANN top-5 over sign-LSH buckets with "
    "exact re-rank (Jégou et al. PQ); registered form is the "
    "recall@5 >= 0.08 audit vs in-query brute force (hash-gated); "
    "serving form = operators.similarity.pq_topk",
)
def v_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    approx = pq_topk(
        emb,
        "vec_id",
        "embedding",
        dims=_DIMS,
        k=5,
        m=8,
        k_sub=8,
        train_fraction=0.5,
    )
    return _recall_audit(emb, approx, floor=0.08)


# --------------------------------------------------------------------------
# Embedding-dedup pipeline: cosine near-dup pairs (>= 0.4) feed
# connected components; each vector maps to its group representative
# (min id) — semantic dedup, the embedding-space twin of the text
# pipeline's d_dup_groups. Oracle: exact pair join + recursive-CTE
# closure.
# --------------------------------------------------------------------------
@register(
    "v_embedding_dup_groups",
    f"""
    WITH RECURSIVE {_NORM_CTE},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM norms a JOIN norms b ON a.vec_id < b.vec_id
        WHERE {_DOT} / (a.nrm * b.nrm) >= 0.4
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    closure(id, reach) AS (
        SELECT vec_id, vec_id FROM embeddings
        UNION
        SELECT c.id, e.dst FROM closure c JOIN edges e ON c.reach = e.src
    )
    SELECT id AS vec_id, MIN(reach) AS group_id FROM closure GROUP BY id
    """,
    doc="embedding semantic-dedup groups: cosine near-dup pairs -> "
    "connected components -> min-id representative",
)
def v_embedding_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.dedup import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = neardup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    return connected_components(
        emb.select("vec_id"), pairs.select("id_a", "id_b"), id_col="vec_id"
    )


# --------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023): cluster-bounded semantic dedup — the
# scale path between v_embedding_dup_groups (exact all-pairs edges)
# and v_range_search (banded, recall < 1 by construction). KMeans
# bounds the quadratic pair term by cluster population; within-cluster
# pairs are exact; the keep rule is the paper's least-prototypical
# member. Rows-only (iterative trainer); the partition/witness/keeper
# /recall properties are pinned in tests/test_similarity_blocks.py.
# --------------------------------------------------------------------------
@register(
    "d_semdedup",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           TRUE AS partition_ok,
           TRUE AS keeper_rule_ok,
           TRUE AS groups_rooted
    FROM embeddings
    """,
    doc="SemDeDup cluster-bounded semantic dedup: seeded KMeans -> "
    "per-cluster exact cosine gram (one Arrow pass per cluster) -> "
    "CC groups -> keep the least-prototypical member (lowest cosine "
    "to centroid, ties to min id). Registered form is the hash-gated "
    "contract audit over the full assignment frame: every vector "
    "assigned exactly once with one keeper per group, the kept "
    "member is the least-prototypical, group ids are min-member "
    "rooted (cluster ids are KMeans-dependent, so the raw frame "
    "can't hash cross-engine; serving form = operators.similarity"
    ".semdedup; witness/recall stay pytest-pinned)",
)
def d_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings")
    sd = semdedup(emb, "vec_id", "embedding", dims=_DIMS, n_clusters=16, tau=0.4)
    # Per-group contract columns (groups are small; one keyed agg).
    # cos_center is NULL only for zero-norm singletons — coalesce to 2
    # (above any cosine) keeps the struct-min total without disturbing
    # real comparisons.
    cos = F.coalesce(F.col("cos_center"), F.lit(2.0))
    grp = sd.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count_if(F.col("keep")).alias("n_keep"),
        F.min("vec_id").alias("min_id"),
        F.min(F.struct(cos.alias("c"), F.col("vec_id").alias("i"))).alias("best"),
        F.min(
            F.when(F.col("keep"), F.struct(cos.alias("c"),
                                           F.col("vec_id").alias("i")))
        ).alias("kept"),
    )
    checks = grp.agg(
        F.every(F.col("n_keep") == 1).alias("one_keeper"),
        # Compare the COSINE component only: the operator picks the
        # keeper on unrounded cos_center but outputs 6dp-rounded
        # values, so a rounding tie with inverted vid order would
        # flip a full-struct equality on a correct result; the
        # min-vid tie-break at true equality stays pytest-pinned on
        # the operator.
        F.every(F.col("kept.c") == F.col("best.c")).alias("keeper_rule_ok"),
        F.every(F.col("group_id") == F.col("min_id")).alias("groups_rooted"),
        F.sum("n_members").cast("bigint").alias("n_assigned"),
    )
    n_vec = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return n_vec.crossJoin(F.broadcast(checks)).select(
        "n_vectors",
        (F.col("one_keeper") & (F.col("n_assigned") == F.col("n_vectors"))).alias(
            "partition_ok"
        ),
        "keeper_rule_ok",
        "groups_rooted",
    )


# --------------------------------------------------------------------------
# Incremental ANN index maintenance: the reference's partial/delta
# combine (stats/incremental) applied to the signature index. The
# "base" index is built from existing vectors and persisted; a delta
# batch of new vectors is indexed ALONE (delta-sized work, never a
# full rebuild) and appended. The combined index must be
# indistinguishable from indexing everything at once — the oracle
# computes every signature directly, so the check is exact.
# --------------------------------------------------------------------------
def _incr_index_sql() -> str:
    bit_exprs = []
    for h in range(_SIG_BITS):
        comps = ", ".join(
            str(float(hyperplane_component(h, d))) for d in range(_DIMS)
        )
        proj = (
            f"list_sum(list_transform(range(1, {_DIMS} + 1), "
            f"i -> (embedding[i]::DOUBLE) * ([{comps}][i])))"
        )
        bit_exprs.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    sig = " || ".join(bit_exprs)
    return f"SELECT vec_id, {sig} AS sig FROM embeddings"


@register(
    "v_incremental_index",
    _incr_index_sql(),
    doc="incremental ANN index maintenance: persisted base signatures "
    "+ delta-only indexing of new vectors == full recompute",
)
def v_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import as_double, lsh_signature
    from listenbrainz_server_spark.sources.sinks import atomic_swap_write

    emb = load_table(spark, sf_dir, "embeddings")

    def index_of(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id",
            lsh_signature(as_double_sql("embedding"), _DIMS, _SIG_BITS).alias(
                "sig"
            ),
        )

    # "Existing" corpus = 90% of vectors; the delta batch = the rest.
    base_rows = emb.where(F.col("vec_id") % 10 != 7)
    delta_rows = emb.where(F.col("vec_id") % 10 == 7)

    state = tempfile.mkdtemp(prefix="ann_index_", dir=scratch_root(spark))
    state += "/sig_index"
    atomic_swap_write(index_of(base_rows), state)

    # Incremental step: index ONLY the delta, append to the state.
    index_of(delta_rows).write.mode("append").parquet(state)
    return spark.read.parquet(state)


# --------------------------------------------------------------------------
# Delta-only IVFPQ index maintenance: the LSH tier's
# v_incremental_index extended to the trained-artifact tier. The base
# corpus trains coarse centers + residual codebooks ONCE; a delta
# batch is encoded against the FROZEN artifacts (ivfpq_encode — a pure
# per-row function, so delta ∪ base ≡ full re-encode exactly,
# tests/test_similarity_blocks.py) and APPENDED to the
# bucket-partitioned index — only the delta's coarse lists gain files,
# untouched lists' files are byte-stable (affected-list pruning,
# pinned). The refit-vs-append decision is the v_embedding_drift
# centroid-shift stat repurposed: n-weighted mean L2 between each
# list's delta-mean and its stored center (organic delta ≈ 0.35 on the
# fixtures = the small-sample noise floor; a +0.5 constant-offset
# distribution shift ≈ 0.95; threshold 0.6). Rows-only: the artifacts
# come from iterative trainers (same contract as v_ivfpq_topk); the
# delta≡full, trigger, and pruning properties are pytest-pinned.
# --------------------------------------------------------------------------
_DRIFT_REFIT_THRESHOLD = 0.6


@register(
    "v_ivfpq_delta_index",
    """
    SELECT CAST(COUNT_IF(vec_id % 10 != 7) AS BIGINT) AS n_base,
           CAST(COUNT_IF(vec_id % 10 = 7) AS BIGINT) AS n_delta,
           TRUE AS index_complete,
           TRUE AS action_append
    FROM embeddings
    """,
    doc="delta-only IVFPQ maintenance: frozen-artifact delta encode + "
    "bucket-partitioned append, centroid-shift refit trigger; "
    "registered form is the hash-gated audit (base/delta counts the "
    "oracle reproduces + index-completeness and append-path "
    "booleans); delta==full + trigger + affected-list pruning stay "
    "pytest-pinned (bucket ids are KMeans-dependent, so the "
    "per-bucket frame itself can't hash cross-engine)",
)
def v_ivfpq_delta_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import (
        ivf_drift_report,
        ivfpq_encode,
        ivfpq_should_refit,
        ivfpq_train_artifacts,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 7)
    delta = emb.where(F.col("vec_id") % 10 == 7)

    centers, books = ivfpq_train_artifacts(
        base, "vec_id", "embedding", dims=_DIMS, n_centroids=8, m=8
    )
    state = tempfile.mkdtemp(prefix="ivfpq_index_", dir=scratch_root(spark))
    state += "/index"
    # repartition BY THE BUCKET COLUMN before the partitioned write:
    # the encode frame is 32-way partitioned (unit_vectors), and
    # partitionBy from there fans out partitions × buckets tiny files
    # (measured: the file explosion cost more than the parallel encode
    # saved); bucket-aligned shuffle writes one file per list.
    ivfpq_encode(base, "vec_id", "embedding", centers, books).repartition(
        "bucket"
    ).write.partitionBy("bucket").parquet(state)

    # Delta-sized work only: encode the batch against the frozen
    # artifacts, measure drift, and append (the organic fixture delta
    # sits at the noise floor, far under the refit threshold — the
    # refit branch is exercised by the pytest property, not here).
    delta_idx = ivfpq_encode(
        delta, "vec_id", "embedding", centers, books, keep_vec=True
    ).localCheckpoint(eager=True)
    drift = ivf_drift_report(delta_idx, centers)
    refit = ivfpq_should_refit(drift, _DRIFT_REFIT_THRESHOLD)
    action = "refit" if refit else "append"
    if refit:  # pragma: no cover — fixture deltas never drift this far
        centers, books = ivfpq_train_artifacts(
            emb, "vec_id", "embedding", dims=_DIMS, n_centroids=8, m=8
        )
        from listenbrainz_server_spark.sources.sinks import atomic_swap_write

        # partition_by preserves the bucket-directory contract the
        # append path and affected-list pruning rely on — a flat
        # rewrite after a refit would silently void both.
        atomic_swap_write(
            ivfpq_encode(emb, "vec_id", "embedding", centers, books),
            state,
            partition_by=["bucket"],
        )
    else:
        delta_idx.drop("vec").repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(state)

    # Hash-gated audit row: the oracle reproduces the base/delta
    # counts exactly; index_complete pins that the append path neither
    # lost nor duplicated a row (every vector present exactly once in
    # the combined index); action_append pins that the organic fixture
    # delta stays under the refit threshold.
    idx = spark.read.parquet(state).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_distinct("nid").alias("n_ids"),
    )
    counts = emb.agg(
        F.count_if(F.col("vec_id") % 10 != 7).cast("bigint").alias("n_base"),
        F.count_if(F.col("vec_id") % 10 == 7).cast("bigint").alias("n_delta"),
    )
    return counts.crossJoin(F.broadcast(idx)).select(
        "n_base",
        "n_delta",
        (
            (F.col("n_rows") == F.col("n_base") + F.col("n_delta"))
            & (F.col("n_ids") == F.col("n_base") + F.col("n_delta"))
        ).alias("index_complete"),
        F.lit(action == "append").alias("action_append"),
    )


# --------------------------------------------------------------------------
# Scalar-quantized (SQ8) ANN: per-dimension global min/max → 8-bit
# bucket per element → candidate generation on DEQUANTIZED vectors →
# exact re-rank of the top candidates on the raw floats. At 100 TB the
# point is memory/bandwidth: an int8 corpus is 4× smaller than fp32,
# so the candidate scan streams 4× more vectors per byte of I/O while
# the exact tier only ever touches candidate_mult × k rows per query.
# Plan shape: 128 partial-agg min/max (map-side combine, one 1-row
# stats frame, broadcast — never collected), a map-only quantize
# projection, then the same blocked-broadcast candidate matmul the
# exact tier uses, and a window re-rank. Deterministic end to end:
# ranking on ROUNDed scores with neighbor-id tie-breaks.
# --------------------------------------------------------------------------
_SQ_CAND = 20  # candidate_mult (4) × k (5)


def _sq8_sql() -> str:
    mins = ", ".join(f"MIN(embedding[{i + 1}]::DOUBLE)" for i in range(_DIMS))
    maxs = ", ".join(f"MAX(embedding[{i + 1}]::DOUBLE)" for i in range(_DIMS))
    step = "((b.mx[i] - b.mn[i]) / 256.0)"
    return f"""
    WITH bounds AS (
        SELECT [{mins}] AS mn, [{maxs}] AS mx FROM embeddings
    ),
    dq AS (
        SELECT e.vec_id, e.embedding,
               list_transform(range(1, {_DIMS} + 1), i ->
                   CASE WHEN (b.mx[i] - b.mn[i]) > 0
                        THEN b.mn[i]
                             + (LEAST(255.0, FLOOR(
                                   (e.embedding[i]::DOUBLE - b.mn[i]) / {step}))
                                + 0.5) * {step}
                        ELSE b.mn[i] END) AS dqv
        FROM embeddings e, bounds b
    ),
    qn AS (
        SELECT vec_id, embedding, dqv,
               sqrt(list_sum(list_transform(dqv, x -> x * x))) AS dnrm,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM dq
    ),
    qscored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND(list_sum(list_transform(range(1, {_DIMS} + 1),
                     i -> a.dqv[i] * b.dqv[i])) / (a.dnrm * b.dnrm), 6) AS qscore,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM qn a JOIN qn b ON a.vec_id <> b.vec_id
    ),
    cand AS (
        SELECT qid, nid, score,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY qscore DESC, nid) AS qrank
        FROM qscored
    ),
    ranked AS (
        SELECT qid, nid, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
        FROM cand WHERE qrank <= {_SQ_CAND}
    )
    SELECT qid, nid, score, rank FROM ranked WHERE rank <= 5
    """


@register(
    "v_sq8_topk",
    _sq8_sql(),
    doc="scalar-quantized (8-bit) ANN top-5: per-dim min/max quantize, "
    "candidate search on dequantized vectors, exact re-rank of top "
    f"{_SQ_CAND} candidates on raw floats",
)
def v_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")

    # Two F.expr aggregate arrays instead of 2×_DIMS Column-built
    # aggs (the lsh_signature fast-path pattern): the wide
    # form cost ~1 s of py4j round trips per construction; one JVM
    # parse builds the same MIN/MAX-then-CAST aggregates. Spark []
    # array indexing is 0-based, matching F.get.
    mn_sql = "array(" + ",".join(
        f"CAST(MIN(embedding[{i}]) AS DOUBLE)" for i in range(_DIMS)
    ) + ")"
    mx_sql = "array(" + ",".join(
        f"CAST(MAX(embedding[{i}]) AS DOUBLE)" for i in range(_DIMS)
    ) + ")"
    stats = emb.agg(
        F.expr(mn_sql).alias("mn"), F.expr(mx_sql).alias("mx")
    )

    # One zip_with lambda instead of 64 inlined per-dimension branches:
    # same values, ~1/60th the generated code (the wide form spent more
    # wall time in Janino compilation than in data).
    def dq_elem(x, b):
        mn, mx = b["mn"], b["mx"]
        step = (mx - mn) / 256.0
        xv = x.cast("double")
        qv = F.least(F.lit(255.0), F.floor((xv - mn) / step).cast("double"))
        return F.when(step > 0, mn + (qv + 0.5) * step).otherwise(mn)

    # Pin the dequantized frame (measured): brute_force_topk's block
    # iterator counts it, collects it for the broadcast side, AND
    # executes it again as the query side — without the pin the
    # stats-agg + dequantize lineage ran 3×. n×dims doubles, the
    # same footprint the blocked loop stages to scratch at
    # multi-block scale.
    dq = (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.zip_with("embedding", F.arrays_zip("mn", "mx"), dq_elem).alias(
                "dqv"
            ),
        )
        .localCheckpoint(eager=True)
    )

    cands = brute_force_topk(dq, "vec_id", "dqv", k=_SQ_CAND).select(
        "qid", "nid"
    )
    return _exact_rerank(emb, cands, k=5)


def _exact_rerank(emb: DataFrame, cands: DataFrame, k: int) -> DataFrame:
    """Exact cosine re-rank of an ANN candidate set on the raw floats:
    candidate_mult × k rows per query — two keyed joins back to the
    embedding side, JVM-side fold for the dot product, window top-k on
    (rounded score desc, nid). Shared by the quantized/truncated
    candidate tiers (SQ8, prefix dims)."""
    from pyspark.sql import Window

    from listenbrainz_server_spark.operators.similarity import as_double, dot, norm

    e = as_double(F.col("embedding"))
    nrm = emb.select("vec_id", e.alias("e"), norm(e).alias("nrm"))
    qa = nrm.select(
        F.col("vec_id").alias("qid"), F.col("e").alias("ea"), F.col("nrm").alias("na")
    )
    qb = nrm.select(
        F.col("vec_id").alias("nid"), F.col("e").alias("eb"), F.col("nrm").alias("nb")
    )
    # Zero-norm vectors yield NULL scores (ranked last) instead of an
    # ANSI DIVIDE_BY_ZERO crash.
    nn = F.col("na") * F.col("nb")
    scored = (
        cands.join(qa, "qid")
        .join(qb, "nid")
        .select(
            "qid",
            "nid",
            F.when(
                nn != 0, F.round(dot(F.col("ea"), F.col("eb")) / nn, 6)
            ).alias("score"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .where(F.col("rank") <= k)
        .select("qid", "nid", "score", "rank")
    )


# --------------------------------------------------------------------------
# Embedding-space outlier detection — corpus hygiene for a training
# set: per-label centroid (64 map-side-combined avg aggregates — one
# tiny label-keyed exchange), distance of every vector to its label's
# centroid, and a per-label z-score flag. Centroids / means / stds are
# ROUNDed to 6dp on both engines BEFORE downstream arithmetic, so the
# distances and z-scores derive from bit-identical inputs and the
# verdict can't wobble on float summation order. The centroid frame is
# label-cardinality rows — broadcast, never collected.
# --------------------------------------------------------------------------
def _centroid_sql() -> str:
    cols = ", ".join(
        f"ROUND(AVG(embedding[{i + 1}]::DOUBLE), 6)" for i in range(_DIMS)
    )
    dist = (
        f"sqrt(list_sum(list_transform(range(1, {_DIMS} + 1), "
        f"i -> (e.embedding[i]::DOUBLE - c.ctr[i]) "
        f"* (e.embedding[i]::DOUBLE - c.ctr[i]))))"
    )
    return f"""
    WITH ctr AS (
        SELECT label, [{cols}] AS ctr FROM embeddings GROUP BY label
    ),
    dists AS (
        SELECT e.vec_id, e.label, ROUND({dist}, 6) AS dist
        FROM embeddings e JOIN ctr c USING (label)
    ),
    mom AS (
        SELECT label, ROUND(AVG(dist), 6) AS mu,
               ROUND(STDDEV_POP(dist), 6) AS sigma
        FROM dists GROUP BY label
    )
    SELECT d.vec_id, d.label, d.dist,
           ROUND((d.dist - m.mu) / NULLIF(m.sigma, 0), 4) AS z,
           ((d.dist - m.mu) / NULLIF(m.sigma, 0) > 2.0) AS outlier
    FROM dists d JOIN mom m USING (label)
    """


@register(
    "v_centroid_outliers",
    _centroid_sql(),
    doc="embedding outlier detection: distance to per-label centroid "
    "+ per-label z-score flag (corpus hygiene before training)",
)
def v_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")

    ctr = emb.groupBy("label").agg(
        *[
            F.round(F.avg(F.get("embedding", i)), 6).alias(f"c{i}")
            for i in range(_DIMS)
        ]
    ).select("label", F.array(*[F.col(f"c{i}") for i in range(_DIMS)]).alias("ctr"))

    diff = F.zip_with(
        "embedding",
        "ctr",
        lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
    )
    dists = emb.join(F.broadcast(ctr), "label").select(
        "vec_id",
        "label",
        F.round(
            F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, v: acc + v)), 6
        ).alias("dist"),
    )
    mom = dists.groupBy("label").agg(
        F.round(F.avg("dist"), 6).alias("mu"),
        F.round(F.stddev_pop("dist"), 6).alias("sigma"),
    )
    # A single-vector label has sigma = 0: emit NULL (oracle NULLIF),
    # never an ANSI DIVIDE_BY_ZERO crash.
    z = F.when(
        F.col("sigma") != 0, (F.col("dist") - F.col("mu")) / F.col("sigma")
    )
    return dists.join(F.broadcast(mom), "label").select(
        "vec_id",
        "label",
        "dist",
        F.round(z, 4).alias("z"),
        (z > 2.0).alias("outlier"),
    )


# --------------------------------------------------------------------------
# Prefix-dimension (Matryoshka-style) ANN: candidate generation on the
# FIRST 16 of 64 dimensions, exact re-rank on the full vector. The
# complementary compression axis to SQ8 — SQ8 shrinks bytes per
# dimension, the prefix tier drops dimensions entirely (4× less
# candidate-scan compute and I/O). Same candidate/re-rank contract as
# v_sq8_topk via the shared _exact_rerank.
#
# Distribution caveat (measured on the fixture): the tier presumes
# FRONT-LOADED embeddings (Matryoshka/PCA-rotated). On the isotropic
# synthetic fixture a 16/64 prefix carries ~1/4 of the cosine signal,
# so recall@5 with the standard 4k candidate pool is ~0.3 (0.77 at a
# 24k pool) — the documented worst case, still far above the 1%
# random baseline. SQ8 is the distribution-free compression tier
# (recall ≥ 0.8 on the same fixture); pick prefix only when the
# embedding training justifies it. The oracle verifies the CONTRACT
# (candidates by rounded prefix cosine, exact re-rank) exactly.
# --------------------------------------------------------------------------
_PREFIX_DIMS = 16


def _prefix_sql() -> str:
    pdot = (
        "list_sum(list_transform(range(1, {p} + 1), "
        "i -> (a.embedding[i]::DOUBLE) * (b.embedding[i]::DOUBLE)))"
    ).format(p=_PREFIX_DIMS)
    return f"""
    WITH pn AS (
        SELECT vec_id, embedding,
               sqrt(list_sum(list_transform(range(1, {_PREFIX_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE))))
                   AS pnrm,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE))))
                   AS nrm
        FROM embeddings
    ),
    qscored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({pdot} / (a.pnrm * b.pnrm), 6) AS qscore,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM pn a JOIN pn b ON a.vec_id <> b.vec_id
    ),
    cand AS (
        SELECT qid, nid, score,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY qscore DESC, nid) AS qrank
        FROM qscored
    ),
    ranked AS (
        SELECT qid, nid, score,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS BIGINT) AS rank
        FROM cand WHERE qrank <= {_SQ_CAND}
    )
    SELECT qid, nid, score, rank FROM ranked WHERE rank <= 5
    """


@register(
    "v_prefix_topk",
    _prefix_sql(),
    doc=f"prefix-dimension ANN top-5: candidates on the first "
    f"{_PREFIX_DIMS}/{_DIMS} dims, exact re-rank on the full vector",
)
def v_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pre = emb.select(
        "vec_id", F.slice("embedding", 1, _PREFIX_DIMS).alias("pvec")
    )
    cands = brute_force_topk(pre, "vec_id", "pvec", k=_SQ_CAND).select("qid", "nid")
    return _exact_rerank(emb, cands, k=5)


# --------------------------------------------------------------------------
# ANN index-quality report: per-query recall@5 of the sign-LSH tier
# against the exact brute-force top-5 — the monitoring artifact an ANN
# deployment recomputes (on a sample) after each index rebuild. Both
# tiers are fully SQL-expressible, so unlike the IVF/PQ recall tests
# (pytest-only) this report is itself oracle-verified. LEFT join keeps
# queries whose LSH bucket returned nothing (recall 0), so the report
# can't silently over-average.
# --------------------------------------------------------------------------
def _ann_recall_sql() -> str:
    bit_exprs = []
    for h in range(_SIG_BITS):
        comps = ", ".join(
            str(float(hyperplane_component(h, d))) for d in range(_DIMS)
        )
        proj = (
            f"list_sum(list_transform(range(1, {_DIMS} + 1), "
            f"i -> (embedding[i]::DOUBLE) * ([{comps}][i])))"
        )
        bit_exprs.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    sig = " || ".join(bit_exprs)
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM embeddings
    ),
    exact AS (
        SELECT qid, nid FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND({_DOT} / (a.nrm * b.nrm), 6) DESC,
                                b.vec_id) AS rank
            FROM sigs a JOIN sigs b ON a.vec_id <> b.vec_id
        ) WHERE rank <= 5
    ),
    approx AS (
        SELECT qid, nid FROM (
            SELECT a.vec_id AS qid, b.vec_id AS nid,
                   ROW_NUMBER() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY ROUND({_DOT} / (a.nrm * b.nrm), 6) DESC,
                                b.vec_id) AS rank
            FROM sigs a
            JOIN sigs b ON a.sig = b.sig AND a.vec_id <> b.vec_id
        ) WHERE rank <= 5
    )
    SELECT e.qid,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(COUNT(a.nid) AS BIGINT) AS n_hit,
           ROUND(COUNT(a.nid) * 1.0 / COUNT(*), 6) AS recall
    FROM exact e
    LEFT JOIN approx a ON a.qid = e.qid AND a.nid = e.nid
    GROUP BY e.qid
    """


@register(
    "v_ann_recall_report",
    _ann_recall_sql(),
    doc="ANN index-quality report: per-query recall@5 of the sign-LSH "
    "tier vs the exact brute-force top-5 (oracle-verified end to end)",
)
def v_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exact = brute_force_topk(emb, "vec_id", "embedding", k=5).select("qid", "nid")
    approx = lsh_bucketed_topk(
        emb, "vec_id", "embedding", dims=_DIMS, k=5, sig_bits=_SIG_BITS
    ).select(F.col("qid").alias("aqid"), F.col("nid").alias("anid"))
    joined = exact.join(
        approx,
        (F.col("qid") == F.col("aqid")) & (F.col("nid") == F.col("anid")),
        "left",
    )
    return joined.groupBy("qid").agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("anid").alias("n_hit"),
        F.round(F.count("anid") * 1.0 / F.count(F.lit(1)), 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# Contrastive-training pair mining: for every query vector, a POSITIVE
# (its most similar in-bucket neighbor) and a HARD NEGATIVE (the
# LEAST similar vector sharing its LSH bucket — close enough in hash
# space to be confusable, far in true similarity: exactly the
# negatives contrastive training wants). One bucketed self-join feeds
# both window ranks; never all-pairs.
# --------------------------------------------------------------------------
def _hard_negative_sql() -> str:
    bit_exprs = []
    for h in range(_SIG_BITS):
        comps = ", ".join(
            str(float(hyperplane_component(h, d))) for d in range(_DIMS)
        )
        proj = (
            f"list_sum(list_transform(range(1, {_DIMS} + 1), "
            f"i -> (embedding[i]::DOUBLE) * ([{comps}][i])))"
        )
        bit_exprs.append(f"(CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END)")
    sig = " || ".join(bit_exprs)
    return f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {sig} AS sig,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / NULLIF(a.nrm * b.nrm, 0), 6) AS score
        FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT qid, nid, score,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS r_pos,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score ASC, nid) AS r_neg
        FROM scored
    ),
    pos AS (SELECT qid, nid AS pos_nid, score AS pos_score
            FROM ranked WHERE r_pos = 1),
    neg AS (SELECT qid, nid AS neg_nid, score AS neg_score
            FROM ranked WHERE r_neg = 1)
    SELECT p.qid, p.pos_nid, p.pos_score, n.neg_nid, n.neg_score
    FROM pos p JOIN neg n USING (qid)
    WHERE p.pos_nid <> n.neg_nid
    """


@register(
    "x_hard_negatives",
    _hard_negative_sql(),
    doc="contrastive pair mining: per query, best in-bucket neighbor "
    "(positive) + least-similar in-bucket vector (hard negative)",
)
def x_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from listenbrainz_server_spark.operators.similarity import bucket_scored_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    scored = bucket_scored_pairs(
        emb, "vec_id", "embedding", dims=_DIMS, sig_bits=_SIG_BITS
    )
    w_pos = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
    w_neg = Window.partitionBy("qid").orderBy(F.col("score").asc(), "nid")
    ranked = scored.withColumn("r_pos", F.row_number().over(w_pos)).withColumn(
        "r_neg", F.row_number().over(w_neg)
    )
    pos = ranked.where(F.col("r_pos") == 1).select(
        "qid", F.col("nid").alias("pos_nid"), F.col("score").alias("pos_score")
    )
    neg = ranked.where(F.col("r_neg") == 1).select(
        "qid", F.col("nid").alias("neg_nid"), F.col("score").alias("neg_score")
    )
    return pos.join(neg, "qid").where(F.col("pos_nid") != F.col("neg_nid"))


# --------------------------------------------------------------------------
# PCA-rotated prefix ANN — the fix for v_prefix_topk's documented
# caveat: rotate embeddings onto their principal components (MLlib
# PCA, iterative — rows-only driver check), THEN take the 16-dim
# prefix for candidate generation. PCA front-loads variance by
# construction, so the prefix carries most of the cosine signal even
# on isotropic-ish data — the recall comparison against the unrotated
# prefix tier is pinned in tests/test_operators.py. Exact re-rank on
# the ORIGINAL vectors (rotation is for candidates only).
# --------------------------------------------------------------------------
@register(
    "v_pca_prefix_topk",
    _recall_audit_sql(0.42),
    doc=f"PCA-rotated prefix ANN top-5: candidates on the first "
    f"{_PREFIX_DIMS} principal components with a corpus-scaled "
    "budget (max(20, 2*sqrt(n)) — a fixed budget decays with n, "
    "measured 0.237 at sf0.1), exact re-rank on raw vectors; "
    "registered form is the recall@5 >= 0.42 audit vs in-query "
    "brute force (measured 0.548 at sf0.1; hash-gated)",
)
def v_pca_prefix_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return _recall_audit(emb, pca_prefix_topk_raw(spark, sf_dir), floor=0.42)


def pca_prefix_topk_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving form: raw PCA-prefix top-5 (qid, nid, score, rank).

    Candidate budget scales with the corpus: a FIXED budget at a
    growing n decays recall as distractors crowd the 16-dim prefix
    ranking — the CHECK_sf01_r13 sweep measured the fixed _SQ_CAND=20
    at recall 0.237 on sf0.1 (audit floor 0.42). Measured knee at
    sf0.1: 20 -> 0.237, 45 (sqrt n) -> 0.389, 90 (2 sqrt n) -> 0.548.
    Budget = max(_SQ_CAND, 2*sqrt(n)): fixture behavior preserved at
    tiny n, sublinear re-rank volume (2 n^1.5 prefix comparisons are
    this tier's documented brute-force-in-prefix-space nature; the
    bucketed tiers are ivf/ivfpq).
    """
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector, vector_to_array

    emb = load_table(spark, sf_dir, "embeddings")
    cand = max(_SQ_CAND, int(round(2 * emb.count() ** 0.5)))
    vecs = emb.select(
        "vec_id", array_to_vector(F.col("embedding")).alias("features")
    )
    model = PCA(k=_PREFIX_DIMS, inputCol="features", outputCol="pca").fit(vecs)
    projected = model.transform(vecs).select(
        "vec_id", vector_to_array("pca").alias("pvec")
    )
    cands = brute_force_topk(projected, "vec_id", "pvec", k=cand).select(
        "qid", "nid"
    )
    return _exact_rerank(emb, cands, k=5)


def _knn_vote_pred(emb: DataFrame, topk: DataFrame) -> DataFrame:
    """Majority-vote label prediction from a (qid, nid) neighbor set:
    one keyed join to the label projection plus a per-query majority
    window — both shuffles keyed by query id, never all-pairs. Vote
    ties pick the smallest label (total order). Shared by the exact
    (v_knn_classify) and IVF-candidate (v_knn_classify_ann) tiers."""
    from pyspark.sql import Window

    nbr_labels = emb.select(
        F.col("vec_id").alias("nid"), F.col("label").alias("nlabel")
    )
    votes = topk.join(nbr_labels, "nid").groupBy("qid", "nlabel").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("qid").orderBy(F.col("n").desc(), F.col("nlabel").asc())
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("qid", F.col("nlabel").alias("pred_label"))
    )


# --------------------------------------------------------------------------
# kNN label propagation (leave-one-out): predict every vector's label
# from the majority label of its 5 exact-cosine nearest neighbors —
# the semi-supervised labeling / auto-annotation pass a training
# pipeline runs to extend a small labeled seed set (and, run
# leave-one-out as here, the standard label-noise audit: rows where
# the neighborhood outvotes the assigned label are relabel/review
# candidates). Tie-breaks are total: score ties rank by neighbor id,
# vote ties pick the smallest label.
#
# FIXTURE-SCALE VERIFICATION BASELINE: the neighbor
# search is the blocked broadcast-matmul exact tier — driver memory is
# block-bounded but compute is O(n²/block) at any scale, so this
# registered form is the per-vector value oracle the ANN serving tier
# is audited against, not the 100 TB path. The scale path is
# v_knn_classify_ann (IVF candidates → same vote), whose registered
# form pins its agreement against this one.
# --------------------------------------------------------------------------
@register(
    "v_knn_classify",
    f"""
    WITH {_NORM_CTE},
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT qid, nid, score,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS rank
        FROM scored
    ),
    votes AS (
        SELECT r.qid, e.label, COUNT(*) AS n
        FROM ranked r JOIN embeddings e ON e.vec_id = r.nid
        WHERE r.rank <= 5
        GROUP BY r.qid, e.label
    ),
    pred AS (
        SELECT qid, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY n DESC, label ASC) AS rn
        FROM votes
    )
    SELECT p.qid AS vec_id,
           CAST(t.label AS INT) AS true_label,
           CAST(p.label AS INT) AS pred_label,
           (t.label = p.label) AS correct
    FROM pred p JOIN embeddings t ON t.vec_id = p.qid
    WHERE p.rn = 1
    """,
    doc="leave-one-out 5-NN majority-vote label prediction per vector "
    "(semi-supervised labeling / label-noise audit); FIXTURE-SCALE "
    "exact verification baseline — serving path at scale is "
    "v_knn_classify_ann (IVF candidates, same vote)",
)
def v_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pred = _knn_vote_pred(
        emb, brute_force_topk(emb, "vec_id", "embedding", k=5)
    )
    truth = emb.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "qid").select(
        F.col("qid").alias("vec_id"),
        F.col("true_label").cast("int"),
        F.col("pred_label").cast("int"),
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )


def knn_classify_ann_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving form of ANN kNN classification: IVF candidates
    (KMeans coarse buckets — per-bucket population, not corpus size,
    bounds the quadratic term) feed the same majority vote as the
    exact tier. This is the 100 TB path: no all-pairs stage anywhere;
    every shuffle is keyed by bucket or query id. BOTH dial halves
    follow the measured scale rule (n_centroids="auto" = max(8, √n),
    SCALING.md; n_probe="auto" = max(2, √nlist) — a fixed
    probe count at a growing nlist decays recall on weakly clustered
    data, tools/recall_smoke.py); the registered v_knn_classify_ann
    audit pins the pipeline at the fixture dial (8, 2) where its
    agreement floor was tuned."""
    from listenbrainz_server_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    ann = ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids="auto", n_probe="auto"
    ).select("qid", "nid")
    pred = _knn_vote_pred(emb, ann)
    truth = emb.select(
        F.col("vec_id").alias("qid"), F.col("label").alias("true_label")
    )
    return pred.join(truth, "qid").select(
        F.col("qid").alias("vec_id"),
        F.col("true_label").cast("int"),
        F.col("pred_label").cast("int"),
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )


# --------------------------------------------------------------------------
# ANN kNN classification: the scale path for
# v_knn_classify — IVF candidate neighbors feed the identical majority
# vote. Registered form is the agreement audit against the exact tier:
# n_vectors and the EXACT tier's correct count are real DuckDB-checked
# values (the oracle replays the full exact 5-NN vote), while the
# ANN-vs-exact prediction agreement >= floor is the hash-gated boolean
# (KMeans is iterative — no SQL engine can recompute the candidates).
# Agreement measured 0.432/0.462 at sf0.001/sf0.01 with floor 0.35;
# labels on the fixture are random (exact accuracy ≈ 1/10 chance), so
# agreement is candidate-overlap-driven — the audit pins plumbing and
# vote identity, not classifier quality.
# --------------------------------------------------------------------------
@register(
    "v_knn_classify_ann",
    f"""
    WITH {_NORM_CTE},
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
        SELECT qid, nid, score,
               ROW_NUMBER() OVER (
                   PARTITION BY qid ORDER BY score DESC, nid) AS rank
        FROM scored
    ),
    votes AS (
        SELECT r.qid, e.label, COUNT(*) AS n
        FROM ranked r JOIN embeddings e ON e.vec_id = r.nid
        WHERE r.rank <= 5
        GROUP BY r.qid, e.label
    ),
    pred AS (
        SELECT qid, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY n DESC, label ASC) AS rn
        FROM votes
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN t.label = p.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct_exact,
           0.35 AS agreement_floor,
           TRUE AS agreement_ge_floor
    FROM pred p JOIN embeddings t ON t.vec_id = p.qid
    WHERE p.rn = 1
    """,
    doc="ANN 5-NN majority-vote classification (IVF candidates, "
    "n_probe=2) audited against the exact leave-one-out tier: "
    "n_vectors + exact-tier correct count are DuckDB-recomputed "
    "values, ANN-vs-exact prediction agreement >= 0.35 is the "
    "hash-gated boolean (measured 0.432/0.462 at sf0.001/sf0.01); "
    "serving form = knn_classify_ann_raw",
)
def v_knn_classify_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    exact_pred = _knn_vote_pred(
        emb, brute_force_topk(emb, "vec_id", "embedding", k=5)
    ).select("qid", F.col("pred_label").alias("pe"))
    ann_pred = _knn_vote_pred(
        emb,
        ivf_topk(
            emb, "vec_id", "embedding", k=5, n_centroids=8, n_probe=2
        ).select("qid", "nid"),
    ).select("qid", F.col("pred_label").alias("pa"))
    truth = emb.select(F.col("vec_id").alias("qid"), "label")
    joined = exact_pred.join(ann_pred, "qid").join(truth, "qid")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(
            F.when(F.col("pe") == F.col("label"), 1).otherwise(0)
        ).cast("bigint").alias("n_correct_exact"),
        F.lit(0.35).alias("agreement_floor"),
        (
            F.avg(
                F.when(F.col("pa") == F.col("pe"), 1.0).otherwise(0.0)
            )
            >= F.lit(0.35)
        ).alias("agreement_ge_floor"),
    )


# --------------------------------------------------------------------------
# MMR-diversified retrieval: multi-probe LSH ANN top-20 relevance
# candidates per query, greedily re-ranked to 5 with maximal marginal
# relevance (lambda = 0.7) — the de-duplicating re-rank a RAG serving
# stack runs so a context window isn't five near-copies of one
# paragraph. The candidate stage is the same multi-probe ANN tier as
# v_lsh_multiprobe with a corpus-sized signature (sized_sig_bits keeps
# expected bucket population bounded at any n; the probe explode
# multiplies only the query side) — no all-pairs stage anywhere in the
# plan, so the whole pipeline stays linear-ish at 100 TB. The greedy
# loop is non-SQL (rows-only driver check); the contracts are pinned
# locally instead: exact-match vs a 30-line numpy reference oracle on
# a seeded fixture, a fixture-scale overlap cross-check vs the
# exact-candidate variant (the v_ann_recall_report pattern),
# lambda=1.0 degrades exactly to relevance top-k, rank 1 is always
# the relevance top-1, and the selected sets are strictly more
# diverse than plain top-5 (test_operators.py).
# --------------------------------------------------------------------------
@register(
    "v_mmr_rerank",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(5 AS BIGINT) AS k,
           TRUE AS all_served,
           TRUE AS first_pick_top1,
           TRUE AS diversity_improved
    FROM embeddings
    """,
    doc="MMR-diversified top-5 from multi-probe LSH ANN top-20 "
    "candidates (lambda=0.7; greedy per-query Arrow groups); "
    "registered form is the hash-gated contract audit: every vector "
    "served 5 distinct picks, rank-1 == relevance top-1, and mean "
    "intra-set cosine strictly below the plain top-5 baseline; "
    "serving form = mmr_rerank_lsh_raw",
)
def v_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from listenbrainz_server_spark.operators.similarity import unit_vectors

    emb = load_table(spark, sf_dir, "embeddings")
    cands, sel = _mmr_lsh_parts(spark, sf_dir)
    sel = sel.localCheckpoint(eager=True)  # reused by three audit branches

    # Plain relevance top-5 baseline + candidate top-1, from the same
    # pinned candidate frame the MMR pass consumed.
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), "nid")
    ranked = cands.withColumn("crank", F.row_number().over(w))
    plain = ranked.where(F.col("crank") <= 5).select("qid", "nid")
    top1 = ranked.where(F.col("crank") == 1).select(
        F.col("qid").alias("tqid"), F.col("nid").alias("tnid")
    )

    # first_pick_top1: MMR rank-1 equals the relevance argmax.
    first_ok = (
        sel.where(F.col("rank") == 1)
        .join(top1, F.col("qid") == F.col("tqid"), "left")
        .agg(F.every(F.col("nid") == F.col("tnid")).alias("first_pick_top1"))
    )

    # all_served: every vector is a query and got exactly 5 distinct
    # picks (the per-query frame is tiny: one row per query).
    served_ok = (
        sel.groupBy("qid")
        .agg(F.count_distinct("nid").alias("n_picks"),
             F.count(F.lit(1)).alias("n_rows"))
        .agg(
            F.every((F.col("n_picks") == 5) & (F.col("n_rows") == 5)).alias(
                "five_each"
            ),
            F.count(F.lit(1)).cast("bigint").alias("n_served"),
        )
    )

    # Mean intra-set cosine of a (qid, nid) selection — 10 pairs per
    # query, scored on unit vectors; MMR's entire point is that this
    # drops vs the plain relevance top-5.
    uv = unit_vectors(emb, "vec_id", "embedding")

    def mean_intra(pick: DataFrame, out: str) -> DataFrame:
        a = pick.select("qid", F.col("nid").alias("ida"))
        b = pick.select("qid", F.col("nid").alias("idb"))
        pairs = a.join(b, "qid").where(F.col("ida") < F.col("idb"))
        return (
            pairs.join(uv.select(F.col("vid").alias("ida"),
                                 F.col("vec").alias("ua")), "ida")
            .join(uv.select(F.col("vid").alias("idb"),
                            F.col("vec").alias("ub")), "idb")
            .select(
                F.aggregate(
                    F.zip_with("ua", "ub", lambda x, y: x * y),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("cos")
            )
            .agg(F.avg("cos").alias(out))
        )

    div_ok = (
        mean_intra(sel.select("qid", "nid"), "m_sel")
        .crossJoin(mean_intra(plain, "m_plain"))
        .select((F.col("m_sel") < F.col("m_plain")).alias("diversity_improved"))
    )

    n_vec = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
    return (
        n_vec.crossJoin(served_ok)
        .crossJoin(first_ok)
        .crossJoin(div_ok)
        .select(
            "n_vectors",
            F.lit(5).cast("bigint").alias("k"),
            (F.col("five_each") & (F.col("n_served") == F.col("n_vectors"))).alias(
                "all_served"
            ),
            "first_pick_top1",
            "diversity_improved",
        )
    )


# --------------------------------------------------------------------------
# OPQ rotation tier: Optimized
# Product Quantization (Ge et al., CVPR 2013) — learn an orthonormal
# rotation before the PQ subspace split so quantization stops paying
# for variance that straddles block boundaries. Training is the
# bounded driver-side alternating descent in operators/similarity.py
# opq_train (same deterministic hash sample + seeds as the plain PQ
# trainer, so iteration 0 IS plain PQ); the audit runs distributed:
# one Arrow pass reconstructs every corpus vector under BOTH
# quantizers and the registered row certifies (a) R^T R == I to 1e-12,
# (b) the training-MSE trace is monotonically non-increasing (the
# alternation is descent by construction), (c) corpus reconstruction
# MSE improved (measured ~10% on the fixture embeddings: 0.716 ->
# 0.643 at both SFs). MSE magnitudes are trainer-dependent (numpy
# Lloyd + SVD) so the oracle is the n_vectors value + the contract
# booleans — the ALS/quantizer-tier pattern.
# --------------------------------------------------------------------------
@register(
    "v_opq_rotation",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(4 AS BIGINT) AS m,
           CAST(16 AS BIGINT) AS k_sub,
           TRUE AS rotation_orthogonal,
           TRUE AS train_mse_nonincreasing,
           TRUE AS opq_mse_le_pq
    FROM embeddings
    """,
    doc="OPQ rotation audit: orthonormal R from alternating "
    "Procrustes/Lloyd descent (opq_train; warm-started codebooks make "
    "every step a descent of ||XR - q(XR)||^2, so the training trace "
    "is non-increasing from the plain-PQ start); one distributed "
    "Arrow pass reconstructs the corpus under plain PQ and OPQ and "
    "the row certifies orthogonality, trace monotonicity, and "
    "corpus-MSE improvement inside the hash gate",
)
def v_opq_rotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from listenbrainz_server_spark.operators.similarity import (
        _pq_reconstruct,
        opq_train,
        pq_train_codebooks,
        unit_vectors,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    unit = unit_vectors(emb, "vec_id", "embedding", pin=True)
    m, k_sub = 4, 16
    R, books_opq, trace = opq_train(unit, "vec", _DIMS, m=m, k_sub=k_sub)
    books_pq = pq_train_codebooks(unit, "vec", _DIMS, m=m, k_sub=k_sub)
    Rm = np.array(R)
    orth = float(np.abs(Rm.T @ Rm - np.eye(_DIMS)).max()) < 1e-12
    mono = all(
        trace[i] >= trace[i + 1] - 1e-12 for i in range(len(trace) - 1)
    )
    Bp, Bo = np.array(books_pq), np.array(books_opq)

    def recon_errors(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            V = np.vstack(pdf["vec"].to_numpy()).astype("float64")
            _, e_pq = _pq_reconstruct(V, Bp, m)
            _, e_opq = _pq_reconstruct(V @ Rm, Bo, m)
            yield pd.DataFrame({"e_pq": e_pq, "e_opq": e_opq})

    errs = unit.mapInPandas(recon_errors, "e_pq double, e_opq double")
    agg = errs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.avg("e_pq").alias("mse_pq"),
        F.avg("e_opq").alias("mse_opq"),
    )
    return agg.select(
        "n_vectors",
        F.lit(m).cast("bigint").alias("m"),
        F.lit(k_sub).cast("bigint").alias("k_sub"),
        F.lit(orth).alias("rotation_orthogonal"),
        F.lit(mono).alias("train_mse_nonincreasing"),
        (F.col("mse_opq") <= F.col("mse_pq")).alias("opq_mse_le_pq"),
    )


# --------------------------------------------------------------------------
# Exact-candidate MMR with a full VALUE oracle: the
# same greedy objective as v_mmr_rerank, but over exact cosine top-20
# candidates — which makes every number in the output independently
# recomputable in SQL. The greedy loop has a FIXED depth (k=5), so it
# unrolls into 5 (score -> argmax -> remove) stages, as DataFrame
# stages on the Spark side and chained MATERIALIZED CTEs on the DuckDB
# side (the t_bpe_train unrolling pattern). Arithmetic parity is
# engineered, not hoped for: candidate scores come from
# brute_force_topk (its 6dp parity with the DuckDB fold is gate-proven
# by v_cosine_topk), pairwise sims use the same left-to-right
# F.aggregate fold as list_sum, and the greedy objective is EXACT
# INTEGER arithmetic in 1e-7 units — see _mmr_exact_oracle_sql's
# docstring for why rounding lam*score instead diverges between
# engines on systematic decimal half-boundaries. The Arrow mmr_rerank
# operator is pinned
# equivalent to this form on the same candidates
# (tests/test_operators.py::test_mmr_arrow_matches_unrolled), which
# value-verifies v_mmr_rerank's greedy math transitively.
# --------------------------------------------------------------------------
_MMR_K = 5
_MMR_CANDS = 20
_MMR_LAM = 0.7
# Pin each stage's 1-row-per-query pick frame: the lazy 5-stage chain
# re-plans every prior window/anti-join into one 31-exchange DAG
# (~10 s warm at sf0.1); eager per-stage checkpoints of the tiny sel
# frame flatten it to ~7 s same-session. At scale sel stays one row
# per query — the pin is never the volume term.
_MMR_PIN_STAGES = True


def _mmr_exact_oracle_sql() -> str:
    """Greedy MMR replayed in SQL: exact top-_MMR_CANDS per query, then _MMR_K
    unrolled argmax stages. The objective lives in EXACT INTEGER
    micro-units — obj_u = 7*score_u - 3*pen_u where score_u/pen_u are
    the 6dp-rounded cosines scaled to 1e6 (so obj_u is the objective
    in 1e-7 units, lambda = 0.7) — because rounding lam*score to 6dp
    lands on decimal half-boundaries systematically (0.7 x a 6dp value
    has a 7th digit of exactly 5 half the time), where Spark's F.round
    (HALF_UP on the shortest decimal string) and DuckDB's ROUND
    (binary) disagree ~50/50. Integer arithmetic has no boundary at
    all; the emitted mmr_score = obj_u / 1e7 is one correctly-rounded
    IEEE division of identical integers, bit-equal across engines."""
    parts = [
        f"""{_NORM_CTE.replace("norms AS (", "norms AS MATERIALIZED (")},
    scored AS MATERIALIZED (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
    ),
    cands AS MATERIALIZED (
        SELECT qid, nid, score,
               CAST(ROUND(score * 1000000) AS BIGINT) AS score_u
        FROM (
            SELECT qid, nid, score, ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY score DESC, nid) AS rn
            FROM scored
        ) WHERE rn <= {_MMR_CANDS}
    ),
    sims AS MATERIALIZED (
        SELECT c1.qid, c1.nid AS i, c2.nid AS j,
               CAST(ROUND(({_DOT} / (a.nrm * b.nrm)) * 1000000) AS BIGINT)
                   AS s_u
        FROM cands c1
        JOIN cands c2 ON c1.qid = c2.qid AND c1.nid <> c2.nid
        JOIN norms a ON a.vec_id = c1.nid
        JOIN norms b ON b.vec_id = c2.nid
    ),
    sel1 AS MATERIALIZED (
        SELECT qid, nid, score, obj_u, CAST(1 AS BIGINT) AS rank
        FROM (
            SELECT qid, nid, score, 7 * score_u AS obj_u,
                   ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY 7 * score_u DESC, nid) AS rn
            FROM cands
        ) WHERE rn = 1
    ),
    selall1 AS MATERIALIZED (SELECT * FROM sel1),
    rem1 AS MATERIALIZED (
        SELECT c.* FROM cands c ANTI JOIN sel1 s
            ON c.qid = s.qid AND c.nid = s.nid
    )"""
    ]
    for j in range(2, _MMR_K + 1):
        parts.append(
            f"""
    obj{j} AS MATERIALIZED (
        SELECT r.qid, r.nid, r.score,
               7 * r.score_u - 3 * MAX(s.s_u) AS obj_u
        FROM rem{j - 1} r
        JOIN sims s ON s.qid = r.qid AND s.i = r.nid
        JOIN selall{j - 1} p ON p.qid = s.qid AND p.nid = s.j
        GROUP BY r.qid, r.nid, r.score, r.score_u
    ),
    sel{j} AS MATERIALIZED (
        SELECT o.qid, o.nid, o.score, o.obj_u, CAST({j} AS BIGINT) AS rank
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY obj_u DESC, nid) AS rn
            FROM obj{j}
        ) o WHERE rn = 1
    ),
    selall{j} AS MATERIALIZED (
        SELECT qid, nid, score, obj_u, rank FROM selall{j - 1}
        UNION ALL
        SELECT qid, nid, score, obj_u, rank FROM sel{j}
    ),
    rem{j} AS MATERIALIZED (
        SELECT r.* FROM (SELECT qid, nid, score, score_u
                         FROM rem{j - 1}) r
        ANTI JOIN sel{j} s ON r.qid = s.qid AND r.nid = s.nid
    )"""
        )
    return (
        "WITH " + ",".join(parts)
        + f"""
    SELECT qid, nid, score,
           CAST(obj_u AS DOUBLE) / 10000000.0 AS mmr_score,
           rank
    FROM selall{_MMR_K}
    ORDER BY qid, rank
    """
    )


def mmr_exact_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark form of the exact-candidate MMR: 5 unrolled
    argmax/remove stages over pinned candidate + sim frames."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    cands = (
        brute_force_topk(emb, "vec_id", "embedding", k=_MMR_CANDS)
        .select(
            "qid",
            "nid",
            "score",
            F.round(F.col("score") * 1000000).cast("bigint").alias("score_u"),
        )
        .localCheckpoint(eager=True)
    )
    # Candidate pairwise sims as one Arrow stage per query group. The
    # join-and-fold formulation (760k interpreted HOF dot products at
    # sf0.1) measured 4.9 s warm; this matmul-shaped pass is the same
    # trade brute_force_topk documents. Parity with the SQL oracle is
    # preserved EXACTLY, not statistically: the dot accumulates dim by
    # dim, left to right, vectorized across the candidate matrix —
    # identical operation order to list_sum's fold — and the division,
    # the 1e6 scale, and the bigint round happen on bit-identical
    # doubles (the .5-boundary rounding-mode difference needs an
    # exactly-representable half, measure-zero for continuous
    # cosines).
    import pandas as pd

    id_type = dict(emb.dtypes)["vec_id"]
    cvecs = cands.select("qid", "nid").join(
        emb.select(
            F.col("vec_id").alias("nid"),
            F.col("embedding").cast("array<double>").alias("v"),
        ),
        "nid",
    )

    def sim_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        V_all = np.array(pdf["v"].tolist(), dtype=np.float64)
        nid_all = pdf["nid"].to_numpy()
        out_q, out_i, out_j, out_s = [], [], [], []
        for qid, idx in pdf.groupby("qid", sort=False).indices.items():
            V = V_all[idx]
            m, dims = V.shape
            acc = np.zeros((m, m), dtype=np.float64)
            for d in range(dims):  # left-to-right over dims == SQL fold
                acc += np.outer(V[:, d], V[:, d])
            nrm = np.sqrt(acc.diagonal().copy())
            nrm[nrm == 0] = 1.0
            s_u = np.rint((acc / np.outer(nrm, nrm)) * 1000000).astype(
                np.int64
            )
            ii, jj = np.nonzero(~np.eye(m, dtype=bool))
            nids = nid_all[idx]
            out_q.extend([qid] * len(ii))
            out_i.extend(nids[ii])
            out_j.extend(nids[jj])
            out_s.extend(s_u[ii, jj])
        return pd.DataFrame(
            {"qid": out_q, "i": out_i, "j": out_j, "s_u": out_s}
        )

    # Coarse hash-bucket grouping, not per-qid (measured):
    # same fixed Arrow-group-overhead amortization as mmr_rerank —
    # the per-query numpy math is unchanged, one batch just serves
    # many queries. sq, not qid: applyInPandas re-emits the grouping
    # column under its original expression id, so a later rem-side
    # join on qid would see an ambiguous reference (rem also
    # descends from cands).
    n_buckets = max(spark.sparkContext.defaultParallelism * 4, 1)
    sims = (
        cvecs.withColumn("_mb", F.pmod(F.hash("qid"), F.lit(n_buckets)))
        .groupBy("_mb")
        .applyInPandas(
            sim_bucket,
            f"qid {id_type}, i {id_type}, j {id_type}, s_u bigint",
        )
        .select(F.col("qid").alias("sq"), "i", "j", "s_u")
        .localCheckpoint(eager=True)
    )

    w = Window.partitionBy("qid")

    def argmax(frame: DataFrame, rank: int) -> DataFrame:
        ordered = w.orderBy(F.col("obj_u").desc(), "nid")
        return (
            frame.withColumn("rn", F.row_number().over(ordered))
            .where(F.col("rn") == 1)
            .select(
                "qid", "nid", "score", "obj_u",
                F.lit(rank).cast("bigint").alias("rank"),
            )
        )

    sel = argmax(cands.withColumn("obj_u", F.lit(7) * F.col("score_u")), 1)
    selall, rem = sel, cands.join(sel.select("qid", "nid"), ["qid", "nid"],
                                  "left_anti")
    for j in range(2, _MMR_K + 1):
        scored_rem = (
            rem.join(sims, (sims["sq"] == rem["qid"])
                     & (sims["i"] == rem["nid"]))
            .drop("sq")
            .join(
                selall.select(F.col("qid").alias("pq"),
                              F.col("nid").alias("pj")),
                (F.col("qid") == F.col("pq")) & (F.col("j") == F.col("pj")),
            )
            .groupBy("qid", "nid", "score", "score_u")
            .agg(F.max("s_u").alias("pen_u"))
            .withColumn(
                "obj_u",
                F.lit(7) * F.col("score_u") - F.lit(3) * F.col("pen_u"),
            )
        )
        sel = argmax(scored_rem, j)
        if _MMR_PIN_STAGES:
            sel = sel.localCheckpoint(eager=True)
        selall = selall.unionByName(sel)
        rem = rem.join(sel.select("qid", "nid"), ["qid", "nid"], "left_anti")
    return selall.select(
        "qid",
        "nid",
        "score",
        (F.col("obj_u").cast("double") / F.lit(10000000.0)).alias("mmr_score"),
        "rank",
    )


@register(
    "v_mmr_exact_rerank",
    _mmr_exact_oracle_sql(),
    doc="exact-candidate MMR (lambda=0.7, k=5 over exact cosine "
    "top-20) with a FULL value oracle: the greedy loop unrolls into "
    "5 argmax/remove stages replayed identically in SQL "
    "(_mmr_exact_oracle_sql) — every qid/nid/score/mmr_score/rank is "
    "independently recomputed by DuckDB. Value-verifies the MMR "
    "greedy math that v_mmr_rerank's LSH pipeline audits by contract "
    "(the Arrow operator is pinned equivalent to this unrolled form "
    "in test_mmr_arrow_matches_unrolled). EXACT-CANDIDATE "
    "VERIFICATION TIER — FIXTURE SCALE ONLY: candidate generation is "
    "the quadratic brute-force baseline (one sf1 run exceeded 16 "
    "min); the serving/scale path is v_mmr_rerank's LSH-bucketed "
    "candidates",
)
def v_mmr_exact_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mmr_exact_unrolled(spark, sf_dir)


def _mmr_lsh_parts(spark: SparkSession, sf_dir: str):
    """(pinned candidate frame, MMR selection) — shared by the
    registered audit and the raw serving form."""
    from listenbrainz_server_spark.operators.similarity import lsh_multiprobe_topk

    emb = load_table(spark, sf_dir, "embeddings")
    # Pin the candidate table between the two Arrow stages: chaining
    # the cogroup-scored multiprobe straight into the grouped MMR pass
    # in one DAG measured ~1.7x slower than cutting the lineage here
    # (same pattern as lsh_candidate_pairs' bucket pin).
    cands = (
        lsh_multiprobe_topk(emb, "vec_id", "embedding", dims=_DIMS, k=20)
        .select("qid", "nid", "score")
        .localCheckpoint(eager=True)
    )
    return cands, mmr_rerank(emb, cands, "vec_id", "embedding", k=5, lam=0.7)


def mmr_rerank_lsh_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving form: MMR top-5 (qid, nid, rank, ...) per query."""
    return _mmr_lsh_parts(spark, sf_dir)[1]


# --------------------------------------------------------------------------
# LSH index health report — the skew x-ray for the ANN tier: bucket
# occupancy (count, max, mean) and the candidate-pair volume the
# bucket structure implies, vs all-pairs. This is the number an
# operator watches at 100 TB: max_bucket creeping up means a
# signature is under-sized (sized_sig_bits exists precisely to keep
# it flat), and pair_reduction is the measured win over brute force.
# Signature is a pure projection; the report is one signature-keyed
# aggregate over |vectors| rows then a scalar rollup.
# --------------------------------------------------------------------------
@register(
    "v_bucket_stats",
    f"""
    WITH sigs AS (SELECT vec_id, {_sig_sql_expr()} AS sig FROM embeddings),
    buckets AS (SELECT sig, COUNT(*) AS n FROM sigs GROUP BY sig),
    tot AS (SELECT COUNT(*) AS nv FROM sigs)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(MAX(n) AS BIGINT) AS max_bucket,
           ROUND(AVG(n), 4) AS avg_bucket,
           CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS candidate_pairs,
           ROUND(SUM(n * (n - 1) // 2) * 1.0
                 / (tot.nv * (tot.nv - 1) // 2), 6) AS pair_reduction
    FROM buckets CROSS JOIN tot
    GROUP BY tot.nv
    """,
    doc=f"LSH index health: bucket occupancy + candidate-pair volume "
    f"vs all-pairs ({_SIG_BITS}-bit signature)",
)
def v_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import as_double, lsh_signature

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = emb.select(
        "vec_id",
        lsh_signature(as_double_sql("embedding"), _DIMS, _SIG_BITS).alias("sig"),
    )
    buckets = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("n"))
    tot = sigs.agg(F.count(F.lit(1)).alias("nv"))
    pairs = F.expr("n * (n - 1) DIV 2")
    return (
        buckets.crossJoin(F.broadcast(tot))
        .groupBy("nv")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
            F.max("n").cast("bigint").alias("max_bucket"),
            F.round(F.avg("n"), 4).alias("avg_bucket"),
            F.sum(pairs).cast("bigint").alias("candidate_pairs"),
            F.round(
                F.sum(pairs) * 1.0 / F.expr("first(nv * (nv - 1) DIV 2)"), 6
            ).alias("pair_reduction"),
        )
        .drop("nv")
    )


# --------------------------------------------------------------------------
# Embedding drift monitor — per-label centroid shift between a
# reference and a current slice (here: deterministic md5 halves of the
# corpus, so the oracle is reproducible; in production the slices are
# last week's embeddings vs this week's). The pipeline alarm for a
# silently retrained/upgraded encoder: a nonzero shift on every label
# at once means the embedding space moved and every downstream ANN
# index / threshold is stale. Per-dim means are ROUNDED on both
# engines before the distance math (the v_centroid_outliers rule) so
# verdicts can't wobble on summation order. Shape: posexplode to
# (label, slice, dim) → one keyed aggregate → 64-row-per-label
# reduce; no pairwise anything.
# --------------------------------------------------------------------------
@register(
    "v_embedding_drift",
    f"""
    WITH split AS (
        SELECT label, embedding,
               (substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= '7') AS is_ref
        FROM embeddings
    ),
    dims AS (
        SELECT label, is_ref, unnest(range(1, {_DIMS} + 1)) AS d, embedding
        FROM split
    ),
    comp AS (
        SELECT label, is_ref, d, ROUND(AVG(embedding[d]::DOUBLE), 6) AS m
        FROM dims GROUP BY 1, 2, 3
    ),
    wide AS (
        SELECT r.label, r.d, r.m AS m_ref, c.m AS m_cur
        FROM comp r JOIN comp c ON r.label = c.label AND r.d = c.d
        WHERE r.is_ref AND NOT c.is_ref
    ),
    counts AS (
        SELECT label,
               COUNT(*) FILTER (WHERE is_ref) AS n_ref,
               COUNT(*) FILTER (WHERE NOT is_ref) AS n_cur
        FROM split GROUP BY label
    )
    SELECT w.label AS label,
           CAST(c.n_ref AS BIGINT) AS n_ref,
           CAST(c.n_cur AS BIGINT) AS n_cur,
           ROUND(sqrt(SUM((w.m_ref - w.m_cur) * (w.m_ref - w.m_cur))), 6)
               AS centroid_shift
    FROM wide w JOIN counts c ON c.label = w.label
    GROUP BY w.label, c.n_ref, c.n_cur
    """,
    doc="per-label centroid drift between md5-half slices of the "
    "embedding corpus (encoder-drift alarm; rounded moments)",
)
def v_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from listenbrainz_server_spark.operators.similarity import as_double

    emb = load_table(spark, sf_dir, "embeddings")
    split = emb.select(
        "label",
        (
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) <= "7"
        ).alias("is_ref"),
        F.posexplode(as_double(F.col("embedding"))).alias("p", "x"),
    )
    comp = split.groupBy("label", "is_ref", "p").agg(
        F.round(F.avg("x"), 6).alias("m")
    )
    wide = comp.groupBy("label", "p").agg(
        F.max(F.when(F.col("is_ref"), F.col("m"))).alias("m_ref"),
        F.max(F.when(~F.col("is_ref"), F.col("m"))).alias("m_cur"),
    ).where(
        # A label whose vectors all hash into one md5 half has no
        # counterpart slice: the oracle's inner join drops it, so drop
        # the NULL-sided rows here too instead of summing NULLs into a
        # NULL centroid_shift.
        F.col("m_ref").isNotNull() & F.col("m_cur").isNotNull()
    )
    counts = emb.select(
        "label",
        (
            F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) <= "7"
        ).alias("is_ref"),
    ).groupBy("label").agg(
        F.count(F.when(F.col("is_ref"), True)).alias("n_ref"),
        F.count(F.when(~F.col("is_ref"), True)).alias("n_cur"),
    )
    drift = wide.groupBy("label").agg(
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("m_ref") - F.col("m_cur"))
                    * (F.col("m_ref") - F.col("m_cur"))
                )
            ),
            6,
        ).alias("centroid_shift")
    )
    return drift.join(counts, "label").select(
        "label",
        F.col("n_ref").cast("bigint"),
        F.col("n_cur").cast("bigint"),
        "centroid_shift",
    )


# --------------------------------------------------------------------------
# Semantic (embedding-space) decontamination — the vector twin of
# d_contamination_exact: verbatim detectors miss a paraphrased leak,
# embedding cosine does not. Benchmark slice = deterministic md5
# sixteenth of the corpus (first hex char < '3'); every bench vector
# reports its nearest TRAIN vector among LSH-bucket collisions plus
# the candidate volume — the operator user thresholds best_score to
# quarantine. The join shuffles on the signature key alone (bucket
# population bounds the pairwise term); at 100 TB the bench side is
# tiny and broadcastable. Pairs with a bench vector colliding with no
# train vector are honestly absent (nothing to report — same rule as
# the oracle's inner join).
# --------------------------------------------------------------------------
@register(
    "v_semantic_contamination",
    f"""
    WITH sigs AS (
        SELECT vec_id, embedding, {_sig_sql_expr()} AS sig,
               sqrt(list_sum(list_transform(range(1, {_DIMS} + 1),
                    i -> (embedding[i]::DOUBLE) * (embedding[i]::DOUBLE)))) AS nrm,
               (substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '3') AS is_bench
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS bench_id, b.vec_id AS train_id,
               ROUND({_DOT} / NULLIF(a.nrm * b.nrm, 0), 6) AS score
        FROM sigs a JOIN sigs b ON a.sig = b.sig
        WHERE a.is_bench AND NOT b.is_bench
    ),
    ranked AS (
        SELECT bench_id, train_id, score,
               ROW_NUMBER() OVER (PARTITION BY bench_id
                                  ORDER BY score DESC, train_id) AS rn,
               COUNT(*) OVER (PARTITION BY bench_id) AS n_candidates
        FROM scored
    )
    SELECT bench_id, train_id, score AS best_score,
           CAST(n_candidates AS BIGINT) AS n_candidates
    FROM ranked WHERE rn = 1
    """,
    doc="embedding-space decontamination: nearest in-LSH-bucket train "
    "vector per benchmark vector (md5-sliced split) + candidate volume",
)
def v_semantic_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from listenbrainz_server_spark.operators.similarity import (
        as_double,
        dot,
        lsh_signature,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    sigs = emb.select(
        "vec_id",
        v.alias("v"),
        lsh_signature(as_double_sql("embedding"), _DIMS, _SIG_BITS).alias("sig"),
        (F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1) < "3").alias(
            "is_bench"
        ),
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    bench = sigs.where(F.col("is_bench")).select(
        F.col("vec_id").alias("bench_id"), F.col("v").alias("bv"),
        F.col("nrm").alias("bn"), "sig",
    )
    train = sigs.where(~F.col("is_bench")).select(
        F.col("vec_id").alias("train_id"), F.col("v").alias("tv"),
        F.col("nrm").alias("tn"), "sig",
    )
    scored = bench.join(train, "sig").select(
        "bench_id",
        "train_id",
        F.round(
            F.when(
                (F.col("bn") != 0) & (F.col("tn") != 0),
                dot(F.col("bv"), F.col("tv")) / (F.col("bn") * F.col("tn")),
            ),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("bench_id").orderBy(F.col("score").desc(), "train_id")
    wc = Window.partitionBy("bench_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n_candidates", F.count(F.lit(1)).over(wc))
        .where(F.col("rn") == 1)
        .select(
            "bench_id",
            "train_id",
            F.col("score").alias("best_score"),
            F.col("n_candidates").cast("bigint"),
        )
    )


# --------------------------------------------------------------------------
# Signature-width tuning sweep — the evidence behind sized_sig_bits'
# sizing rule, measured: for b in {4, 6, 8} bucket on the b-bit
# PREFIX of the 8-bit sign-LSH signature (a b-bit signature IS the
# prefix — hyperplane h is independent of width) and report (a) the
# candidate-pair volume the buckets imply and (b) candidate-stage
# recall: the fraction of exact top-5 pairs that share a b-bit
# bucket. This is the curve an operator reads before pinning bits at
# a new corpus size: pairs shrink exponentially with b while recall
# decays slowly. Exact side computed once (one blocked matmul);
# per-setting work is one signature-keyed aggregate + one broadcast
# membership join — no per-setting rescan of anything quadratic.
# --------------------------------------------------------------------------
def _sig_sweep_sql() -> str:
    blocks = []
    for b in (4, 6, 8):
        blocks.append(f"""
    SELECT {b} AS sig_bits,
           (SELECT CAST(SUM(n * (n - 1) // 2) AS BIGINT) FROM (
               SELECT COUNT(*) AS n FROM sigs
               GROUP BY substr(sig, 1, {b})) bk) AS candidate_pairs,
           (SELECT ROUND(AVG(CASE WHEN substr(sa.sig, 1, {b})
                                     = substr(sb.sig, 1, {b})
                             THEN 1.0 ELSE 0.0 END), 6)
            FROM top5 t
            JOIN sigs sa ON sa.vec_id = t.qid
            JOIN sigs sb ON sb.vec_id = t.nid) AS recall""")
    union = "\n    UNION ALL\n".join(blocks)
    return f"""
    WITH {_NORM_CTE},
    scored AS (
        SELECT a.vec_id AS qid, b.vec_id AS nid,
               ROUND({_DOT} / (a.nrm * b.nrm), 6) AS score
        FROM norms a JOIN norms b ON a.vec_id <> b.vec_id
    ),
    top5 AS (
        SELECT qid, nid FROM (
            SELECT qid, nid,
                   ROW_NUMBER() OVER (PARTITION BY qid
                                      ORDER BY score DESC, nid) AS rk
            FROM scored) r
        WHERE rk <= 5
    ),
    sigs AS (SELECT vec_id, {_sig_sql_expr()} AS sig FROM embeddings)
    {union}
    """


@register(
    "v_sig_bits_sweep",
    _sig_sweep_sql(),
    doc="LSH signature-width tuning curve: candidate-pair volume and "
    "exact-top-5 candidate recall at 4/6/8-bit bucket prefixes",
)
def v_sig_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from listenbrainz_server_spark.operators.similarity import (
        as_double,
        lsh_signature,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    sigs = emb.select(
        "vec_id",
        lsh_signature(as_double_sql("embedding"), _DIMS, _SIG_BITS).alias("sig"),
    ).localCheckpoint(eager=True)  # one signature pass feeds all settings
    top5 = (
        brute_force_topk(emb, "vec_id", "embedding", k=5)
        .select("qid", "nid")
        .localCheckpoint(eager=True)  # exact side computed once
    )
    qa = sigs.select(F.col("vec_id").alias("qid"), F.col("sig").alias("qsig"))
    nb = sigs.select(F.col("vec_id").alias("nid"), F.col("sig").alias("nsig"))
    joined = top5.join(F.broadcast(qa), "qid").join(F.broadcast(nb), "nid")

    rows = []
    for b in (4, 6, 8):
        pairs = (
            sigs.groupBy(F.substring("sig", 1, b))
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) DIV 2")).cast("bigint").alias("cp"))
            .select(
                F.lit(b).alias("sig_bits"),
                F.col("cp").alias("candidate_pairs"),
            )
        )
        rec = joined.agg(
            F.round(
                F.avg(
                    F.when(
                        F.substring("qsig", 1, b) == F.substring("nsig", 1, b),
                        1.0,
                    ).otherwise(0.0)
                ),
                6,
            ).alias("recall")
        )
        rows.append(pairs.crossJoin(F.broadcast(rec)))
    return reduce(lambda a, c: a.unionByName(c), rows)
