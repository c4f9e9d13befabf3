"""Blocked-broadcast similarity + shingle df-cap tests.

The blocked loop (operators/similarity.py) must produce results
identical to the single-block path regardless of block count — the
100 TB contract is "driver memory bounded by block_rows, answer
unchanged".
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import load_table
from listenbrainz_server_spark.operators.dedup import connected_components, shingle_index
from listenbrainz_server_spark.operators.similarity import (
    brute_force_topk,
    neardup_pairs,
)

SF = "/root/testdata/sf0.001"


def _canon_topk(df):
    return sorted(
        (r.qid, r.nid, round(r.score, 6), r.rank) for r in df.collect()
    )


def test_brute_force_topk_blocked_equals_single(spark):
    emb = load_table(spark, SF, "embeddings")
    single = brute_force_topk(emb, "vec_id", "embedding", k=5)
    blocked = brute_force_topk(emb, "vec_id", "embedding", k=5, block_rows=17)
    assert _canon_topk(blocked) == _canon_topk(single)


def test_neardup_pairs_blocked_equals_single(spark):
    emb = load_table(spark, SF, "embeddings")
    single = neardup_pairs(emb, "vec_id", "embedding", threshold=0.4)
    blocked = neardup_pairs(emb, "vec_id", "embedding", threshold=0.4, block_rows=13)
    canon = lambda df: sorted((r.id_a, r.id_b, round(r.score, 6)) for r in df.collect())
    assert canon(blocked) == canon(single)


def test_shingle_df_cap_drops_hot_shingle(spark):
    # "the the the" 3-gram appears in every doc (hot); unique tails don't.
    docs = spark.createDataFrame(
        [(i, f"the the the unique{i} tail{i} word{i}") for i in range(6)],
        "doc_id long, body string",
    )
    uncapped = shingle_index(docs, "doc_id", "body", n=3)
    capped = shingle_index(docs, "doc_id", "body", n=3, max_shingle_df=3)
    hot = {r.shingle for r in uncapped.groupBy("shingle").count().where("count > 3").collect()}
    assert hot  # fixture really has a hot shingle
    kept = {r.shingle for r in capped.select("shingle").distinct().collect()}
    assert not (hot & kept), "df-capped index must drop hot shingles"
    # max_shingle_df=0 must drop EVERYTHING (regression: old ternary
    # silently disabled the filter for 0).
    assert shingle_index(docs, "doc_id", "body", n=3, max_shingle_df=0).count() == 0


def test_connected_components_chain_rounds_logarithmic(spark):
    """Path-halving bound: a 64-node chain (diameter 63) must converge
    in ≤ ceil(log2(64)) + 2 = 8 rounds, not O(diameter). This is the
    100 TB contract — a pathological dup-chain component costs log(d)
    full-edge shuffles, not d of them."""
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = connected_components(nodes, pairs, max_iter=12, stats=stats)
    assert {r.group_id for r in out.collect()} == {0}
    import math

    assert stats["rounds"] <= math.ceil(math.log2(n)) + 2, stats


def test_connected_components_shuffled_chain_contracts(spark):
    """r15 label-contraction phase: a chain whose node ids are RANDOM
    with respect to topology defeats label-chain path halving (label
    pointers don't align with the graph — plain propagation simulates
    to O(diameter) rounds, >25 for this fixture), so only the
    contracted rounds keep convergence logarithmic. Pins both the
    result and a generous round bound for a 128-node shuffled chain."""
    import random

    n = 128
    rng = random.Random(3)
    ids = list(range(n))
    rng.shuffle(ids)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(n - 1)], "id_a long, id_b long"
    )
    stats: dict = {}
    out = connected_components(nodes, pairs, max_iter=25, stats=stats)
    labels = {(r.id, r.group_id) for r in out.collect()}
    assert {g for _, g in labels} == {0}
    assert stats["rounds"] <= 12, stats

    # The confirming plain round is not counted against max_iter: with
    # max_iter set so the contraction converges on the last allowed
    # round, the confirm round still runs and nothing is raised.
    tight = connected_components(nodes, pairs, max_iter=stats["rounds"] - 1)
    assert {(r.id, r.group_id) for r in tight.collect()} == labels


def test_connected_components_raises_when_not_converged(spark):
    # A 6-node path graph has diameter 5; max_iter=1 cannot converge.
    nodes = spark.createDataFrame([(i,) for i in range(6)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="not converged"):
        connected_components(nodes, pairs, max_iter=1)
    # And with enough rounds it converges to a single min-label group.
    out = connected_components(nodes, pairs, max_iter=10)
    assert {r.group_id for r in out.collect()} == {0}


def test_ivf_topk_recall_vs_brute_force(spark):
    from listenbrainz_server_spark.operators.similarity import ivf_topk

    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r.qid, r.nid)
        for r in brute_force_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    approx = {
        (r.qid, r.nid)
        for r in ivf_topk(
            emb, "vec_id", "embedding", k=5, n_centroids=4, n_probe=2
        ).collect()
    }
    # Probing half the coarse buckets must recover most true neighbors;
    # scores of returned pairs are exact, so overlap == recall.
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall:.2f}"
    # Every approx pair's score must equal the exact cosine (re-rank is
    # exact within probed buckets).
    exact_scores = {
        (r.qid, r.nid): r.score
        for r in brute_force_topk(emb, "vec_id", "embedding", k=50).collect()
    }
    for r in ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids=4, n_probe=2
    ).collect():
        if (r.qid, r.nid) in exact_scores:
            assert abs(r.score - exact_scores[(r.qid, r.nid)]) < 1e-9


def test_multiprobe_recall_dominates_single_bucket(spark):
    from listenbrainz_server_spark.operators.similarity import (
        lsh_bucketed_topk,
        lsh_multiprobe_topk,
    )

    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r.qid, r.nid)
        for r in brute_force_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    # 3-bit signatures: the smoke corpus (~50 vectors) needs dense
    # buckets for recall numbers to mean anything (8 buckets, probe 4).
    single = {
        (r.qid, r.nid)
        for r in lsh_bucketed_topk(
            emb, "vec_id", "embedding", dims=64, k=5, sig_bits=3
        ).collect()
    }
    multi = {
        (r.qid, r.nid)
        for r in lsh_multiprobe_topk(
            emb, "vec_id", "embedding", dims=64, k=5, sig_bits=3, n_flip=1
        ).collect()
    }
    r_single = len(exact & single) / len(exact)
    r_multi = len(exact & multi) / len(exact)
    assert r_multi >= r_single, (r_multi, r_single)
    assert r_multi >= 0.5, f"multi-probe recall too low: {r_multi:.2f}"


def test_probe_sig_array_and_n_flip_rule(spark):
    """The r13 probe-radius dial: (a) resolve_n_flip('auto') follows
    the measured-knee rule clamp(ceil(bits/6), 2, 3) — floor 2 because
    radius 1 is the measured decay mode on weakly clustered data
    (recall 0.385 at bits=5), cap 3 because C(bits,3) probing at
    bits=9 already spends 57% of brute force (SCALING.json
    lsh_dial_knee); (b) _probe_sig_array(sig, bits, f) enumerates
    EXACTLY the signatures at Hamming distance <= f, each once — a
    duplicate would double-count candidate pairs in the cogrouped
    scorer, a miss would silently cost recall."""
    import itertools

    from listenbrainz_server_spark.operators.similarity import (
        _probe_sig_array,
        resolve_n_flip,
    )

    assert [resolve_n_flip("auto", b) for b in (4, 5, 9, 12, 13, 18, 24)] == [
        2, 2, 2, 2, 3, 3, 3,
    ]
    assert resolve_n_flip(1, 9) == 1  # integer dials pass through
    assert resolve_n_flip(0, 9) == 0

    df = spark.createDataFrame([("10110",)], "sig string")

    def hamming(a: str, b: str) -> int:
        return sum(x != y for x, y in zip(a, b))

    for f in (0, 1, 2, 3):
        probes = [
            r.p
            for r in df.select(
                F.explode(_probe_sig_array(F.col("sig"), 5, f)).alias("p")
            ).collect()
        ]
        expected = {
            "".join(c)
            for c in itertools.product("01", repeat=5)
            if hamming("".join(c), "10110") <= f
        }
        assert len(probes) == len(set(probes)), f"duplicate probes at f={f}"
        assert set(probes) == expected, f"probe set wrong at f={f}"


def test_sql_fast_paths_match_column_paths(spark):
    """The r14 single-F.expr fast paths of lsh_signature and
    _probe_sig_array must produce the SAME values as the Column-op
    forms — the fast path only changes HOW the expression tree is
    built (one JVM parse instead of thousands of py4j round trips),
    never what it computes. Bucketing identity is what keeps every
    LSH-family oracle hash stable, so pin it directly."""
    import numpy as np

    from listenbrainz_server_spark.operators.similarity import (
        _probe_sig_array,
        as_double,
        as_double_sql,
        lsh_signature,
    )

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((200, 16)).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    old = df.select(
        lsh_signature(as_double(F.col("embedding")), 16, 7).alias("s")
    ).collect()
    new = df.select(
        lsh_signature(as_double_sql("embedding"), 16, 7).alias("s")
    ).collect()
    assert old == new

    sigs = df.select(
        lsh_signature(as_double_sql("embedding"), 16, 7).alias("sig")
    )
    po = sigs.select(F.explode(_probe_sig_array(F.col("sig"), 7, 2)).alias("p"))
    pn = sigs.select(F.explode(_probe_sig_array("`sig`", 7, 2)).alias("p"))
    assert po.collect() == pn.collect()


def test_multiprobe_radius_2_recall_dominates_radius_1(spark):
    """Radius monotonicity on the smoke corpus: widening the probe
    radius can only add candidates, so recall@5 must not drop."""
    from listenbrainz_server_spark.operators.similarity import lsh_multiprobe_topk

    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r.qid, r.nid)
        for r in brute_force_topk(emb, "vec_id", "embedding", k=5).collect()
    }
    by_flip = {}
    for f in (1, 2):
        got = {
            (r.qid, r.nid)
            for r in lsh_multiprobe_topk(
                emb, "vec_id", "embedding", dims=64, k=5, sig_bits=4, n_flip=f
            ).collect()
        }
        by_flip[f] = len(exact & got) / len(exact)
    assert by_flip[2] >= by_flip[1], by_flip


def test_pq_adc_recall_and_exact_scores(spark):
    """PQ ADC + exact re-rank: surviving (qid, nid) pairs carry EXACT
    cosine scores, and recall vs brute force is meaningful despite the
    lossy codes (oversample + re-rank recovers ADC ranking noise)."""
    from listenbrainz_server_spark.operators.similarity import pq_topk

    emb = load_table(spark, SF, "embeddings")
    exact_rows = brute_force_topk(emb, "vec_id", "embedding", k=5).collect()
    exact_scores = {(r.qid, r.nid): r.score for r in exact_rows}
    # m=16 on the ~50-vector smoke corpus: coarse codes (m=4) drown
    # ADC in quantization noise; finer subspaces recover the ranking
    # up to the multi-probe candidate-coverage ceiling.
    got = pq_topk(
        emb, "vec_id", "embedding", dims=64, k=5, m=16, k_sub=8, sig_bits=3
    ).collect()
    assert got, "PQ returned no rows"
    for r in got:
        if (r.qid, r.nid) in exact_scores:
            assert abs(r.score - exact_scores[(r.qid, r.nid)]) < 1e-9
    recall = len({(r.qid, r.nid) for r in got} & set(exact_scores)) / len(exact_scores)
    assert recall >= 0.4, f"PQ recall too low: {recall:.2f}"


def test_pq_codebooks_deterministic(spark):
    from listenbrainz_server_spark.operators.similarity import pq_train_codebooks

    emb = load_table(spark, SF, "embeddings")
    b1 = pq_train_codebooks(emb, "embedding", 64, m=2, k_sub=4)
    b2 = pq_train_codebooks(emb, "embedding", 64, m=2, k_sub=4)
    assert b1 == b2


def test_sized_sig_bits_rule_and_bucket_population_bound(spark):
    """VERDICT r2 #4: sig_bits must grow with n. The rule guarantees
    expected bucket population ≤ target by construction; empirically,
    on a 10× gaussian fixture the OBSERVED max bucket population must
    stay within a small factor of the target (hyperplane buckets are
    near-uniform on isotropic data)."""
    import numpy as np

    from listenbrainz_server_spark.operators.similarity import (
        as_double,
        lsh_signature,
        sized_sig_bits,
    )

    # Construction guarantee: n / 2^bits <= target for any n.
    for n in (100, 1_000, 10_000, 1_000_000, 10**9):
        bits = sized_sig_bits(n, target_bucket_rows=64)
        assert n / 2**bits <= 64 or bits == 24  # max_bits clamp at 1e9
    # A 10× corpus adds bits instead of growing buckets.
    assert sized_sig_bits(50_000) > sized_sig_bits(5_000)

    rng = np.random.default_rng(45)
    n, dims = 5_000, 16
    vecs = rng.standard_normal((n, dims)).round(4)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    bits = sized_sig_bits(n, target_bucket_rows=64)  # ceil(log2(78)) = 7
    assert bits == 7
    pops = (
        df.select(lsh_signature(as_double(F.col("embedding")), dims, bits).alias("sig"))
        .groupBy("sig")
        .count()
        .agg(F.max("count").alias("mx"))
        .collect()[0]
        .mx
    )
    # Expected 5000/128 ≈ 39 per bucket; 4× headroom for hyperplane skew.
    assert pops <= 4 * 64, f"max bucket population {pops} exceeds bound"


def test_ivfpq_topk_recall_and_ceiling(spark):
    """IVF-PQ: (a) absolute top-5 recall floor vs brute force, and
    (b) the residual-ADC stage must retain >=85% of the IVF-exact
    recall at the SAME probe budget — if PQ compression were mangling
    ranks, (b) catches it even when (a)'s floor is generous. Also
    determinism: two runs produce identical rows (seeded trainers,
    nid tie-breaks)."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {(r.qid, r.nid) for r in brute_force_topk(emb, "vec_id", "embedding", k=5).collect()}
    ivf = {
        (r.qid, r.nid)
        for r in ivf_topk(
            emb, "vec_id", "embedding", k=5, n_centroids=8, n_probe=2
        ).collect()
    }

    def run():
        return ivfpq_topk(
            emb, "vec_id", "embedding", dims=64, k=5,
            n_centroids=8, n_probe=2, m=8, k_sub=16, oversample=8,
        )

    rows1 = {tuple(r) for r in run().collect()}
    pq_pairs = {(q, n) for q, n, _, _ in rows1}
    recall = len(pq_pairs & exact) / len(exact)
    ceiling = len(ivf & exact) / len(exact)
    assert recall >= 0.45, recall
    assert recall >= 0.85 * ceiling, (recall, ceiling)
    rows2 = {tuple(r) for r in run().collect()}
    assert rows1 == rows2


def test_banded_range_search_recall_vs_exact(spark):
    """Radius query: the banded OR-construction must recover >=85% of
    the exact threshold pairs (measured 0.93 at B=8, R=3 on the
    fixture), return ONLY true pairs (precision 1 — the exact filter
    runs on every candidate), and strictly beat the single-wide-bucket
    construction it replaced (which measured 4/59)."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        banded_range_search,
        neardup_pairs,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in neardup_pairs(emb, "vec_id", "embedding", threshold=0.4).collect()
    }
    banded = {
        (r.id_a, r.id_b)
        for r in banded_range_search(
            emb, "vec_id", "embedding", dims=64, threshold=0.4
        ).collect()
    }
    assert banded <= exact, "precision must be 1 (exact filter on candidates)"
    assert len(banded) >= 0.85 * len(exact), (len(banded), len(exact))


def test_sized_sig_bits_choice_sits_on_measured_sweep_knee(spark):
    """VERDICT r5 #7 — the auto-sizer must agree with the measured
    curve: run the v_sig_bits_sweep calibration on the sf0.01
    embeddings fixture and assert sized_sig_bits' choice for that
    corpus (a) falls inside the swept range, (b) honors its own
    candidate-volume promise against the MEASURED candidate pairs
    (n × target/2 with skew headroom), and (c) sits ON the knee, not
    either side of it: every coarser swept width must cost >=2x the
    candidates (the added bits earned their keep), every finer width
    must measure no better recall (the choice left none on the
    table), and the choice must not overshoot into near-empty buckets
    (expected population >= target/8). Pins the sizing rule to the
    measurement so one can't silently drift from the other."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import sized_sig_bits
    from listenbrainz_server_spark.queries import load_all

    sf = "/root/testdata/sf0.01"
    n = load_table(spark, sf, "embeddings").count()
    bits = sized_sig_bits(n, target_bucket_rows=64)

    sweep = {
        r.sig_bits: (r.candidate_pairs, r.recall)
        for r in load_all()["v_sig_bits_sweep"].fn(spark, sf).collect()
    }
    swept = sorted(sweep)
    assert swept[0] <= bits <= swept[-1], (bits, swept)

    pairs_at_choice, recall_at_choice = sweep[bits]
    # (b) the sizing rule's own bound, checked against measurement:
    # expected candidate volume ~ n × target_bucket_rows / 2; allow 4×
    # for hyperplane skew (same headroom as the population test).
    assert pairs_at_choice <= 4 * n * 64 / 2, (pairs_at_choice, n)
    # (c) on the knee, neither side of it.
    for b, (pairs_b, recall_b) in sweep.items():
        if b < bits:  # coarser: the choice's extra bits must pay
            assert pairs_at_choice * 2 <= pairs_b, (bits, b, sweep)
        if b > bits:  # finer: must not measure better recall
            assert recall_at_choice >= recall_b, (bits, b, sweep)
    # No overshoot into near-empty buckets: expected population stays
    # within 8x of target (catches a sizer that returns max-ish bits
    # for a tiny corpus — the curve's right-of-knee region).
    assert n / 2**bits >= 64 / 8, (n, bits)


# ---------------------------------------------------------------------------
# Delta-only IVFPQ maintenance (VERDICT r7 #6): frozen-artifact encode
# is a pure per-row function, drift decides refit-vs-append, append
# touches only the delta's coarse lists.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def ivfpq_artifacts(spark):
    from listenbrainz_server_spark.operators.similarity import (
        ivfpq_train_artifacts,
    )

    emb = load_table(spark, SF, "embeddings")
    base = emb.where(F.col("vec_id") % 10 != 7)
    centers, books = ivfpq_train_artifacts(
        base, "vec_id", "embedding", dims=64, n_centroids=8, m=8
    )
    return emb, base, centers, books


def _canon_index(df):
    return sorted((r.nid, r.bucket, tuple(r.codes)) for r in df.collect())


def test_ivfpq_delta_encode_equals_full(spark, ivfpq_artifacts):
    """base-encode ∪ delta-encode must be EXACTLY the full re-encode
    under the same frozen artifacts — encoding is per-row pure, so
    append-only maintenance never diverges from a rebuild."""
    from listenbrainz_server_spark.operators.similarity import ivfpq_encode

    emb, base, centers, books = ivfpq_artifacts
    delta = emb.where(F.col("vec_id") % 10 == 7)
    enc = lambda df: ivfpq_encode(df, "vec_id", "embedding", centers, books)
    combined = _canon_index(enc(base)) + _canon_index(enc(delta))
    assert sorted(combined) == _canon_index(enc(emb))


def test_ivfpq_drift_trigger(spark, ivfpq_artifacts):
    """Organic delta (same distribution) stays under the refit
    threshold; a constant-offset distribution shift crosses it."""
    from listenbrainz_server_spark.operators.similarity import (
        ivf_drift_report,
        ivfpq_encode,
        ivfpq_should_refit,
    )
    from listenbrainz_server_spark.queries.similarity import (
        _DRIFT_REFIT_THRESHOLD,
    )

    emb, base, centers, books = ivfpq_artifacts
    delta = emb.where(F.col("vec_id") % 10 == 7)
    organic = ivf_drift_report(
        ivfpq_encode(delta, "vec_id", "embedding", centers, books, keep_vec=True),
        centers,
    )
    assert not ivfpq_should_refit(organic, _DRIFT_REFIT_THRESHOLD)
    shifted = delta.select(
        "vec_id", F.transform("embedding", lambda x: x + F.lit(0.5)).alias("embedding")
    )
    drifted = ivf_drift_report(
        ivfpq_encode(shifted, "vec_id", "embedding", centers, books, keep_vec=True),
        centers,
    )
    assert ivfpq_should_refit(drifted, _DRIFT_REFIT_THRESHOLD)
    # The stat itself is ordered the right way, not just thresholded.
    w = lambda rep: (
        rep.agg(
            (F.sum(F.col("centroid_shift") * F.col("n_delta")) / F.sum("n_delta"))
        ).collect()[0][0]
    )
    assert w(drifted) > 2 * w(organic)


def test_ivfpq_append_touches_only_affected_lists(spark, ivfpq_artifacts, tmp_path):
    """Affected-list pruning (the tests/test_incremental.py:42 rule at
    the index layer): appending a delta adds files ONLY under the
    bucket= dirs its vectors land in; every other coarse list's file
    set is untouched."""
    import os

    from listenbrainz_server_spark.operators.similarity import ivfpq_encode

    emb, base, centers, books = ivfpq_artifacts
    delta = emb.where(F.col("vec_id") % 10 == 7)
    state = str(tmp_path / "index")
    ivfpq_encode(base, "vec_id", "embedding", centers, books).write.partitionBy(
        "bucket"
    ).parquet(state)

    def listing():
        out = {}
        for d in os.listdir(state):
            if d.startswith("bucket="):
                p = os.path.join(state, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(p, f)))
                    for f in os.listdir(p)
                    if f.endswith(".parquet")
                )
        return out

    before = listing()
    delta_idx = ivfpq_encode(delta, "vec_id", "embedding", centers, books)
    delta_buckets = {
        f"bucket={r.bucket}" for r in delta_idx.select("bucket").distinct().collect()
    }
    delta_idx.write.mode("append").partitionBy("bucket").parquet(state)
    after = listing()
    for d, files in before.items():
        if d not in delta_buckets:
            assert after[d] == files, f"untouched list {d} was rewritten"
    for d in delta_buckets:
        assert len(after[d]) > len(before.get(d, [])), f"no delta files in {d}"
    # And the maintained index is complete: every vector indexed once.
    n = spark.read.parquet(state).count()
    assert n == emb.where(F.col("vec_id").isNotNull()).count()


def test_semdedup_properties_vs_numpy(spark):
    """SemDeDup contract vs a numpy recompute on the fixture:
    partition (each vector exactly once, exactly one keeper per
    group), witness (every removed vector has a >= tau within-cluster
    edge to a group-mate), the paper's keep rule (lowest cosine to
    centroid, ties to min id), determinism across runs, and measured
    recall of exact near-dup PAIRS (within-cluster exactness; the
    cross-cluster split is the only loss)."""
    import numpy as np

    from listenbrainz_server_spark.operators.similarity import (
        neardup_pairs,
        semdedup,
    )

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    tau = 0.4
    out = semdedup(emb, "vec_id", "embedding", dims=64, n_clusters=8, tau=tau)
    rows = out.collect()
    again = semdedup(
        emb, "vec_id", "embedding", dims=64, n_clusters=8, tau=tau
    ).collect()
    assert rows == again, "seeded pipeline must be deterministic"

    ids = [r.vec_id for r in rows]
    assert len(ids) == len(set(ids)) == emb.count()
    by_group = {}
    for r in rows:
        by_group.setdefault(r.group_id, []).append(r)
    for g, members in by_group.items():
        keepers = [r for r in members if r.keep]
        assert len(keepers) == 1
        assert keepers[0].vec_id == members[0].keeper_id
        assert all(m.keeper_id == keepers[0].vec_id for m in members)
        # Keep rule: lowest cos_center, ties to min id.
        best = min(members, key=lambda m: (m.cos_center, m.vec_id))
        assert keepers[0].vec_id == best.vec_id

    # numpy ground truth for witness + recall.
    pdf = emb.select("vec_id", "embedding").toPandas()
    mat = np.vstack(pdf["embedding"].to_numpy()).astype("float64")
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    idx = {v: i for i, v in enumerate(pdf["vec_id"])}
    cluster = {r.vec_id: r.cluster for r in rows}
    for g, members in by_group.items():
        for m in members:
            if m.keep:
                continue
            mates = [
                o for o in members
                if o.vec_id != m.vec_id and cluster[o.vec_id] == m.cluster
            ]
            assert any(
                sims[idx[m.vec_id], idx[o.vec_id]] >= tau - 1e-9 for o in mates
            ), f"removed {m.vec_id} has no within-cluster witness edge"

    exact = {
        (r.id_a, r.id_b)
        for r in neardup_pairs(
            emb, "vec_id", "embedding", threshold=tau
        ).collect()
    }
    captured = {
        (a, b) for (a, b) in exact if cluster[a] == cluster[b]
    }
    # Measured on the fixture: 27/59 = 0.458 at k=8, tau=0.4. The
    # loose 0.4 radius is far from the paper's tight-dup regime
    # (tau ~ 0.95+, where near-identical vectors co-cluster almost
    # surely) — pair recall at loose radii is SemDeDup's documented
    # trade for the bounded pair budget. Pin just under the measured
    # value so a clustering regression (seed/featurization drift)
    # still shows up.
    assert len(captured) >= 0.4 * len(exact), (len(captured), len(exact))


def test_n_centroids_auto_scale_dial(spark):
    """SCALING.md r11: with nlist fixed, IVF candidate volume grows
    O(n²/nlist); the measured dial is nlist ∝ √n. "auto" resolves to
    max(8, round(√n)) and the IVF pipeline runs with it; integers
    pass through untouched so the fixture-pinned audit tiers keep
    their tuned recall floors."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        ivf_topk,
        resolve_n_centroids,
    )

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    auto = resolve_n_centroids("auto", emb)
    assert auto == max(8, int(round(n**0.5)))
    assert resolve_n_centroids(8, emb) == 8
    topk = ivf_topk(emb, "vec_id", "embedding", k=5, n_centroids="auto",
                    n_probe=2)
    got = topk.groupBy("qid").count().agg({"count": "max"}).first()[0]
    assert got <= 5


def test_knn_classify_ann_serving_form(spark):
    """The serving form classifies every vector (one prediction per
    vec_id, labels from the table's domain) and differs from the
    registered audit only in skipping the exact yardstick."""
    from listenbrainz_server_spark.queries.similarity import (
        knn_classify_ann_raw,
    )

    out = knn_classify_ann_raw(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    n = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).count()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    labels = {
        r.label
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select("label").distinct().collect()
    }
    assert {r.pred_label for r in rows} <= labels
    for r in rows:
        assert r.correct == (r.true_label == r.pred_label)


def test_lloyd_kmeans_contract():
    """The driver-side coarse-quantizer fit (r11 — replaced the four
    MLlib KMeans sites): determinism given (data, k, seed), k >= n
    clamp, every center finite, and the fit actually descends — the
    within-cluster SSE after 8 iterations must not exceed the SSE of
    the k-means++ init it started from."""
    import numpy as np

    from listenbrainz_server_spark.operators.similarity import lloyd_kmeans

    rng = np.random.default_rng(7)
    X = np.concatenate(
        [rng.normal(c, 0.3, size=(200, 16)) for c in (-2.0, 0.0, 2.0)]
    )

    def sse(data, centers):
        d = (
            (data**2).sum(axis=1, keepdims=True)
            - 2.0 * (data @ centers.T)
            + (centers**2).sum(axis=1)
        )
        return d.min(axis=1).sum()

    c1 = lloyd_kmeans(X, 8, seed=45)
    c2 = lloyd_kmeans(X, 8, seed=45)
    assert np.array_equal(c1, c2), "seeded fit must be deterministic"
    assert c1.shape == (8, 16) and np.isfinite(c1).all()

    init_only = lloyd_kmeans(X, 8, seed=45, max_iter=0)
    assert sse(X, c1) <= sse(X, init_only) + 1e-9, "Lloyd must descend"

    # k >= n clamps to n centers; duplicate rows can't crash the
    # D²-weighted init (total distance mass goes to 0 -> uniform pick).
    tiny = np.ones((3, 4))
    c3 = lloyd_kmeans(tiny, 10, seed=1)
    assert c3.shape == (3, 4) and np.isfinite(c3).all()


def test_blockwise_assign_probe_equal_full_matrix(monkeypatch):
    """assign_buckets / probe_buckets (r12, ADVICE r11: the Lloyd loop
    must never materialize an (n x k) distance matrix) chunk rows —
    per-row results must be IDENTICAL to the full-matrix formulation
    for any block size, since each row's distance vector is the same
    expression either way."""
    import numpy as np

    from listenbrainz_server_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    v = rng.normal(size=(500, 16))
    centers = rng.normal(size=(7, 16))

    full_d = sim.bucket_distances(v, centers)
    want_assign = full_d.argmin(axis=1)
    want_probe = np.argsort(full_d, axis=1, kind="stable")[:, :3]

    for blk in (64, 100, 499, 500, 10_000):
        monkeypatch.setattr(sim, "_assign_block_rows", lambda k, b=blk: b)
        assert np.array_equal(sim.assign_buckets(v, centers), want_assign)
        assert np.array_equal(sim.probe_buckets(v, centers, 3), want_probe)
    # n_probe > k clamps to k columns.
    monkeypatch.setattr(sim, "_assign_block_rows", lambda k: 64)
    assert sim.probe_buckets(v, centers, 99).shape == (500, 7)


def test_lloyd_kmeans_block_size_invariant(monkeypatch):
    """The fitted centers must not depend on the assignment block size
    (the blocking is a memory shape, not a numeric choice): tiny
    blocks == one block, bitwise."""
    import numpy as np

    from listenbrainz_server_spark.operators import similarity as sim

    rng = np.random.default_rng(3)
    X = rng.normal(size=(600, 8))
    base = sim.lloyd_kmeans(X, 9, seed=45)
    monkeypatch.setattr(sim, "_assign_block_rows", lambda k: 37)
    small = sim.lloyd_kmeans(X, 9, seed=45)
    assert np.array_equal(base, small)


def test_ivfpq_topk_and_encode_preserve_string_ids(spark):
    """ADVICE r11: ivfpq_topk / ivfpq_encode hardcoded bigint id
    schemas while ivf_topk was already id-type generic — string ids
    must survive both Arrow passes and the ADC cogroup, and the
    results must be the bigint run's results modulo the cast."""
    from listenbrainz_server_spark.operators.similarity import (
        ivfpq_encode,
        ivfpq_topk,
        ivfpq_train_artifacts,
    )

    emb = load_table(spark, SF, "embeddings")
    as_str = emb.select(
        F.col("vec_id").cast("string").alias("vec_id"), "embedding"
    )

    kw = dict(dims=64, k=3, n_centroids=4, n_probe=2, m=8, k_sub=16)
    want = {
        (str(r.qid), str(r.nid), r.score, r.rank)
        for r in ivfpq_topk(emb, "vec_id", "embedding", **kw).collect()
    }
    got_df = ivfpq_topk(as_str, "vec_id", "embedding", **kw)
    assert dict(got_df.dtypes)["qid"] == "string"
    assert dict(got_df.dtypes)["nid"] == "string"
    got = {(r.qid, r.nid, r.score, r.rank) for r in got_df.collect()}
    assert got == want and len(got) > 0

    centers, books = ivfpq_train_artifacts(
        emb, "vec_id", "embedding", dims=64, n_centroids=4, m=8, k_sub=16
    )
    enc_int = {
        (str(r.nid), r.bucket, tuple(r.codes))
        for r in ivfpq_encode(emb, "vec_id", "embedding", centers, books).collect()
    }
    enc_df = ivfpq_encode(as_str, "vec_id", "embedding", centers, books)
    assert dict(enc_df.dtypes)["nid"] == "string"
    enc_str = {(r.nid, r.bucket, tuple(r.codes)) for r in enc_df.collect()}
    assert enc_str == enc_int and len(enc_str) > 0


def test_n_probe_auto_scale_dial(spark):
    """r12 (found by tools/recall_smoke.py at sf1): the probe half of
    the scale dial. With nlist ~ sqrt(n), a FIXED n_probe scans a
    vanishing fraction of lists and recall decays on weakly clustered
    data (measured sf0.1: 0.27 at 2/45 probes vs 0.54 at sqrt(nlist)=7);
    n_probe='auto' resolves to max(2, round(sqrt(nlist))) — candidate
    volume n^(7/4), still sublinear. Integers pass through untouched;
    the auto pair must run end-to-end and respect k."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        ivf_topk,
        resolve_n_probe,
    )

    assert resolve_n_probe("auto", 45) == 7
    assert resolve_n_probe("auto", 141) == 12
    assert resolve_n_probe("auto", 4) == 2  # floor
    assert resolve_n_probe(3, 45) == 3  # integer passthrough

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    topk = ivf_topk(
        emb, "vec_id", "embedding", k=5, n_centroids="auto", n_probe="auto"
    )
    got = topk.groupBy("qid").count().agg({"count": "max"}).first()[0]
    assert got <= 5


def test_oversample_auto_scale_dial(spark):
    """r12, third dial leg (found by the recall smoke's relative
    guard): ADC candidate volume grows with the probe budget, so a
    fixed oversample re-ranks a shrinking fraction of an increasingly
    noisy pool (sf0.1 auto pair: IVFPQ retained 79% of IVF recall at
    oversample=8 vs 92% at 16). oversample='auto' = max(2*n_probe, 8)
    ties the re-rank budget to the probe budget; integers pass
    through; the full auto triple must run end-to-end."""
    from listenbrainz_server_spark.catalog import load_table
    from listenbrainz_server_spark.operators.similarity import (
        ivfpq_topk,
        resolve_oversample,
    )

    assert resolve_oversample("auto", 7) == 14
    assert resolve_oversample("auto", 12) == 24
    assert resolve_oversample("auto", 2) == 8  # floor
    assert resolve_oversample(3, 7) == 3  # integer passthrough

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    topk = ivfpq_topk(
        emb, "vec_id", "embedding", dims=64, k=5,
        n_centroids="auto", n_probe="auto", m=8, k_sub=16,
        oversample="auto",
    )
    got = topk.groupBy("qid").count().agg({"count": "max"}).first()[0]
    assert got <= 5


@pytest.mark.parametrize("bits,f", [(3, 1), (4, 2), (6, 2), (6, 3), (8, 1)])
def test_probe_sig_array_hamming_ball_parametrized(spark, bits, f):
    """Hamming-ball exactness across signature widths (r13 guard for
    the scaled probe radius): for EVERY base signature of the given
    width, the probe array is exactly the Hamming-<=f ball, each
    member once. Runs all 2^bits base signatures through ONE Spark
    job per (bits, f) — a miss costs silent recall, a duplicate
    double-counts candidate pairs in the cogrouped scorer."""
    import itertools

    from listenbrainz_server_spark.operators.similarity import _probe_sig_array

    all_sigs = ["".join(c) for c in itertools.product("01", repeat=bits)]
    df = spark.createDataFrame([(s,) for s in all_sigs], "sig string")
    rows = df.select(
        "sig", _probe_sig_array(F.col("sig"), bits, f).alias("probes")
    ).collect()

    def hamming(a: str, b: str) -> int:
        return sum(x != y for x, y in zip(a, b))

    assert len(rows) == 2 ** bits
    for r in rows:
        expected = {s for s in all_sigs if hamming(s, r.sig) <= f}
        assert len(r.probes) == len(set(r.probes)), (r.sig, bits, f)
        assert set(r.probes) == expected, (r.sig, bits, f)


def test_probe_fanout_warning(spark):
    """Advisor r13 #2: a probe set wider than PROBE_FANOUT_WARN (e.g.
    the sized-signature cap bits=24 at auto radius 3 -> 2,325 probes)
    makes the plan itself the cost — the builder must warn and steer
    serving callers to the trained IVF tier. In-bound widths must stay
    silent (warnings are per-call, not per-row: building the Column is
    driver-side)."""
    import warnings

    from pyspark.sql import functions as F

    from listenbrainz_server_spark.operators.similarity import (
        PROBE_FANOUT_WARN,
        _probe_sig_array,
    )

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning -> test failure
        _probe_sig_array(F.col("sig"), 9, 3)  # fan-out 130: silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _probe_sig_array(F.col("sig"), 24, 3)  # fan-out 2,325
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("ivf" in m.lower() for m in msgs), msgs
    assert PROBE_FANOUT_WARN < 2325
