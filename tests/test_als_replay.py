"""Transitive value pin for the ALS pair (VERDICT r11 #5).

``m_als_recommend`` / ``m_als_cv`` are the registry's last
contract-style oracles: an iterative factorization's scores are not
SQL-recomputable. This module pins the trainer the way
``v_mmr_exact_rerank`` pins MMR — with an INDEPENDENT from-scratch
implementation of the same algorithm (Hu, Koren & Volinsky,
"Collaborative Filtering for Implicit Feedback Datasets", ICDM 2008:
confidence c = 1 + alpha*r, preference p = 1[r>0], alternating ridge
normal equations), seeded, fixture-scale, driver-side numpy.

Why ranking identity vs MLlib is pinned only in the PLANTED regime:
measured on the sf0.001 playcounts, MLlib and the replay reach
near-identical objective quality (mean per-user AUC 0.7744 vs 0.7805)
while their top-3 sets overlap only ~14% — TPC-H interactions are
noise-dominated, the optimum is a wide flat basin, and two correct
solvers land in different corners of it. Exact rank identity is
therefore not a property of the ALGORITHM on this data, only of one
implementation's init; asserting it would pin MLlib's RNG, not
correctness. What IS algorithm-determined (and pinned here):

1. QUALITY: both models separate a user's interacted items from the
   rest to the same measured degree (AUC floor + agreement band).
2. RANKING, where the data determines it: on planted block structure
   the top-3 of BOTH implementations must be entirely in-block —
   exact set-level agreement in the determined regime.
"""

from __future__ import annotations

import numpy as np
import pytest


def implicit_als_replay(R, rank, reg=0.1, alpha=1.0, iters=15, seed=45):
    """From-scratch Hu-Koren-Volinsky implicit ALS over a dense
    fixture-scale matrix (FIXTURE-SCALE by construction: O(nU*nI)
    memory — this is a verification oracle, never a serving path).
    x_u = (YtY + Yt(Cu - I)Y + reg*I)^-1 Yt Cu p_u, alternating."""
    rng = np.random.default_rng(seed)
    n_u, n_i = R.shape
    X = rng.normal(0, 0.1, (n_u, rank))
    Y = rng.normal(0, 0.1, (n_i, rank))
    P = (R > 0).astype(float)
    C = 1.0 + alpha * R
    eye = np.eye(rank)
    for _ in range(iters):
        YtY = Y.T @ Y
        for u in range(n_u):
            cu = C[u]
            X[u] = np.linalg.solve(
                YtY + (Y.T * (cu - 1.0)) @ Y + reg * eye, (Y.T * cu) @ P[u]
            )
        XtX = X.T @ X
        for i in range(n_i):
            ci = C[:, i]
            Y[i] = np.linalg.solve(
                XtX + (X.T * (ci - 1.0)) @ X + reg * eye, (X.T * ci) @ P[:, i]
            )
    return X, Y


def mean_auc(S, R):
    """Mean per-user AUC of scores separating interacted (r>0) from
    non-interacted items — the implicit-MF objective's own quality
    axis, computed by rank-sum."""
    aucs = []
    for u in range(len(S)):
        pos = S[u][R[u] > 0]
        neg = S[u][R[u] == 0]
        if not len(pos) or not len(neg):
            continue
        allv = np.concatenate([pos, neg])
        order = allv.argsort()
        ranks = np.empty(len(allv))
        ranks[order] = np.arange(1, len(allv) + 1)
        aucs.append(
            (ranks[: len(pos)].sum() - len(pos) * (len(pos) + 1) / 2)
            / (len(pos) * len(neg))
        )
    return float(np.mean(aucs))


SF = "/root/testdata/sf0.001"


def test_als_objective_quality_pinned_by_replay(spark):
    """The SERVING model (als_serving_fit — the exact model
    m_als_recommend audits and als_recommend_raw serves) must match an
    independent numpy implicit-ALS on the objective's own quality
    axis: both AUCs >= 0.70 (measured 0.7744 / 0.7805) and within
    0.05 of each other. A broken trainer (wrong confidence transform,
    ignored ratings, unconverged fit) fails the floor; a trainer
    optimizing a DIFFERENT objective drifts out of the band."""
    from listenbrainz_server_spark.plans.cf import playcounts
    from listenbrainz_server_spark.queries.ml import als_serving_fit

    pc = playcounts(spark, SF).collect()
    rows = [
        (int(r.user_id), int(r.item_id), min(int(r.playcount), 20))
        for r in pc
    ]
    users = sorted({u for u, _, _ in rows})
    items = sorted({i for _, i, _ in rows})
    uix = {u: k for k, u in enumerate(users)}
    iix = {i: k for k, i in enumerate(items)}
    R = np.zeros((len(users), len(items)))
    for u, i, r in rows:
        R[uix[u], iix[i]] = r

    model = als_serving_fit(spark, SF)
    uf = {r["id"]: r["features"] for r in model.userFactors.collect()}
    itf = {r["id"]: r["features"] for r in model.itemFactors.collect()}
    # Factor ids are the raw user/item ints (cast from the TPC-H keys).
    X_ml = np.array([uf[u] for u in users])
    Y_ml = np.array([itf[i] for i in items])
    auc_ml = mean_auc(X_ml @ Y_ml.T, R)

    X, Y = implicit_als_replay(R, rank=8)
    auc_np = mean_auc(X @ Y.T, R)

    assert auc_ml >= 0.70, f"serving model AUC too low: {auc_ml:.4f}"
    assert auc_np >= 0.70, f"replay AUC too low: {auc_np:.4f}"
    assert abs(auc_ml - auc_np) <= 0.05, (auc_ml, auc_np)


def test_als_ranking_identity_in_planted_regime(spark):
    """Where the data DETERMINES the ranking, both implementations
    must produce it exactly: 2 user groups x 2 item blocks, users
    interact only in-block, so every user's top-3 from BOTH the
    serving-parameter MLlib fit and the numpy replay must lie
    entirely in their block — set-level rank agreement in the
    determined regime (the transitive pin's exactness leg)."""
    from pyspark.ml.recommendation import ALS

    rng = np.random.default_rng(7)
    n_u, n_i = 40, 20
    R = np.zeros((n_u, n_i))
    for u in range(n_u):
        blk = 0 if u < 20 else 1
        picks = rng.choice(10, size=6, replace=False) + blk * 10
        R[u, picks] = 5.0

    X, Y = implicit_als_replay(R, rank=2, iters=10)
    S = X @ Y.T
    for u in range(n_u):
        top3 = np.lexsort((np.arange(n_i), -S[u]))[:3]
        assert all((j < 10) == (u < 20) for j in top3), (u, top3)

    train = spark.createDataFrame(
        [
            (u, i, float(R[u, i]))
            for u in range(n_u)
            for i in range(n_i)
            if R[u, i] > 0
        ],
        "user int, item int, rating float",
    )
    als = ALS(
        rank=2, maxIter=5, regParam=0.1, alpha=1.0, implicitPrefs=True,
        seed=45, coldStartStrategy="drop",
        userCol="user", itemCol="item", ratingCol="rating",
    )
    recs = als.fit(train).recommendForAllUsers(3).collect()
    assert len(recs) == n_u
    for row in recs:
        assert all(
            (r.item < 10) == (row.user < 20) for r in row.recommendations
        ), (row.user, row.recommendations)
