"""Model registry round-trip + ALS CV lifecycle tests
(train_models.py:71-252 / recommend.py:36-60,285-305 parity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from listenbrainz_server_spark.operators.model_registry import (
    latest_model_meta,
    load_latest_als_model,
    recommend_for_user_subset,
    save_model_with_metadata,
)


def _tiny_model(spark, seed=1):
    from pyspark.ml.recommendation import ALS

    ratings = spark.createDataFrame(
        [(u, i, float((u * 7 + i * 3) % 5 + 1)) for u in range(6) for i in range(8)],
        "user int, item int, rating float",
    )
    als = ALS(
        rank=2,
        maxIter=2,
        implicitPrefs=True,
        seed=seed,
        coldStartStrategy="drop",
        userCol="user",
        itemCol="item",
        ratingCol="rating",
    )
    return als.fit(ratings)


def test_save_load_latest_and_subset_recommend(spark, tmp_path):
    registry = str(tmp_path / "registry")
    m1 = _tiny_model(spark, seed=1)
    first = save_model_with_metadata(
        spark, registry, m1, params={"rank": 2}, metrics={"rmse": 1.0}
    )
    m2 = _tiny_model(spark, seed=2)
    second = save_model_with_metadata(
        spark, registry, m2, params={"rank": 2}, metrics={"rmse": 0.9}
    )
    assert first != second
    meta = latest_model_meta(spark, registry)
    assert meta.model_id == second  # O5 latest-model lookup

    loaded, meta2 = load_latest_als_model(spark, registry)
    assert meta2.model_id == second
    users = spark.createDataFrame([(0,), (3,)], "user int")
    recs = recommend_for_user_subset(loaded, users, limit=2)
    got = recs.collect()
    assert {r.user_id for r in got} == {0, 3}  # subset only
    assert all(len([x for x in got if x.user_id == u]) == 2 for u in (0, 3))
    assert recs.columns == ["user_id", "item_id", "score"]


def test_als_cv_selects_params_from_grid(spark, tmp_path):
    from listenbrainz_server_spark.queries.ml import als_cv_lifecycle

    out = als_cv_lifecycle(
        spark,
        "/root/testdata/sf0.001",
        str(tmp_path / "registry"),
        max_iter=2,
    ).collect()
    assert len(out) == 2  # one row per grid candidate
    best = [r for r in out if r.is_best]
    assert len(best) == 1
    assert best[0].rank in (4, 8)
    assert best[0].model_id and best[0].test_rmse is not None
    # The registered best model is loadable and serves recommendations.
    loaded, meta = load_latest_als_model(spark, str(tmp_path / "registry"))
    assert meta.model_id == best[0].model_id


def test_als_max_iter_tuple_is_grid_axis(spark, tmp_path):
    """A tuple max_iter must become a REAL grid axis whose value lands
    in the output rows, as the reference's ``iterations`` is
    (train_models.py:129-193); fitted on a deliberately tiny grid."""
    from listenbrainz_server_spark.queries.ml import als_cv_lifecycle

    out = als_cv_lifecycle(
        spark,
        "/root/testdata/sf0.001",
        str(tmp_path / "registry"),
        max_iter=(1, 2),
    ).collect()
    assert len(out) == 4  # ranks (4, 8) x max_iter (1, 2)
    assert sorted((r.rank, r.max_iter) for r in out) == [
        (4, 1), (4, 2), (8, 1), (8, 2)]
    best = [r for r in out if r.is_best]
    assert len(best) == 1 and best[0].model_id
