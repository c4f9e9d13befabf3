"""Model persistence + metadata registry (SURVEY.md O5 / §2.10 M6).

Reference flow (recommendations/recording/train_models.py:235-252,
recommend.py:36-60): save the fitted model under a per-model path,
append a metadata row (model_id, created, params, metrics) to a
registry table, and serve by "most recent model" lookup.

Spark-first shape: the registry is a tiny Parquet table written via
the registry-upsert sink; latest-model lookup is an ORDER BY created
DESC LIMIT 1 — aggregate cardinality, safe to collect.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Row, SparkSession


def model_path(registry_dir: str, model_id: str) -> str:
    return os.path.join(registry_dir, "models", model_id)


def _metadata_path(registry_dir: str) -> str:
    return os.path.join(registry_dir, "model_metadata")


def save_model_with_metadata(
    spark: SparkSession,
    registry_dir: str,
    model,
    params: dict,
    metrics: dict,
) -> str:
    """Persist a fitted MLWritable model + append its metadata row
    (train_models.py:235-252 analog); returns the new model_id."""
    from listenbrainz_server_spark.sources.sinks import registry_upsert

    model_id = f"als_{int(time.time() * 1000)}"
    model.write().overwrite().save(model_path(registry_dir, model_id))
    row = Row(
        model_id=model_id,
        model_created=float(time.time()),
        params_json=json.dumps(params, sort_keys=True),
        metrics_json=json.dumps(metrics, sort_keys=True),
    )
    meta_df = spark.createDataFrame([row])
    registry_upsert(spark, _metadata_path(registry_dir), meta_df, ["model_id"])
    return model_id


def latest_model_meta(spark: SparkSession, registry_dir: str) -> Row:
    """Most-recent model metadata (recommend.py:36-49; SURVEY O5).
    ORDER BY created DESC LIMIT 1 over the tiny registry table."""
    meta = spark.read.parquet(_metadata_path(registry_dir))
    return meta.orderBy(meta.model_created.desc(), meta.model_id.desc()).limit(1).collect()[0]


def load_latest_als_model(spark: SparkSession, registry_dir: str):
    """Latest-model lookup + load (recommend.py:52-60)."""
    from pyspark.ml.recommendation import ALSModel

    meta = latest_model_meta(spark, registry_dir)
    return ALSModel.load(model_path(registry_dir, meta.model_id)), meta


def recommend_for_user_subset(model, users: DataFrame, limit: int) -> DataFrame:
    """recommendForUserSubset + explode to flat rows
    (recommend.py:285-305)."""
    from pyspark.sql import functions as F

    raw = model.recommendForUserSubset(users, limit)
    user_col = raw.columns[0]
    exploded = raw.select(
        F.col(user_col), F.explode("recommendations").alias("rec")
    ).select(user_col, "rec.*")
    item_col, rating_col = exploded.columns[1], exploded.columns[2]
    return exploded.select(
        F.col(user_col).cast("bigint").alias("user_id"),
        F.col(item_col).cast("bigint").alias("item_id"),
        F.col(rating_col).cast("double").alias("score"),
    )
