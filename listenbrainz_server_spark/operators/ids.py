"""Surrogate-id assignment (M5, SURVEY.md §2.10).

The reference assigns dense int ids with ``rank().over(Window.orderBy(
mbid))`` — a single-partition window (create_dataframes.py:235-264),
flagged in SURVEY.md §4.3 as the known 100 TB hazard: every row funnels
through one task.

``surrogate_ids_scalable`` gives the same dense, collision-free ids
without the single-partition window: zipWithIndex over the sorted
distinct keys, so ids follow the key's sort order, which is what the
reference orders by anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType


def surrogate_ids_scalable(df: DataFrame, key_col: str, id_name: str) -> DataFrame:
    """Dense ids via a global sort + zipWithIndex — no single-partition
    funnel; ids are 1-based in global key order."""
    spark = df.sparkSession
    distinct = df.select(key_col).distinct().sort(key_col)
    schema = StructType(distinct.schema.fields + [StructField(id_name, LongType())])
    rdd = distinct.rdd.zipWithIndex().map(lambda kv: (*kv[0], kv[1] + 1))
    return spark.createDataFrame(rdd, schema)
