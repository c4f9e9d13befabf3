"""Explicit schemas for every catalog table — the reference's
fixed-schema discipline (listenbrainz_spark/schema.py: every dataset
has a hand-written StructType; nothing is inferred in production).

``validate`` checks a loaded DataFrame against the declared schema and
raises with a precise diff — schema drift in 100 TB of Parquet should
fail loudly at job start, not 40 minutes into a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

_F = T.StructField


def _s(*fields) -> T.StructType:
    return T.StructType(list(fields))


TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": _s(
        _F("r_regionkey", T.IntegerType()), _F("r_name", T.StringType())
    ),
    "nation": _s(
        _F("n_nationkey", T.IntegerType()),
        _F("n_name", T.StringType()),
        _F("n_regionkey", T.IntegerType()),
    ),
    "customer": _s(
        _F("c_custkey", T.LongType()),
        _F("c_name", T.StringType()),
        _F("c_nationkey", T.IntegerType()),
        _F("c_acctbal", T.DoubleType()),
        _F("c_mktsegment", T.StringType()),
    ),
    "supplier": _s(
        _F("s_suppkey", T.LongType()),
        _F("s_name", T.StringType()),
        _F("s_nationkey", T.IntegerType()),
        _F("s_acctbal", T.DoubleType()),
    ),
    "part": _s(
        _F("p_partkey", T.LongType()),
        _F("p_name", T.StringType()),
        _F("p_brand", T.StringType()),
        _F("p_type", T.StringType()),
        _F("p_size", T.IntegerType()),
        _F("p_retailprice", T.DoubleType()),
    ),
    "orders": _s(
        _F("o_orderkey", T.LongType()),
        _F("o_custkey", T.LongType()),
        _F("o_orderstatus", T.StringType()),
        _F("o_totalprice", T.DoubleType()),
        _F("o_orderdate", T.TimestampNTZType()),
        _F("o_orderpriority", T.StringType()),
    ),
    "lineitem": _s(
        _F("l_orderkey", T.LongType()),
        _F("l_partkey", T.LongType()),
        _F("l_suppkey", T.LongType()),
        _F("l_linenumber", T.IntegerType()),
        _F("l_quantity", T.DoubleType()),
        _F("l_extendedprice", T.DoubleType()),
        _F("l_discount", T.DoubleType()),
        _F("l_tax", T.DoubleType()),
        _F("l_returnflag", T.StringType()),
        _F("l_linestatus", T.StringType()),
        _F("l_shipdate", T.TimestampNTZType()),
    ),
    # events.ts arrives as parquet timestamp[us] without UTC adjustment
    # (the testdata) or TIMESTAMP(NANOS) (an older generation); the
    # catalog converts both to micros TimestampType (catalog._NANO_TS_COLS).
    "events": _s(
        _F("event_id", T.LongType()),
        _F("ts", T.TimestampType()),
        _F("user_id", T.LongType()),
        _F("event_type", T.StringType()),
        _F("value", T.DoubleType()),
        _F("props", T.StringType()),
    ),
    "documents": _s(
        _F("doc_id", T.LongType()),
        _F("text", T.StringType()),
        _F("lang", T.StringType()),
        _F("source", T.StringType()),
        _F("n_chars", T.LongType()),
    ),
    "embeddings": _s(
        _F("vec_id", T.LongType()),
        _F("embedding", T.ArrayType(T.FloatType())),
        _F("label", T.IntegerType()),
    ),
}


def validate(name: str, df: DataFrame) -> DataFrame:
    """Raise with a field-level diff if ``df`` doesn't match the
    declared schema for ``name`` (names + types; nullability is
    advisory in parquet and ignored)."""
    expected = TABLE_SCHEMAS.get(name)
    if expected is None:
        return df
    got = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    want = {f.name: f.dataType.simpleString() for f in expected.fields}
    if got != want:
        missing = {k: v for k, v in want.items() if k not in got}
        extra = {k: v for k, v in got.items() if k not in want}
        changed = {
            k: (want[k], got[k]) for k in want if k in got and want[k] != got[k]
        }
        raise ValueError(
            f"schema drift for table '{name}': missing={missing} "
            f"extra={extra} changed={changed}"
        )
    return df
