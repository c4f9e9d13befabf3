"""Read/write-path tests: union+tombstones composition, glob scans,
partitioned/append/swap/upsert sinks, message chunking."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from listenbrainz_server_spark.messages import iter_message_chunks
from listenbrainz_server_spark.sources.readers import (
    apply_tombstones,
    glob_scan,
    union_base_incremental,
)
from listenbrainz_server_spark.sources.sinks import (
    append_coalesced,
    atomic_swap_write,
    partitioned_overwrite,
    registry_upsert,
)

SCHEMA = "user_id int, item string, created timestamp"


def _df(spark, rows):
    return spark.createDataFrame(
        [(u, i, datetime.fromisoformat(c)) for u, i, c in rows], SCHEMA
    )


def test_union_and_tombstones(spark):
    base = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-01")])
    inc = _df(spark, [(1, "c", "2024-01-05")])
    df = union_base_incremental(base, inc, base.schema, spark)
    assert df.count() == 3

    deleted = _df(spark, [(1, "a", "2024-01-01")]).select("user_id", "item")
    out = apply_tombstones(df, deleted, ["user_id", "item"])
    got = {(r.user_id, r.item) for r in out.collect()}
    assert got == {(1, "c"), (2, "b")}  # (1,a) tombstoned


def test_union_with_missing_side(spark):
    inc = _df(spark, [(1, "c", "2024-01-05")])
    assert union_base_incremental(None, inc, inc.schema, spark).count() == 1
    assert union_base_incremental(None, None, inc.schema, spark).count() == 0


def test_glob_scan_selects_matching_files(spark, tmp_path):
    # pathGlobFilter matches leaf FILE names (the MLHD chunk layout is
    # one parquet file per user, mlhd/download.py:45-52).
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "chunks"
    d.mkdir()
    pq.write_table(pa.table({"user_id": [1]}), d / "c0.parquet")
    pq.write_table(pa.table({"user_id": [2]}), d / "d0.parquet")
    out = glob_scan(spark, str(d), "c*.parquet")
    assert [r.user_id for r in out.collect()] == [1]


def test_partitioned_overwrite_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "part")
    df1 = spark.createDataFrame([(1, 2024, 1), (2, 2024, 2)], "v int, year int, month int")
    partitioned_overwrite(df1, path, ["year", "month"])
    # Overwrite only month=2; month=1 must survive (dynamic mode).
    df2 = spark.createDataFrame([(9, 2024, 2)], "v int, year int, month int")
    partitioned_overwrite(df2, path, ["year", "month"])
    got = {(r.month, r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, 1), (2, 9)}


def test_append_coalesced_single_file(spark, tmp_path):
    path = str(tmp_path / "append")
    df = spark.createDataFrame([(i,) for i in range(100)], "v int").repartition(8)
    append_coalesced(df, path)
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    assert len(files) == 1
    append_coalesced(df, path)
    assert spark.read.parquet(path).count() == 200


def test_atomic_swap_write_replaces(spark, tmp_path):
    path = str(tmp_path / "swap")
    atomic_swap_write(spark.createDataFrame([(1,)], "v int"), path)
    atomic_swap_write(spark.createDataFrame([(2,)], "v int"), path)
    assert [r.v for r in spark.read.parquet(path).collect()] == [2]
    assert not os.path.exists(path + "__tmp")


def test_atomic_swap_write_preserves_partition_layout(spark, tmp_path):
    """partition_by must survive the swap: a refit that replaces a
    bucket-partitioned index (v_ivfpq_delta_index) would otherwise
    silently flatten the directory layout downstream pruning and the
    append path rely on (r8 review finding #5)."""
    path = str(tmp_path / "pidx")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "v int, k string")
    atomic_swap_write(df1, path, partition_by=["k"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("k=")
    ) == ["k=a", "k=b"]
    # Replacement keeps the layout and the new content.
    df2 = spark.createDataFrame([(3, "a"), (4, "c")], "v int, k string")
    atomic_swap_write(df2, path, partition_by=["k"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("k=")
    ) == ["k=a", "k=c"]
    got = {(r.v, r.k) for r in spark.read.parquet(path).collect()}
    assert got == {(3, "a"), (4, "c")}
    assert not os.path.exists(path + "__tmp")


def test_registry_upsert(spark, tmp_path):
    path = str(tmp_path / "registry")
    r1 = spark.createDataFrame([("dump-1", 10), ("dump-2", 20)], "name string, rows int")
    registry_upsert(spark, path, r1, ["name"])
    r2 = spark.createDataFrame([("dump-2", 99), ("dump-3", 30)], "name string, rows int")
    out = registry_upsert(spark, path, r2, ["name"])
    got = {(r.name, r.rows) for r in out.collect()}
    assert got == {("dump-1", 10), ("dump-2", 99), ("dump-3", 30)}


def test_message_chunking(spark):
    df = spark.createDataFrame([(i,) for i in range(7)], "v int")
    msgs = list(iter_message_chunks(df.orderBy("v"), chunk_size=3, message_type="t"))
    assert [len(m["data"]) for m in msgs] == [3, 3, 1]
    assert all(m["type"] == "t" for m in msgs)
    assert msgs[0]["data"][0] == {"v": 0}


def test_message_float_rounding_contract(spark):
    """VERDICT r10 #6: floats are canonicalized to MESSAGE_FLOAT_DP
    decimals at the message boundary — including inside nested
    structs/arrays — so a float-emitting handler's stream is stable
    under plan/partial-sum-order changes; pre-rounded values are
    untouched (identity)."""
    df = spark.createDataFrame(
        [(1, 0.12345678901, [1.00000049, 2.0], {"s": 0.9999996})],
        "k int, x double, arr array<double>, st struct<s: double>",
    )
    msg = next(iter_message_chunks(df, chunk_size=10, message_type="t"))
    row = msg["data"][0]
    assert row["x"] == 0.123457
    assert row["arr"] == [1.0, 2.0]
    assert row["st"]["s"] == 1.0
    pre = spark.createDataFrame([(0.33617,)], "y double")
    assert next(iter_message_chunks(pre, 10, "t"))["data"][0]["y"] == 0.33617


def test_mlhd_csv_ingest(spark, tmp_path):
    """S7: tab-separated per-user files -> one schema'd DataFrame with
    user_id from the file name, round-tripped through Parquet."""
    from listenbrainz_server_spark.sources.readers import mlhd_csv_ingest

    d = tmp_path / "mlhd"
    d.mkdir()
    (d / "userA.txt").write_text("100\tmbid1,mbid2\trel1\trec1\n200\tmbid3\trel2\trec2\n")
    (d / "userB.txt").write_text("300\tmbid4\trel3\trec3\n")
    out = mlhd_csv_ingest(spark, str(d / "*.txt"), out_path=str(tmp_path / "pq"))
    rows = out.collect()
    assert len(rows) == 3
    assert {r.user_id for r in rows} == {"userA", "userB"}
    by_user = {r.recording_mbid: r.user_id for r in rows}
    assert by_user == {"rec1": "userA", "rec2": "userA", "rec3": "userB"}
    assert out.schema["listened_at"].dataType.typeName() == "long"


def test_jdbc_round_trip_embedded_derby(spark, tmp_path):
    """S3: live JDBC round-trip (VERDICT r3 #6). Apache Derby's embedded
    driver ships in Spark's own jars directory, so the full JDBC
    source/sink path — dialect DDL, write, pushdown `query` option —
    runs in-process with no external database. This is the same Spark
    plumbing a Postgres URL exercises (postgres/utils.py:8-17); only
    the driver class and URL differ."""
    from listenbrainz_server_spark.sources.readers import jdbc_query

    url = f"jdbc:derby:{tmp_path}/jdbcdb;create=true"
    props = {"driver": "org.apache.derby.iapi.jdbc.AutoloadedDriver"}
    dim = spark.createDataFrame(
        [(0, "AFRICA"), (1, "AMERICA"), (2, "ASIA")],
        "r_regionkey int, r_name string",
    )
    writer = dim.write.format("jdbc").option("url", url).option(
        "dbtable", "region_dim"
    )
    for k, v in props.items():
        writer = writer.option(k, v)
    writer.mode("overwrite").save()

    # Derby folds unquoted identifiers to UPPER; Spark wrote the
    # columns quoted-lowercase, so the pushdown query quotes them too.
    out = jdbc_query(
        spark,
        url,
        'SELECT "r_regionkey", "r_name" FROM region_dim'
        ' WHERE "r_regionkey" < 2',
        properties=props,
    )
    got = {(r.r_regionkey, r.r_name) for r in out.collect()}
    assert got == {(0, "AFRICA"), (1, "AMERICA")}


def test_dump_archive_import_full_then_incremental(spark, tmp_path):
    """S6 dump-archive transport end to end (listens/dump.py:33-78 +
    hdfs/upload.py:23-54): a tar.gz of parquet members imports as the
    full dataset (atomic swap), a second incremental archive appends,
    the metadata registry upserts one row per (dump_id, type), and
    re-importing the same full dump is idempotent in the registry."""
    import tarfile

    from listenbrainz_server_spark.sources.dump import import_dump

    def make_archive(name: str, frames: dict[str, list[tuple]]) -> str:
        src = tmp_path / f"src_{name}"
        src.mkdir()
        for member, rows in frames.items():
            spark.createDataFrame(
                rows, "user_id bigint, listened_at bigint"
            ).coalesce(1).write.mode("overwrite").parquet(str(src / member))
        path = tmp_path / f"{name}.tar.gz"
        with tarfile.open(path, "w:gz") as tar:
            for member in frames:
                for f in (src / member).glob("*.parquet"):
                    tar.add(f, arcname=f"{member}/{f.name}")
                # non-parquet members must be skipped by the filter
            (src / "README").write_text("not data")
            tar.add(src / "README", arcname="README")
        return str(path)

    full = make_archive(
        "full", {"p1": [(1, 100), (2, 200)], "p2": [(3, 300)]}
    )
    inc = make_archive("inc", {"p1": [(4, 400)]})
    listens_path = str(tmp_path / "listens")
    meta_path = str(tmp_path / "meta")
    work = str(tmp_path / "work")

    rep = import_dump(
        spark, full, work, listens_path, meta_path, dump_id=7, dump_type="full"
    ).collect()[0]
    assert (rep.n_members, rep.n_rows) == (2, 3)
    assert spark.read.parquet(listens_path).count() == 3

    rep2 = import_dump(
        spark, inc, work, listens_path, meta_path, dump_id=8,
        dump_type="incremental",
    ).collect()[0]
    assert rep2.n_rows == 1
    assert spark.read.parquet(listens_path).count() == 4

    # Registry: one row per (dump_id, type); re-import idempotent.
    import_dump(
        spark, full, work, listens_path, meta_path, dump_id=7, dump_type="full"
    )
    meta = spark.read.parquet(meta_path)
    assert {(r.dump_type, r.dump_id) for r in meta.collect()} == {
        ("full", 7), ("incremental", 8)}
