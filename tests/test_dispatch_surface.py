"""Dispatch-surface parity: every name in the reference's query_map
(listenbrainz_spark/query_map.py:45-96) resolves here and produces a
DataFrame on the smoke dataset.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from listenbrainz_server_spark.catalog import cache_disabled
from listenbrainz_server_spark.plans import api
from listenbrainz_server_spark.plans.api import QUERY_MAP, dispatch
from listenbrainz_server_spark.schemas import TABLE_SCHEMAS
from tests.conftest import group_jobs

SF = "/root/testdata/sf0.001"

# The reference's full dispatch table (query_map.py:45-96).
REFERENCE_NAMES = [
    "echo.echo",
    "stats.entity.listeners",
    "stats.user.entity",
    "stats.user.listening_activity",
    "stats.user.genre_activity",
    "stats.user.daily_activity",
    "stats.user.era_activity",
    "stats.user.artist_evolution_activity",
    "stats.sitewide.entity",
    "stats.sitewide.listening_activity",
    "stats.sitewide.era_activity",
    "stats.sitewide.artist_evolution_activity",
    "import.dump.full",
    "import.dump.mlhd",
    "import.dump.incremental",
    "import.dump.sample",
    "cf.missing_mb_data",
    "cf.recommendations.recording.create_dataframes",
    "cf.recommendations.recording.train_model",
    "cf.recommendations.recording.recommendations",
    "cf.recommendations.recording.discovery",
    "similarity.similar_users",
    "similarity.recording",
    "similarity.artist",
    "popularity.popularity",
    "year_in_music.new_releases_of_top_artists",
    "year_in_music.most_listened_year",
    "year_in_music.artist_evolution_activity",
    "year_in_music.day_of_week",
    "year_in_music.similar_users",
    "year_in_music.top_stats",
    "year_in_music.listens_per_day",
    "year_in_music.listen_count",
    "year_in_music.new_artists_discovered_count",
    "year_in_music.listening_time",
    "year_in_music.top_genres",
    "year_in_music.genre_activity",
    "year_in_music.top_missed_recordings",
    "year_in_music.top_discoveries",
    "import.pg_metadata_tables",
    "releases.fresh",
    "troi.playlists",
    "tags.default",
    "import.deleted_listens",
    "import.compact_listens",
]

# Iterative/expensive handlers smoke-checked separately or covered by
# their own registry checks — excluded from the fast all-names loop.
SLOW = {
    "cf.recommendations.recording.train_model",
    "cf.recommendations.recording.recommendations",
}


def test_every_reference_name_is_wired():
    missing = [n for n in REFERENCE_NAMES if n not in QUERY_MAP]
    assert not missing, f"unwired reference names: {missing}"


def test_no_phantom_names():
    phantom = [n for n in QUERY_MAP if n not in REFERENCE_NAMES]
    assert not phantom, f"names not in the reference dispatch table: {phantom}"


@pytest.mark.parametrize("name", [n for n in REFERENCE_NAMES if n not in SLOW])
def test_dispatch_produces_dataframe(spark, name):
    df = dispatch(name, spark, SF)
    assert df.columns  # non-degenerate schema
    assert df.count() >= 0


def test_dispatch_param_plumbing(spark):
    # Range + entity params reach the provider (month vs all_time differ).
    month = dispatch("stats.user.entity", spark, SF, stats_range="this_month")
    all_time = dispatch("stats.user.entity", spark, SF, stats_range="all_time")
    assert month.columns == all_time.columns
    k1 = dispatch("stats.entity.listeners", spark, SF, k=1)
    assert k1.where("rank > 1").count() == 0


@pytest.mark.parametrize(
    "name, params, error",
    [
        ("year_in_music.top_stats", {"year": 2021}, TypeError),
        ("stats.user.genre_activity", {"stats_rang": "week"}, TypeError),
        ("stats.user.era_activity", {"stats_range": "week"}, ValueError),
        ("import.dump.sample", {"fracton": 0.5}, TypeError),
    ],
)
def test_dispatch_rejects_params_the_provider_does_not_read(
    spark, name, params, error
):
    # The reference calls handler(**params) (request_consumer.py:74):
    # a mistyped or unsupported param fails the request instead of
    # silently answering a different question.
    with pytest.raises(error):
        dispatch(name, spark, SF, **params)


def test_import_dump_archive_param_routes_s6_transport(spark, tmp_path):
    """import.dump.full/incremental with an ``archive`` param route
    through the S6 tar transport (import_*_dump_to_hdfs parity) and
    return the reference handler's import report shape."""
    import tarfile

    from listenbrainz_server_spark.plans.api import dispatch

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 10), (2, 20)], "user_id bigint, listened_at bigint"
    ).coalesce(1).write.parquet(str(src / "p1"))
    archive = tmp_path / "dump.tar.gz"
    with tarfile.open(archive, "w:gz") as tar:
        for f in (src / "p1").glob("*.parquet"):
            tar.add(f, arcname=f"p1/{f.name}")

    out = str(tmp_path / "listens")
    meta = str(tmp_path / "meta")
    rep = dispatch(
        "import.dump.full", spark, "/root/testdata/sf0.001",
        archive=str(archive), out_path=out, metadata_path=meta, dump_id=3,
    ).collect()[0]
    assert (rep.dump_type, rep.n_rows) == ("full", 2)
    rep2 = dispatch(
        "import.dump.incremental", spark, "/root/testdata/sf0.001",
        archive=str(archive), out_path=out, metadata_path=meta, dump_id=4,
    ).collect()[0]
    assert (rep2.dump_type, rep2.n_rows) == ("incremental", 2)
    assert spark.read.parquet(out).count() == 4


# -- the range anchor: one max(ts) per events handle ---------------------


def _ranged(spark, sf_dir: str, group: str) -> int:
    """Jobs a ranged dispatch runs before its result is drained."""
    spark.sparkContext.setJobGroup(group, group)
    dispatch("stats.user.entity", spark, sf_dir, stats_range="month")
    return group_jobs(spark, group)


def test_ranged_dispatch_reuses_the_cached_handles_anchor(spark):
    _ranged(spark, SF, "anchor:first")
    assert _ranged(spark, SF, "anchor:second") == 0


def test_rewritten_events_get_a_fresh_anchor(spark, tmp_path, monkeypatch):
    anchors = []
    resolve = api.resolve_range
    monkeypatch.setattr(
        api, "resolve_range", lambda a, r: anchors.append(a) or resolve(a, r)
    )
    path = str(tmp_path / "events.parquet")

    def write_events(day: int) -> None:
        rows = [
            (i, datetime(2024, 1, day, 12), i % 3, "play", 1.0, None)
            for i in range(6)
        ]
        spark.createDataFrame(rows, TABLE_SCHEMAS["events"]).write.mode(
            "overwrite"
        ).parquet(path)

    write_events(10)
    _ranged(spark, str(tmp_path), "anchor:before-rewrite")
    write_events(20)
    _ranged(spark, str(tmp_path), "anchor:after-rewrite")
    # The new handle's anchor is memoised in turn.
    assert _ranged(spark, str(tmp_path), "anchor:after-rewrite:again") == 0
    assert len(anchors) == 3
    assert anchors[1] - anchors[0] == timedelta(days=10)
    assert anchors[2] == anchors[1]


def test_bare_scan_computes_the_anchor_per_request(spark):
    with cache_disabled():
        assert _ranged(spark, SF, "anchor:bare:0") > 0
        assert _ranged(spark, SF, "anchor:bare:1") > 0
