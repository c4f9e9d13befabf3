"""Dispatch-surface parity: every name in the reference's query_map
(listenbrainz_spark/query_map.py:45-96) resolves here and produces a
DataFrame on the smoke dataset.
"""

from __future__ import annotations

import gc
import json
import os
import sys
from collections import OrderedDict
from datetime import datetime, timedelta
from urllib.parse import urlparse

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.protocol import MEMORY_COMMAND_NAME
from pyspark.errors import AnalysisException

from listenbrainz_server_spark.catalog import cache_disabled, table_path
from listenbrainz_server_spark.messages import CHUNK_USER_STATS, iter_message_chunks
from listenbrainz_server_spark.plans import api
from listenbrainz_server_spark.plans.api import QUERY_MAP, dispatch
from listenbrainz_server_spark.schemas import TABLE_SCHEMAS
from tests.conftest import SF_CHECK, group_jobs

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402

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


def _write_events(spark, path: str, day: int, n: int = 6) -> None:
    rows = [
        (i, datetime(2024, 1, day, 12), i % 3, "play", 1.0, None)
        for i in range(n)
    ]
    spark.createDataFrame(rows, TABLE_SCHEMAS["events"]).write.mode(
        "overwrite"
    ).parquet(path)


def test_rewritten_events_get_a_fresh_anchor(spark, tmp_path, monkeypatch):
    anchors = []
    resolve = api.resolve_range
    monkeypatch.setattr(
        api, "resolve_range", lambda a, r: anchors.append(a) or resolve(a, r)
    )
    builds = _spy_builds(monkeypatch)
    path = str(tmp_path / "events.parquet")

    _write_events(spark, path, 10)
    _ranged(spark, str(tmp_path), "anchor:before-rewrite")
    _write_events(spark, path, 20)
    _ranged(spark, str(tmp_path), "anchor:after-rewrite")
    # The repeat is a prepared hit: no build, no job, no range resolved.
    assert _ranged(spark, str(tmp_path), "anchor:after-rewrite:again") == 0
    assert len(builds) == 2 and len(anchors) == 2
    # Another request over the new handle builds, on its memoised anchor.
    spark.sparkContext.setJobGroup("anchor:after-rewrite:week", "week")
    dispatch("stats.user.entity", spark, str(tmp_path), stats_range="week")
    assert group_jobs(spark, "anchor:after-rewrite:week") == 0
    assert len(builds) == 3 and len(anchors) == 3
    assert anchors[1] - anchors[0] == timedelta(days=10)
    assert anchors[2] == anchors[1]


def test_bare_scan_computes_the_anchor_per_request(spark):
    with cache_disabled():
        assert _ranged(spark, SF, "anchor:bare:0") > 0
        assert _ranged(spark, SF, "anchor:bare:1") > 0


# -- prepared request plans ----------------------------------------------


def _spy_builds(monkeypatch) -> list[str]:
    """Give ``dispatch`` an empty prepared map; the returned list grows
    by one for every request it builds instead of serving from it."""
    monkeypatch.setattr(api, "_PREPARED", OrderedDict())
    builds: list[str] = []
    recorded = api.recorded_loads

    def spy():
        builds.append("build")
        return recorded()

    monkeypatch.setattr(api, "recorded_loads", spy)
    return builds


def _served(spark, df, group: str) -> tuple[list[str], dict]:
    """``df``'s messages as a sorted multiset of rows, and the jobs,
    stages and tasks that draining it ran."""
    spark.sparkContext.setJobGroup(group, group)
    rows = sorted(
        json.dumps(row, sort_keys=True, default=str)
        for m in iter_message_chunks(df, CHUNK_USER_STATS, "x")
        for row in m["data"]
    )
    rec = bench.record(spark, group)
    return rows, {k: rec[k] for k in ("jobs", "stages", "tasks")}


def _leaves(df) -> list:
    it = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
    leaves = []
    while it.hasNext():
        leaves.append(it.next())
    return leaves


_AQE_EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
_AQE_EMPTY_RELATION = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


@pytest.mark.parametrize("name", sorted(api.PREPARED))
def test_a_prepared_hit_serves_what_a_fresh_build_serves(spark, monkeypatch, name):
    builds = _spy_builds(monkeypatch)
    _served(spark, dispatch(name, spark, SF_CHECK), f"prepared:first:{name}")
    # The handler's warm second build runs no Spark job: nothing in
    # dispatch is skipped by a hit but planning.
    group = f"prepared:build:{name}"
    spark.sparkContext.setJobGroup(group, group)
    fresh = api.get_query_handler(name)(spark, SF_CHECK)
    hit = dispatch(name, spark, SF_CHECK)
    assert group_jobs(spark, group) == 0
    assert len(builds) == 1
    # AQE's empty-relation rule stops a stage beside an empty one only if
    # that one finishes first: 15 of 30 fresh drains of
    # stats.user.listening_activity at sf0.01 (empty) ran 4 jobs, 15 ran
    # 3. Without the rule every drain ran 7, so counts can be compared.
    spark.conf.set(_AQE_EXCLUDED_RULES, _AQE_EMPTY_RELATION)
    try:
        assert _served(spark, hit, f"prepared:hit:{name}") == _served(
            spark, fresh, f"prepared:fresh:{name}"
        )
    finally:
        spark.conf.unset(_AQE_EXCLUDED_RULES)
    # Every leaf is a local relation or a scan of a table the build
    # loaded, so the handle check sees every rewrite the plan reads.
    (entry,) = api._PREPARED.values()
    loaded = {os.path.abspath(table_path(d, t)) for d, t in entry.loads}
    for leaf in _leaves(hit):
        kind = leaf.getClass().getSimpleName()
        assert kind in ("LogicalRelation", "LocalRelation", "OneRowRelation", "Range")
        if kind == "LogicalRelation":
            roots = leaf.relation().location().rootPaths()
            assert {urlparse(roots.apply(i).toString()).path
                    for i in range(roots.size())} <= loaded


def _py4j_commands(monkeypatch, fn) -> int:
    """Py4J commands ``fn()`` sends, not counting the releases of
    collected JVM references, which land wherever a GC runs."""
    gc.collect()
    commands = []
    send = ClientServerConnection.send_command
    monkeypatch.setattr(
        ClientServerConnection, "send_command",
        lambda self, command, *a, **k: commands.append(command)
        or send(self, command, *a, **k),
    )
    try:
        fn()
    finally:
        monkeypatch.setattr(ClientServerConnection, "send_command", send)
    return sum(not c.startswith(MEMORY_COMMAND_NAME) for c in commands)


def test_a_warm_hit_makes_few_py4j_commands(spark, monkeypatch):
    builds = _spy_builds(monkeypatch)
    for _ in range(2):
        dispatch("stats.user.entity", spark, SF, stats_range="week")
    hit = _py4j_commands(
        monkeypatch,
        lambda: dispatch("stats.user.entity", spark, SF, stats_range="week"),
    )
    assert len(builds) == 1
    assert hit <= 10


def test_a_miss_costs_four_py4j_commands_beyond_the_build(spark, monkeypatch):
    """Traffic that never repeats a key pays the build and only this."""
    builds = _spy_builds(monkeypatch)
    handler = api.get_query_handler("stats.user.entity")
    # Looks up Dataset.ofRows, once per application.
    dispatch("stats.user.entity", spark, SF, stats_range="month")
    handler(spark, SF, stats_range="week")  # memoises the anchor
    build = _py4j_commands(
        monkeypatch, lambda: handler(spark, SF, stats_range="week")
    )
    miss = _py4j_commands(
        monkeypatch,
        lambda: dispatch("stats.user.entity", spark, SF, stats_range="week"),
    )
    assert len(builds) == 2
    assert miss - build <= 4


def test_a_param_of_another_type_gets_its_own_build(spark, monkeypatch):
    """k=1, k=1.0 and k=True are equal keys to a dict, but not to the
    handler: k=True fails analysis, as ``handler(**params)`` does."""
    builds = _spy_builds(monkeypatch)
    dispatch("stats.entity.listeners", spark, SF, k=1)
    dispatch("stats.entity.listeners", spark, SF, k=1.0)
    with pytest.raises(AnalysisException):
        dispatch("stats.entity.listeners", spark, SF, k=True)
    dispatch("stats.entity.listeners", spark, SF, k=1)
    assert len(builds) == 3 and len(api._PREPARED) == 2


def test_rewritten_events_are_read_fresh(spark, tmp_path, monkeypatch):
    builds = _spy_builds(monkeypatch)
    path = str(tmp_path / "events.parquet")

    def listens() -> int:
        df = dispatch("stats.sitewide.entity", spark, str(tmp_path))
        return sum(r["listen_count"] for r in df.collect())

    _write_events(spark, path, 10, n=6)
    assert listens() == 6 and listens() == 6
    assert len(builds) == 1
    _write_events(spark, path, 10, n=9)
    assert listens() == 9
    assert len(builds) == 2


def test_nothing_is_prepared_under_cache_disabled(spark, monkeypatch):
    builds = _spy_builds(monkeypatch)
    with cache_disabled():
        for _ in range(2):
            dispatch("popularity.popularity", spark, SF)
    assert builds == [] and not api._PREPARED


def test_a_session_time_zone_change_forces_a_rebuild(spark, monkeypatch):
    builds = _spy_builds(monkeypatch)
    for _ in range(2):
        dispatch("stats.sitewide.era_activity", spark, SF)
    assert len(builds) == 1
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        dispatch("stats.sitewide.era_activity", spark, SF)
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert len(builds) == 2
    dispatch("stats.sitewide.era_activity", spark, SF)
    assert len(builds) == 2


def test_import_names_are_never_prepared(spark, monkeypatch):
    imports = [n for n in QUERY_MAP if n.startswith("import.")]
    assert imports and not api.PREPARED & set(imports)
    builds = _spy_builds(monkeypatch)
    for _ in range(2):
        dispatch("import.dump.sample", spark, SF)
    assert builds == [] and not api._PREPARED


def test_the_prepared_map_is_bounded_and_skips_unhashable_params(spark, monkeypatch):
    builds = _spy_builds(monkeypatch)
    monkeypatch.setattr(api, "PREPARED_PLANS", 2)
    for k in (1, 2, 3):
        dispatch("stats.entity.listeners", spark, SF, k=k)
    assert len(api._PREPARED) == 2 and len(builds) == 3
    dispatch("stats.entity.listeners", spark, SF, k=3)  # kept
    dispatch("stats.entity.listeners", spark, SF, k=1)  # evicted first
    assert len(builds) == 4
    # A list param has no key; such a request builds and keeps nothing.
    df = dispatch("similarity.recording", spark, SF, tiebreak=["event_id"])
    assert df.columns and len(api._PREPARED) == 2
