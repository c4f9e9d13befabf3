"""Handler dispatch: name → provider, the full query_map analog
(listenbrainz_spark/query_map.py:45-96 + request_consumer dispatch
request_consumer.py:105-114, minus the RabbitMQ transport — our
engine returns DataFrames; callers chunk results via messages.py).

Every non-transport name in the reference's dispatch table resolves
here to a real computation. Parameterized stats handlers accept the
reference's request params (entity column, stats range name via
plans/ranges.py); names whose full pipeline lives in the query
registry dispatch straight to the registered provider.

Transport-only steps of the import.* family (tar download, zstd
extraction, HDFS upload) stay out of scope; their Spark compute —
CSV→Parquet transform, tombstone application, partitioned compaction,
base∪incremental union — is what the import.* entries run.

**Prepared request plans.** ``dispatch`` keeps the analyzed plan of a
request's first build and serves repeats from it:

- *Key:* (applicationId, handler object, sf_dir, sorted params with
  each value's type, session time zone), in a map of at most
  ``PREPARED_PLANS`` entries, least recently used evicted first.
- *Validity:* a repeat is served from the plan only while the catalog
  cache is on and every ``load_table`` handle the first build used is
  still the memoized handle (``catalog.recorded_loads``). A rewritten
  table gets a new handle, so its requests build afresh, as every
  request does inside ``catalog.cache_disabled()``.
- *Excluded names* (``_UNPREPARED``): the import.* family, which writes
  files in dispatch, and the handlers whose warm second build still
  runs Spark jobs — cf.recommendations.recording.create_dataframes,
  .train_model and .recommendations, similarity.similar_users and
  year_in_music.similar_users.

A hit builds a new DataFrame over the plan (``Dataset.ofRows``), so
optimization, physical planning and AQE still run per request and no
stage output is reused; only the handler's Python and the analysis
(tens to hundreds of Py4J round trips) are skipped. Over the 9
request kinds of the request benchmark's small-stats mix, alternated in
one session on a 4-core host, a hit dispatched in 0.9 ms against 42 ms
for a build, and execution took the same time after either.

The layer pays only on traffic that repeats a (name, params) pair
between rewrites of the tables it reads. The small-stats mix is such
traffic: nine fixed requests, warmed before timing, so every timed
request is a hit. The reference's stats requests are not: they are
sent on a schedule, one per (entity, range), between the daily imports
that append listens, so a key rarely meets an unchanged table twice
and nearly every request misses. A miss pays the build plus
four Py4J round trips (two time-zone reads and the analyzed plan).
With every request of the small-stats mix a miss (the bound set to 0,
so each plan is kept and evicted at once), 21 alternated runs of the
request benchmark on a 4-core host gave a median latency of 0.227 s,
against 0.232 s before the layer and 0.223 s with it switched off.
"""

from __future__ import annotations

import os
import tempfile
import weakref
from collections import OrderedDict
from collections.abc import Callable
from datetime import datetime
from typing import NamedTuple

from py4j.java_gateway import JavaMember, JavaObject
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from listenbrainz_server_spark.catalog import (
    app_id,
    cache_enabled,
    load_table,
    recorded_loads,
)
from listenbrainz_server_spark.plans import handlers
from listenbrainz_server_spark.plans.incremental_stats import (
    entity_listener_stat,
    final_entity_listener_stats,
    final_sitewide_entity_stats,
    final_user_entity_stats,
    sitewide_entity_stat,
    user_entity_stat,
)
from listenbrainz_server_spark.plans.ranges import resolve_range
from listenbrainz_server_spark.session import local_frame, scratch_root


def _registered(name: str) -> Callable:
    """Dispatch to a registered query provider (lazy import: the
    registry imports operator modules, never this one). Registered
    providers take no request params, so any param raises
    ``TypeError``, as the reference's ``handler(**params)`` call does
    (request_consumer.py:74)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from listenbrainz_server_spark.queries import load_all

        return load_all()[name].fn(spark, sf_dir)

    run.__name__ = f"registered_{name}"
    return run


def _events_handler(fn: Callable, **defaults):
    def run(spark: SparkSession, sf_dir: str, **params) -> DataFrame:
        events = load_table(spark, sf_dir, "events")
        return fn(events, **{**defaults, **params})

    return run


def _echo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """echo.echo health check (listenbrainz_spark/echo/echo.py:1-8)."""
    return local_frame(spark, [("echo", sf_dir)], "message string, data_dir string")


# -- parameterized stats handlers -------------------------------------------


# events handle -> its max(ts). ``load_table`` returns one handle per
# (application, path, mtime) while the cache is on, so a rewritten
# table or ``cache_disabled()`` yields a fresh handle and so a fresh
# anchor; weak keys let a dropped handle take its anchor with it.
_ANCHORS: weakref.WeakKeyDictionary[DataFrame, datetime] = (
    weakref.WeakKeyDictionary()
)


def _anchor(events: DataFrame) -> datetime:
    """Ranges anchor to the latest listen, not wall clock
    (stats/__init__.py:150-218). Computed once per events handle: the
    aggregate is a shuffle job plus a result job on every ranged
    request otherwise, and a full fact scan at scale (Spark does not
    push MAX into parquet)."""
    if events not in _ANCHORS:
        _ANCHORS[events] = events.agg(F.max("ts")).first()[0]
    return _ANCHORS[events]


def _range_filtered_events(
    spark: SparkSession, sf_dir: str, stats_range: str | None
) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    if stats_range is None:
        return events
    frm, to = resolve_range(_anchor(events), stats_range)
    return events.where((F.col("ts") >= F.lit(frm)) & (F.col("ts") < F.lit(to)))


def _stats_user_entity(
    spark: SparkSession,
    sf_dir: str,
    entity: str = "event_type",
    stats_range: str | None = None,
    user_col: str = "user_id",
    k: int = 1000,
) -> DataFrame:
    """stats.user.entity: the incremental provider's aggregate over the
    ranged scan, then the same final query the incremental path runs."""
    ev = _range_filtered_events(spark, sf_dir, stats_range)
    return final_user_entity_stats(
        user_entity_stat(user_col, entity).aggregate(ev),
        user_col=user_col, entity_col=entity, k=k,
    )


def _stats_daily_activity(
    spark: SparkSession,
    sf_dir: str,
    stats_range: str | None = None,
    **params,
) -> DataFrame:
    """stats.user.daily_activity with the standard stats_range param
    (user/daily_activity.py over the ranged scan): the weekday×hour
    grid stays dense per user, only the counted events are ranged."""
    ev = _range_filtered_events(spark, sf_dir, stats_range)
    return handlers.daily_activity(ev, **params)


def _stats_genre_activity(
    spark: SparkSession,
    sf_dir: str,
    stats_range: str | None = None,
    k: int = 2,
) -> DataFrame:
    """stats.user.genre_activity with the standard stats_range param
    (genre_activity.py:22-79 shape): top-k entity per hour over the
    ranged scan."""
    from listenbrainz_server_spark.operators.topk import top_k_per_group

    ev = _range_filtered_events(spark, sf_dir, stats_range)
    agg = ev.groupBy(
        F.hour("ts").cast("bigint").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("listen_count"))
    return top_k_per_group(
        agg,
        partition_by=["hour"],
        order_by=[F.col("listen_count").desc(), F.col("event_type")],
        k=k,
    ).withColumn("rank", F.col("rank").cast("bigint"))


def _similar_users(
    spark: SparkSession,
    sf_dir: str,
    max_num_users: int = 25,
    threshold: float = 0.15,
) -> DataFrame:
    """similarity.similar_users with the reference's params
    (request_manage.py:355-360)."""
    from listenbrainz_server_spark.plans.cf import similar_users_handler

    return similar_users_handler(
        spark, sf_dir, max_num_users=max_num_users, threshold=threshold
    )


# The two stats below are defined once, as incremental providers
# (plans/incremental_stats.py); a direct request is the provider's
# aggregate over the ranged events, then the same final stats query.


def _stats_sitewide_entity(
    spark: SparkSession,
    sf_dir: str,
    entity: str = "event_type",
    stats_range: str | None = None,
    user_col: str = "user_id",
    cap: int = 500,
    k: int = 1000,
) -> DataFrame:
    """stats.sitewide.entity (sitewide/entity.py:50-59): per-user cap
    before the global aggregate, then global top-K."""
    ev = _range_filtered_events(spark, sf_dir, stats_range)
    stat = sitewide_entity_stat(user_col, entity, cap=cap)
    return final_sitewide_entity_stats(stat.aggregate(ev), entity, k=k)


def _stats_entity_listeners(
    spark: SparkSession,
    sf_dir: str,
    entity: str = "event_type",
    stats_range: str | None = None,
    user_col: str = "user_id",
    k: int = 10,
) -> DataFrame:
    """stats.entity.listeners (stats/listener/entity.py:20-28): top-K
    listeners per entity + total distinct listener count."""
    ev = _range_filtered_events(spark, sf_dir, stats_range)
    stat = entity_listener_stat(user_col, entity)
    return final_entity_listener_stats(stat.aggregate(ev), user_col, entity, k=k)


def _stats_listening_activity(
    spark: SparkSession,
    sf_dir: str,
    stats_range: str = "month",
    sitewide: bool = False,
    granularity: str | None = None,
    **params,
) -> DataFrame:
    """listening_activity with buckets generated from the
    listening-activity range table (stats/common/
    listening_activity.py:60-185 — doubled comparison windows,
    partial-day exclusion on "this" ranges, and per-range bucket
    steps: days for week/month/quarter, months for half-year/year,
    years for all_time)."""
    from datetime import timedelta

    from listenbrainz_server_spark.plans.ranges import resolve_activity_range

    events = load_table(spark, sf_dir, "events")
    frm, to, default_granularity = resolve_activity_range(
        _anchor(events), stats_range
    )
    granularity = granularity or default_granularity

    rows = []
    cur = frm
    while cur < to:
        if granularity == "day":
            nxt = cur + timedelta(days=1)
            label = cur.strftime("%Y-%m-%d")
        elif granularity == "month":
            nxt = (cur.replace(day=1) + timedelta(days=32)).replace(
                day=1, hour=0, minute=0, second=0, microsecond=0
            )
            label = cur.strftime("%Y-%m")
        else:
            nxt = cur.replace(
                year=cur.year + 1, month=1, day=1,
                hour=0, minute=0, second=0, microsecond=0,
            )
            label = cur.strftime("%Y")
        rows.append((label, cur, nxt))
        cur = nxt
    buckets = local_frame(spark, rows, "bucket string, start timestamp, end timestamp")
    ev = events.where((F.col("ts") >= F.lit(frm)) & (F.col("ts") < F.lit(to)))
    if sitewide:
        return handlers.sitewide_listening_activity(ev, buckets, **params)
    return handlers.listening_activity(ev, buckets, **params)


def _all_time_orders(spark: SparkSession, sf_dir: str, stats_range: str) -> DataFrame:
    """The era and artist-evolution stats read ``orders``, which has no
    listen timestamp to range over: only ``all_time`` exists."""
    if stats_range != "all_time":
        raise ValueError(
            f"stats_range={stats_range!r}: only 'all_time' is available "
            "for stats read from orders"
        )
    return load_table(spark, sf_dir, "orders")


def _era_activity(
    spark: SparkSession,
    sf_dir: str,
    stats_range: str = "all_time",
    sitewide: bool = False,
) -> DataFrame:
    """era_activity (era_activity.py:40-43): listens bucketed by the
    entity's era year; sitewide drops the user dimension."""
    orders = _all_time_orders(spark, sf_dir, stats_range)
    filtered = orders.where(F.year("o_orderdate") >= 1800)
    keys = (
        [F.year("o_orderdate").cast("bigint").alias("era_year")]
        if sitewide
        else [
            F.col("o_custkey").alias("user_id"),
            F.year("o_orderdate").cast("bigint").alias("era_year"),
        ]
    )
    return filtered.groupBy(*keys).agg(F.count(F.lit(1)).alias("listen_count"))


def _artist_evolution_activity(
    spark: SparkSession,
    sf_dir: str,
    stats_range: str = "all_time",
    sitewide: bool = False,
) -> DataFrame:
    """artist_evolution_activity (artist_evolution_activity.py:33-54):
    entity × year counts; sitewide aggregates across users."""
    orders = _all_time_orders(spark, sf_dir, stats_range)
    keys = [
        F.year("o_orderdate").cast("bigint").alias("year"),
        F.col("o_orderpriority").alias("entity"),
    ]
    if not sitewide:
        keys.insert(0, F.col("o_custkey").alias("user_id"))
    return orders.groupBy(*keys).agg(F.count(F.lit(1)).alias("listen_count"))


# -- CF pipeline ------------------------------------------------------------


def _cf_create_dataframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cf...create_dataframes (create_dataframes.py:166-183): playcounts
    with dense surrogate ids for both axes."""
    from listenbrainz_server_spark.operators.ids import surrogate_ids_scalable
    from listenbrainz_server_spark.plans.cf import playcounts

    pc = playcounts(spark, sf_dir)
    users = surrogate_ids_scalable(pc, "user_id", "spark_user_id")
    items = surrogate_ids_scalable(pc, "item_id", "recording_id")
    return (
        pc.join(users, "user_id")
        .join(items, "item_id")
        .select("spark_user_id", "recording_id", "playcount")
    )


# -- import.* compute -------------------------------------------------------


def _import_archive(
    spark: SparkSession,
    archive: str,
    out_path: str | None,
    metadata_path: str | None,
    dump_id: int,
    dump_type: str,
) -> DataFrame:
    """The S6 dump-archive transport (import_*_dump_to_hdfs parity,
    listens/dump.py:33-80): streaming tar extraction, atomic-swap land
    (append for incremental dumps), import-registry upsert — returning
    the 1-row import report the reference handler returns as JSON."""
    from listenbrainz_server_spark.sources.dump import import_dump

    work = tempfile.mkdtemp(prefix="lbs_import_", dir=scratch_root(spark))
    return import_dump(
        spark,
        archive,
        work,
        out_path or os.path.join(work, "listens"),
        metadata_path or os.path.join(work, "meta"),
        dump_id=int(dump_id),
        dump_type=dump_type,
    )


def _import_full(
    spark: SparkSession,
    sf_dir: str,
    archive: str | None = None,
    out_path: str | None = None,
    metadata_path: str | None = None,
    dump_id: int = 0,
) -> DataFrame:
    """import.dump.full compute: full-dump swap-in (listens/dump.py:
    204-208) — rewrite the events dataset atomically, return it. With
    an ``archive`` param the request routes through the S6 transport."""
    if archive:
        return _import_archive(
            spark, archive, out_path, metadata_path, dump_id, "full"
        )
    from listenbrainz_server_spark.sources.sinks import atomic_swap_write

    ev = load_table(spark, sf_dir, "events")
    out = out_path or os.path.join(
        tempfile.mkdtemp(prefix="lbs_import_", dir=scratch_root(spark)),
        "events_full",
    )
    atomic_swap_write(ev, out)
    return spark.read.parquet(out)


def _import_incremental(
    spark: SparkSession,
    sf_dir: str,
    archive: str | None = None,
    out_path: str | None = None,
    metadata_path: str | None = None,
    dump_id: int = 0,
    cutoff: str = "2024-01-20",
) -> DataFrame:
    """import.dump.incremental compute: base ∪ incremental union
    (listens/data.py:25-55) — cutoff split plays the two dumps. With
    an ``archive`` param the request routes through the S6 transport
    in append mode."""
    if archive:
        return _import_archive(
            spark, archive, out_path, metadata_path, dump_id, "incremental"
        )
    from listenbrainz_server_spark.sources.readers import union_base_incremental

    ev = load_table(spark, sf_dir, "events")
    cut = F.lit(cutoff).cast("timestamp")
    return union_base_incremental(
        ev.where(F.col("ts") < cut),
        ev.where(F.col("ts") >= cut),
        ev.schema,
        spark,
    )


def _import_sample(
    spark: SparkSession, sf_dir: str, fraction: float = 0.1
) -> DataFrame:
    """import.dump.sample compute: reproducible hash-sampled subset."""
    from listenbrainz_server_spark.operators.sampling import hash_sample

    ev = load_table(spark, sf_dir, "events")
    return hash_sample(ev, "event_id", fraction)


def _import_mlhd(
    spark: SparkSession, sf_dir: str, csv_glob: str | None = None
) -> DataFrame:
    """import.dump.mlhd compute: TSV→Parquet transform
    (mlhd/download.py:63-110). Reads a caller-provided csv_glob, or
    synthesizes a tiny fixture when none is given (no MLHD dump ships
    with the testdata)."""
    from listenbrainz_server_spark.sources.readers import mlhd_csv_ingest

    if csv_glob is None:
        d = tempfile.mkdtemp(prefix="lbs_mlhd_", dir=scratch_root(spark))
        with open(os.path.join(d, "user0.txt"), "w") as f:
            f.write("100\tmb1\trel1\trec1\n")
        csv_glob = os.path.join(d, "*.txt")
    return mlhd_csv_ingest(spark, csv_glob)


def _import_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """import.deleted_listens compute: tombstone anti join
    (listens/delete.py:27-60)."""
    from listenbrainz_server_spark.sources.readers import apply_tombstones

    ev = load_table(spark, sf_dir, "events")
    tombstones = ev.where(F.col("event_id") % 100 == 0).select("event_id")
    return apply_tombstones(ev, tombstones, ["event_id"])


def _import_compact(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """import.compact_listens compute: date-partitioned rewrite
    (listens/compact.py:36-45); returns the compacted dataset."""
    from listenbrainz_server_spark.sources.sinks import partitioned_overwrite

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    out = out_path or os.path.join(
        tempfile.mkdtemp(prefix="lbs_compact_", dir=scratch_root(spark)),
        "events_compact",
    )
    partitioned_overwrite(ev, out, ["day"])
    return spark.read.parquet(out)


def _import_pg_tables(
    spark: SparkSession, sf_dir: str, out_path: str | None = None
) -> DataFrame:
    """import.pg_metadata_tables compute: refresh the small dimension
    tables into a registry (postgres/__init__.py analog — JDBC source
    swapped for the parquet dims in this container)."""
    from listenbrainz_server_spark.sources.sinks import registry_upsert

    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    out = out_path or os.path.join(
        tempfile.mkdtemp(prefix="lbs_pg_", dir=scratch_root(spark)), "dims"
    )
    dims = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(
        F.col("n_nationkey").alias("dim_key"),
        F.col("n_name").alias("dim_name"),
        F.col("r_name").alias("dim_group"),
    )
    return registry_upsert(spark, out, dims, ["dim_key"])


QUERY_MAP: dict[str, Callable] = {
    # -- core + stats ------------------------------------------------------
    "echo.echo": _echo,
    "stats.user.entity": _stats_user_entity,
    "stats.user.listening_activity": _stats_listening_activity,
    "stats.user.genre_activity": _stats_genre_activity,
    "stats.user.daily_activity": _stats_daily_activity,
    "stats.user.era_activity": _era_activity,
    "stats.user.artist_evolution_activity": _artist_evolution_activity,
    "stats.sitewide.entity": _stats_sitewide_entity,
    "stats.sitewide.listening_activity": lambda spark, sf_dir, **p: (
        _stats_listening_activity(spark, sf_dir, sitewide=True, **p)
    ),
    "stats.sitewide.era_activity": lambda spark, sf_dir, **p: (
        _era_activity(spark, sf_dir, sitewide=True, **p)
    ),
    "stats.sitewide.artist_evolution_activity": lambda spark, sf_dir, **p: (
        _artist_evolution_activity(spark, sf_dir, sitewide=True, **p)
    ),
    "stats.entity.listeners": _stats_entity_listeners,
    # -- import family (Spark compute; transport out of scope) -------------
    "import.dump.full": _import_full,
    "import.dump.incremental": _import_incremental,
    "import.dump.sample": _import_sample,
    "import.dump.mlhd": _import_mlhd,
    "import.deleted_listens": _import_deleted,
    "import.compact_listens": _import_compact,
    "import.pg_metadata_tables": _import_pg_tables,
    # -- CF pipeline -------------------------------------------------------
    "cf.missing_mb_data": _registered("h_missing_data"),
    "cf.recommendations.recording.create_dataframes": _cf_create_dataframes,
    "cf.recommendations.recording.train_model": _registered("m_als_cv"),
    "cf.recommendations.recording.recommendations": _registered("m_als_recommend"),
    "cf.recommendations.recording.discovery": _registered("h_discovery"),
    # -- similarity --------------------------------------------------------
    "similarity.similar_users": _similar_users,
    "similarity.recording": _events_handler(handlers.similar_entities),
    "similarity.artist": _registered("h_similar_weighted"),
    # -- popularity / releases / troi / tags -------------------------------
    "popularity.popularity": _events_handler(handlers.popularity),
    "releases.fresh": _registered("h_fresh_releases"),
    "troi.playlists": _events_handler(handlers.playlist_picks),
    "tags.default": _registered("h_tags_percentile"),
    # -- year in music -----------------------------------------------------
    "year_in_music.new_releases_of_top_artists": _registered("h_yim_new_releases"),
    "year_in_music.most_listened_year": _registered("h_yim_most_listened_year"),
    "year_in_music.artist_evolution_activity": _artist_evolution_activity,
    "year_in_music.day_of_week": _events_handler(handlers.day_of_week),
    "year_in_music.similar_users": _similar_users,
    "year_in_music.top_stats": _registered("h_yim_top_stats"),
    "year_in_music.listens_per_day": _registered("h_yim_listens_per_day"),
    "year_in_music.listen_count": _registered("h_yim_listen_count"),
    "year_in_music.new_artists_discovered_count": _registered("h_yim_new_entities"),
    "year_in_music.listening_time": _registered("h_yim_listening_time"),
    "year_in_music.top_genres": _registered("h_top_genres"),
    "year_in_music.genre_activity": _stats_genre_activity,
    "year_in_music.top_missed_recordings": _registered("h_yim_top_missed"),
    "year_in_music.top_discoveries": _registered("h_yim_top_discoveries"),
}


def get_query_handler(name: str) -> Callable:
    """query_map.py:99-100 analog."""
    return QUERY_MAP[name]


# -- prepared request plans -------------------------------------------------

# Names always built afresh, beside the import.* family (it writes files
# in dispatch): the ones whose warm second build still runs Spark jobs
# at sf0.01 — zipWithIndex ids (8 jobs), the localCheckpoint of the
# similar-users pair source (3) and the ALS fits (train_model 90,
# recommendations 20).
_UNPREPARED = {
    "cf.recommendations.recording.create_dataframes",
    "cf.recommendations.recording.train_model",
    "cf.recommendations.recording.recommendations",
    "similarity.similar_users",
    "year_in_music.similar_users",
}
PREPARED = frozenset(
    name for name in QUERY_MAP
    if not name.startswith("import.") and name not in _UNPREPARED
)

# Prepared plans kept, least recently used evicted first: the whole
# prepared list under several param sets each. An entry is one analyzed
# plan tree on the driver.
PREPARED_PLANS = 128


class _Prepared(NamedTuple):
    plan: JavaObject  # the first build's analyzed logical plan
    loads: dict[tuple[str, str], DataFrame]  # (base_dir, table) -> handle it used


# (applicationId, handler, sf_dir, sorted (name, type, value) params,
# session time zone). A value's type is part of the key: k=1, k=1.0 and
# k=True compare equal, yet build different plans or fail differently.
_PREPARED: OrderedDict[tuple, _Prepared] = OrderedDict()

# applicationId -> Dataset.ofRows, looked up once per application (the
# lookup is seven Py4J round trips).
_OF_ROWS: dict[str, JavaMember] = {}


def _prepared_key(handler, spark: SparkSession, sf_dir: str, params: dict) -> tuple:
    return (
        app_id(spark), handler, sf_dir,
        tuple(sorted((k, type(v), v) for k, v in params.items())),
        spark.conf.get("spark.sql.session.timeZone"),
    )


def dispatch(name: str, spark: SparkSession, sf_dir: str, **params) -> DataFrame:
    """Run ``name``'s handler, or serve a repeat from its prepared plan.

    A prepared name's first build under a key keeps its analyzed plan.
    A repeat of the key, while every ``load_table`` handle that build
    used is still the memoized one, gets a new DataFrame over that plan
    (``Dataset.ofRows``): the handler's Python and the analysis are
    skipped, while optimization, physical planning and AQE run on every
    execution, so no stage output is reused. Inside
    ``catalog.cache_disabled()`` every request builds afresh."""
    handler = get_query_handler(name)
    if name not in PREPARED or not cache_enabled():
        return handler(spark, sf_dir, **params)
    key = _prepared_key(handler, spark, sf_dir, params)
    try:
        hit = _PREPARED.get(key)
    except TypeError:  # an unhashable param value
        return handler(spark, sf_dir, **params)
    app = key[0]
    if hit is not None and all(
        load_table(spark, d, t) is h for (d, t), h in hit.loads.items()
    ):
        _PREPARED.move_to_end(key)
        return DataFrame(_OF_ROWS[app](spark._jsparkSession, hit.plan), spark)
    with recorded_loads() as loads:
        df = handler(spark, sf_dir, **params)
    if app not in _OF_ROWS:
        _OF_ROWS[app] = spark._jvm.org.apache.spark.sql.classic.Dataset.ofRows
    # Keyed after the build: loading events pins the session to UTC.
    key = _prepared_key(handler, spark, sf_dir, params)
    _PREPARED.pop(key, None)
    _PREPARED[key] = _Prepared(df._jdf.queryExecution().analyzed(), loads)
    if len(_PREPARED) > PREPARED_PLANS:
        _PREPARED.popitem(last=False)
    return df
