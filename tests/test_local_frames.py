"""The serving path's steady state compiles nothing and forks nothing.

- Frames built from driver-side rows go through ``session.local_frame``
  and plan as ``LocalTableScan``: an AST scan keeps every other
  ``createDataFrame(`` out of the engine, and ``local_frame`` equals the
  list path row for row for every type its call sites use.
- The generated-class cache holds the request mix: repeated passes over
  the small-stats requests compile no class.
"""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import sys
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.session import local_frame
from tests.conftest import SF_SMOKE as SF

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "listenbrainz_server_spark"
TAGS = ("helper:", "rdd:")

# (file, enclosing function) -> why it may call createDataFrame.
KEEP = {
    ("session.py", "local_frame"):
        "helper: the one builder of frames from driver-side rows",
    ("operators/ids.py", "surrogate_ids_scalable"):
        "rdd: its input is a distributed zipWithIndex RDD, not driver rows",
}


def _create_dataframe_calls() -> set[tuple[str, str]]:
    """(file, innermost enclosing function) of every createDataFrame
    call in the engine; "<module>" outside any function."""
    found = set()

    def visit(node, rel: str, scope: str) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = node.name
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"):
            found.add((rel, scope))
        for child in ast.iter_child_nodes(node):
            visit(child, rel, scope)

    for path in sorted(ENGINE.rglob("*.py")):
        visit(ast.parse(path.read_text()), str(path.relative_to(ENGINE)), "<module>")
    return found


def test_engine_builds_driver_frames_only_through_local_frame():
    assert _create_dataframe_calls() == set(KEEP)
    assert all(reason.startswith(TAGS) for reason in KEEP.values())


DDL = ("s string, i int, b bigint, d double, f boolean, t timestamp, "
       "a array<double>")
ROWS = [
    ("x", 1, 2**40, 1.5, True, datetime(2024, 1, 1, 12, 30, 0, 123456), [1.0, 2.5]),
    ("", -7, -1, -0.0, False, datetime(1999, 12, 31, 23, 59, 59), []),
    (None, None, None, None, None, None, None),
]


def _same_rows(spark, rows):
    got = local_frame(spark, rows, DDL)
    want = spark.createDataFrame(rows, DDL)
    assert got.schema == want.schema
    micros = [*got.columns, F.unix_micros("t").alias("t_us")]
    assert got.select(*micros).collect() == want.select(*micros).collect()
    return got


def test_local_frame_equals_the_list_path_for_every_call_site_type(spark):
    got = _same_rows(spark, ROWS)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert _same_rows(spark, []).count() == 0


def test_naive_timestamps_are_read_as_local_time(spark, monkeypatch):
    """The list path reads a naive datetime in the Python process's
    zone. Off UTC, and across a daylight-saving gap (02:30 does not
    exist on 2024-03-10 in New York), local_frame lands on the same
    instant."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [(None, None, None, None, None, datetime(2024, 3, 10, 2, 30), None),
                (None, None, None, None, None, datetime(2024, 7, 1, 9, 0), None)]
        _same_rows(spark, rows)
    finally:
        monkeypatch.undo()
        time.tzset()


@pytest.mark.parametrize(
    "name, params",
    [
        ("echo.echo", {}),
        ("stats.user.listening_activity", {"stats_range": "week"}),
        ("stats.sitewide.listening_activity", {"stats_range": "month"}),
        ("stats.sitewide.listening_activity", {"stats_range": "year"}),
    ],
)
def test_api_frames_plan_no_python_rdd(spark, name, params):
    df = dispatch(name, spark, SF, **params)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan


def _stats_small():
    """reqbench's small-stats request mix, from its runner."""
    spec = importlib.util.spec_from_file_location(
        "reqbench_run", ROOT / "reqbench" / "run.py")
    run = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = run  # its dataclasses look their module up
    spec.loader.exec_module(run)
    return run.STATS_SMALL


def test_repeated_request_passes_compile_nothing(spark):
    """Spark keeps spark.sql.codegen.cache.maxEntries generated classes;
    at its default of 100, each pass over the 9 small-stats requests
    recompiled what the pass before had evicted."""
    import bench

    compiles = []
    for _ in range(3):
        before = bench.codegen_compiles(spark)
        for req in _stats_small():
            dispatch(req.name, spark, SF, **dict(req.params)).collect()
        compiles.append(bench.codegen_compiles(spark) - before)
    assert compiles[1:] == [0, 0], compiles
