"""Shared Spark test session (mirrors the reference's test config:
local master, few shuffle partitions — listenbrainz_spark/__init__.py:56-69)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from listenbrainz_server_spark.session import get_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_session("tests", master="local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def group_jobs(spark, group: str) -> int:
    """Spark jobs run so far under job group ``group``, read once the
    listener bus has delivered every event posted so far."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
