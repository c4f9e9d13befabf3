"""Tests for the benchmark's own code.

    python -m pytest reqbench -q -p no:cacheprovider
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import gen  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402

SMALL = gen.Scale(users=100, delta_days=3)


def _hashes(d: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_generator_is_byte_identical_per_seed_and_differs_across_seeds(tmp_path):
    a = gen.write_dataset(str(tmp_path / "a"), 7, SMALL)
    b = gen.write_dataset(str(tmp_path / "b"), 7, SMALL)
    c = gen.write_dataset(str(tmp_path / "c"), 8, SMALL)
    ha, hb, hc = _hashes(a["dir"]), _hashes(b["dir"]), _hashes(c["dir"])
    assert len(ha) == 2 + SMALL.delta_days
    assert ha == hb
    assert all(ha[f] != hc[f] for f in ha)


@pytest.mark.parametrize("n", [11, 12, 19, 20, 21, 40, 99, 100, 101, 1000])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    xs = list(range(n))
    p, v = measure.tail(xs)
    assert sum(x > v for x in xs) >= 10
    # The next percentile up would leave fewer than ten beyond.
    assert sum(x > measure.percentile(xs, p + 1) for x in xs) < 10


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        measure.tail(list(range(10)))


def test_tail_of_hundred_is_p90():
    assert measure.tail(list(range(100))) == (90, 89)


@pytest.fixture(scope="module")
def spark():
    from listenbrainz_server_spark.session import get_session

    s = get_session("reqbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.mark.parametrize("cached,mix", [(True, run.STATS_SMALL), (False, run.STATS_EXPORT)])
def test_every_request_of_both_stats_mixes_returns_rows(spark, tmp_path, cached, mix):
    from listenbrainz_server_spark import catalog
    from listenbrainz_server_spark.messages import iter_message_chunks
    from listenbrainz_server_spark.plans.api import dispatch

    data = gen.write_dataset(str(tmp_path / "data"), 3, SMALL)
    with contextlib.nullcontext() if cached else catalog.cache_disabled():
        for req in mix:
            df = dispatch(req.name, spark, data["dir"], **dict(req.params))
            rows = sum(
                len(m["data"]) for m in iter_message_chunks(df, req.chunk, req.message_type)
            )
            assert rows > 0, req.key



def test_timed_count_is_whole_passes_over_the_mix():
    mix = len(run.STATS_SMALL)
    for seconds in (1, 20, 33):
        n = run.timed_count("stats_small", seconds, mix)
        assert n % mix == 0 and n >= run.MIN_REQUESTS
    assert run.timed_count("incremental_ingest", 20) == 25


def test_mix_median_averages_the_median_of_each_kind():
    samples = [
        run.Sample(k, 0.0, last=t)
        for k, t in [("a", 1.0), ("a", 2.0), ("a", 9.0), ("b", 10.0), ("b", 10.0), ("b", 11.0)]
    ]
    assert run.mix_median(samples, lambda s: s.latency, by_kind=True) == 6.0
    assert run.mix_median(samples, lambda s: s.latency, by_kind=False) == 9.5


def test_mix_tail_adds_the_tail_of_the_excess_over_each_kind_to_the_mix_median():
    # Two kinds a ten-fold apart; kind "b" has one 1 s straggler.
    samples = [run.Sample("a", 0.0, last=1.0) for _ in range(10)]
    samples += [run.Sample("b", 0.0, last=10.0) for _ in range(10)]
    samples.append(run.Sample("b", 0.0, last=11.0))
    p, v = run.mix_tail(samples, by_kind=True)
    assert p == 52 and v == 5.5  # the straggler is beyond the tail
    assert run.mix_tail(samples, by_kind=False) == measure.tail([s.latency for s in samples])
