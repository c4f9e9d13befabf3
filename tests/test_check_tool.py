"""tools/check.py and the bench.py sweep: a name outside the registry is
rejected before Spark starts, and the first error that means the JVM
is gone stops the run at once, naming the query that was running,
instead of recording every remaining name as a failure.

No Spark session is started: the registry and the session are fakes.
"""

import json
import os
import sys
import types

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402
import check  # noqa: E402
from listenbrainz_server_spark.queries import Query  # noqa: E402


def _no_spark(*args, **kwargs):
    raise AssertionError("Spark started")


def _lost_then_later(calls: list[str]) -> dict[str, Query]:
    def lost(spark, sf_dir):
        calls.append("q_a")
        raise ConnectionRefusedError(111, "Connection refused")

    def later(spark, sf_dir):
        calls.append("q_b")
        raise AssertionError("ran after the JVM was lost")

    return {"q_a": Query("q_a", lost, "SELECT 1"),
            "q_b": Query("q_b", later, "SELECT 1")}


def test_check_rejects_unknown_names_before_spark(monkeypatch, capsys):
    monkeypatch.setattr(check, "get_session", _no_spark)
    monkeypatch.setattr(sys, "argv", ["check.py", "sfX", "a1_pricing_summary", "x_typo"])
    assert check.main() == 2
    out = capsys.readouterr().out
    assert "x_typo" in out and "a1_pricing_summary" not in out


def test_check_stops_at_the_first_lost_jvm(tmp_path, monkeypatch):
    calls: list[str] = []
    monkeypatch.setattr(check, "load_all", lambda: _lost_then_later(calls))
    monkeypatch.setattr(check, "get_session", lambda app: None)
    out = tmp_path / "verdicts.json"
    monkeypatch.setattr(sys, "argv", ["check.py", str(tmp_path), "--json", str(out)])
    assert check.main() == bench.JVM_LOST
    assert calls == ["q_a"]
    assert json.loads(out.read_text()) == {"jvm_lost": "q_a"}


def test_bench_sweep_stops_at_the_first_lost_jvm(monkeypatch, capsys):
    calls: list[str] = []
    registry = _lost_then_later(calls)
    warm = types.SimpleNamespace(count=lambda: 0)
    registry["a1_pricing_summary"] = Query("a1_pricing_summary",
                                           lambda spark, sf_dir: warm, None)
    noop = lambda *a, **k: None  # noqa: E731
    spark = types.SimpleNamespace(
        sparkContext=types.SimpleNamespace(setLogLevel=noop, setJobGroup=noop),
        catalog=types.SimpleNamespace(clearCache=noop),
        createDataFrame=noop,
    )

    class FakeALS:
        def __init__(self, **kwargs):
            pass

        def fit(self, df):
            return None

    import pyspark.ml.recommendation

    monkeypatch.setattr(pyspark.ml.recommendation, "ALS", FakeALS)
    monkeypatch.setattr(bench, "load_all", lambda: registry)
    monkeypatch.setattr(bench, "get_session", lambda app: spark)
    monkeypatch.setattr(sys, "argv", ["bench.py", "--only", "q_a,q_b", "--no-artifact"])
    try:
        bench.main()
    except SystemExit as e:
        assert e.code == bench.JVM_LOST
    else:
        raise AssertionError("the sweep went on after the JVM was lost")
    assert calls == ["q_a"]
    assert capsys.readouterr().out.strip().splitlines()[-1].startswith("JVM lost at q_a")


def test_jvm_lost_reads_the_exception_chain():
    from py4j.protocol import Py4JNetworkError

    try:
        try:
            raise ConnectionRefusedError(111, "Connection refused")
        except ConnectionRefusedError as inner:
            raise Py4JNetworkError("An error occurred while trying to connect") from inner
    except Py4JNetworkError as e:
        assert bench.jvm_lost(e)
    try:
        try:
            raise ConnectionRefusedError(111, "Connection refused")
        except ConnectionRefusedError:
            raise RuntimeError("wrapped")  # noqa: B904
    except RuntimeError as e:
        assert bench.jvm_lost(e)
    assert not bench.jvm_lost(ValueError("a query bug"))


def test_endround_reports_a_lost_jvm_and_merges_nothing(tmp_path, monkeypatch):
    import endround

    def check_run(cmd, cwd=None, **kwargs):
        with open(cmd[cmd.index("--json") + 1], "w") as f:
            json.dump({"jvm_lost": "q_b"}, f)
        return types.SimpleNamespace(returncode=bench.JVM_LOST)

    monkeypatch.setattr(endround.subprocess, "run", check_run)
    out = tmp_path / "CHECK_x_r01.json"
    assert endround._regate("sfX", str(out), ["q_b"], {"q_b": 0}) == [
        "CHECK_x_r01.json: JVM lost at q_b"]
    assert not out.exists()

    def bench_run(cmd, cwd=None, **kwargs):
        return types.SimpleNamespace(returncode=bench.JVM_LOST,
                                     stdout="JVM lost at q_b: refused\n")

    monkeypatch.setattr(endround.subprocess, "run", bench_run)
    monkeypatch.setattr(endround, "BENCH", str(tmp_path / "BENCH.json"))
    assert endround.run_bench({"q_b": 0}, delta=False) == ["JVM lost at q_b: refused"]
    assert not (tmp_path / "BENCH.json").exists()
