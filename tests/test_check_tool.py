"""tools/check.py, the bench.py sweep and the re-gate that runs them: a
name outside the registry is rejected before Spark starts, and the
first error that means the JVM is gone stops the run at once, naming
the query that was running, instead of recording every remaining name
as a failure. Both tools judge a result with bench.oracle_verdict; the
sweep's warm-up verdicts are the sf0.1 gate, so a re-gate runs one
Spark pass at sf0.1.

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
import duckdb  # noqa: E402
import endround  # noqa: E402
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


class _Frame:
    """A collected-or-written stand-in for a DataFrame with one column."""

    columns = ["x"]

    def __init__(self, rows):
        self.rows = rows
        self.write = self

    def collect(self):
        return self.rows

    def format(self, source):
        return self

    def mode(self, mode):
        return self

    def save(self):
        pass


def _run_bench(monkeypatch, tmp_path, registry: dict[str, Query], names: str):
    """bench.main() --only `names` --no-artifact on a fake session and
    the fake `registry`, with an sf_dir that holds no tables."""
    warm = types.SimpleNamespace(count=lambda: 0)
    registry = {"a1_pricing_summary": Query("a1_pricing_summary",
                                            lambda spark, sf_dir: warm, None),
                **registry}
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
    monkeypatch.setattr(bench, "codegen_compiles", lambda spark: 0)
    monkeypatch.setattr(bench, "record", lambda spark, group, before: {"jobs": 1})
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", str(tmp_path / "sf0.1"))
    monkeypatch.setattr(sys, "argv", ["bench.py", "--only", names, "--no-artifact"])
    bench.main()


def test_bench_sweep_stops_at_the_first_lost_jvm(tmp_path, monkeypatch, capsys):
    calls: list[str] = []
    try:
        _run_bench(monkeypatch, tmp_path, _lost_then_later(calls), "q_a,q_b")
    except SystemExit as e:
        assert e.code == bench.JVM_LOST
    else:
        raise AssertionError("the sweep went on after the JVM was lost")
    assert calls == ["q_a"]
    assert capsys.readouterr().out.strip().splitlines()[-1].startswith("JVM lost at q_a")


def test_bench_sweep_times_and_records_a_name_whose_oracle_fails(
        tmp_path, monkeypatch, capsys):
    registry = {
        "q_ok": Query("q_ok", lambda spark, sf_dir: _Frame([(1,), (2,)]),
                      "SELECT * FROM (VALUES (2), (1)) v(x)"),
        "q_bad": Query("q_bad", lambda spark, sf_dir: _Frame([(1,)]), "SELECT 2 AS x"),
        "q_none": Query("q_none", lambda spark, sf_dir: _Frame([(1,)]), None),
    }
    _run_bench(monkeypatch, tmp_path, registry, "q_ok,q_bad,q_none")
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(out["queries"]) == set(out["records"]) == set(registry)
    assert "errors" not in out
    oracle = out["oracle"]
    assert oracle["q_ok"]["status"] == "pass" and oracle["q_ok"]["rows"] == 2
    assert oracle["q_bad"] == {"status": "fail", "err": (
        "hash mismatch; spark-only=['1'] duck-only=['2']")}
    assert oracle["q_none"]["status"] == "rows_only"


def test_oracle_verdict_on_small_frames(tmp_path):
    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INT, s VARCHAR, f DOUBLE)")
    con.execute("INSERT INTO t VALUES (1, 'a', 0.5), (2, NULL, 1.5)")
    cols, rows = ["k", "s", "f"], [(1, "a", 0.5), (2, None, 1.5)]
    verdict = bench.oracle_verdict

    # Column and row order do not matter; a pass adds the oracle's secs.
    v = verdict(con, "SELECT f, k, s FROM t", cols, rows[::-1], 1.0)
    assert v["status"] == "pass" and v["rows"] == 2 and v["secs"] >= 1.0
    assert verdict(con, "SELECT k, s, f AS g FROM t", cols, rows, 1.0) == {
        "status": "fail", "err": "cols spark=['f', 'k', 's'] duck=['g', 'k', 's']"}
    assert verdict(con, "SELECT * FROM t WHERE k = 1", cols, rows, 1.0) == {
        "status": "fail", "err": "rowcount spark=2 duck=1"}
    # The sample holds the canonical rows, columns in name order.
    assert verdict(con, "SELECT * FROM t", cols, [rows[0], (2, None, 2.5)], 1.0) == {
        "status": "fail",
        "err": "hash mismatch; spark-only=['2.5\\x1f2\\x1fNULL'] "
               "duck-only=['1.5\\x1f2\\x1fNULL']"}
    v = verdict(con, "SELECT * FROM no_such_table", cols, rows, 1.0)
    assert v["status"] == "fail" and v["err"].startswith("duckdb error: Catalog Error")
    assert verdict(con, None, cols, rows, 1.234) == {
        "status": "rows_only", "rows": 2, "secs": 1.23}

    # One file per table, or a directory of part files; a missing table
    # has no view.
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({"r": [1, 2]}), tmp_path / "region.parquet")
    (tmp_path / "nation.parquet").mkdir()
    for i in range(2):
        pq.write_table(pa.table({"n": [i]}), tmp_path / "nation.parquet" / f"part-{i}.parquet")
    db = bench.oracle_db(str(tmp_path))
    assert db.execute("SELECT count(*) FROM region").fetchone() == (2,)
    assert db.execute("SELECT sum(n) FROM nation").fetchone() == (1,)
    assert verdict(db, "SELECT * FROM customer", ["c"], [], 0.0)["status"] == "fail"


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
    def check_run(cmd, cwd=None, **kwargs):
        with open(cmd[cmd.index("--json") + 1], "w") as f:
            json.dump({"jvm_lost": "q_b"}, f)
        return types.SimpleNamespace(returncode=bench.JVM_LOST)

    monkeypatch.setattr(endround.subprocess, "run", check_run)
    out = tmp_path / "CHECK_x_r01.json"
    assert endround.run_check({"q_b": 0}, False, str(out)) == [
        "CHECK_x_r01.json: JVM lost at q_b"]
    assert not out.exists()

    def bench_run(cmd, cwd=None, **kwargs):
        return types.SimpleNamespace(returncode=bench.JVM_LOST,
                                     stdout="JVM lost at q_b: refused\n")

    # A JVM lost in the sweep writes neither sf0.1 artifact.
    monkeypatch.setattr(endround.subprocess, "run", bench_run)
    monkeypatch.setattr(endround, "BENCH", str(tmp_path / "BENCH.json"))
    sf01 = tmp_path / "CHECK_y_r01.json"
    assert endround.run_sweep({"q_b": 0}, False, str(sf01)) == [
        "JVM lost at q_b: refused"]
    assert not (tmp_path / "BENCH.json").exists()
    assert not sf01.exists()


def test_delta_regate_runs_one_pass_at_each_scale(tmp_path, monkeypatch):
    """--delta launches tools/check.py once, at sf0.01, and bench.py
    once; no tools/check.py runs at sf0.1. CHECK_sf01's rows are the
    bench line's oracle verdicts merged over the prior rows."""
    ok = {"status": "pass", "rows": 1, "secs": 0.1}
    for prefix in ("CHECK_full_r", "CHECK_sf01_r"):
        with open(tmp_path / f"{prefix}19.json", "w") as f:
            json.dump({"queries": {"q_a": ok, "q_b": ok}, "git_head": "a" * 40}, f)
    bench_path = tmp_path / "BENCH_full_latest.json"
    timed = {"queries": {"q_a": 1.0, "q_b": 1.0},
             "records": {"q_a": {"ops": {}}, "q_b": {"ops": {}}}}
    bench_path.write_text(json.dumps({**timed, "git_head": "a" * 40}))
    launched = []
    check_verdict = {"status": "pass", "rows": 3, "secs": 0.2}
    sweep_verdict = {"status": "pass", "rows": 7, "secs": 0.5}

    def run(cmd, cwd=None, **kwargs):
        launched.append([os.path.basename(cmd[1]), *cmd[2:]])
        if cmd[1].endswith("check.py"):
            with open(cmd[cmd.index("--json") + 1], "w") as f:
                json.dump({"queries": {"q_a": check_verdict}}, f)
            return types.SimpleNamespace(returncode=0)
        bench_path.write_text(json.dumps(timed))
        line = json.dumps({"queries": {"q_a": 1.0}, "oracle": {"q_a": sweep_verdict}})
        return types.SimpleNamespace(returncode=0, stdout=f"noise\n{line}\n")

    monkeypatch.setattr(endround.subprocess, "run", run)
    monkeypatch.setattr(endround, "REPO", str(tmp_path))
    monkeypatch.setattr(endround, "BENCH", str(bench_path))
    monkeypatch.setattr(endround, "load_all", lambda: {"q_a": 0, "q_b": 0})
    monkeypatch.setattr(endround, "_stale_names", lambda registry, prior, producers: {"q_a"})
    monkeypatch.setattr(endround, "_stamp", lambda: {"git_head": "b" * 40, "git_blobs": {}})
    monkeypatch.setattr(sys, "argv", ["endround.py", "20", "--delta"])
    assert endround.main() == 0

    sf001 = os.path.join(endround.TESTDATA, "sf0.01")
    assert launched == [["check.py", sf001, "q_a", "--json", launched[0][-1]],
                        ["bench.py", "--only", "q_a"]]
    full = json.loads((tmp_path / "CHECK_full_r20.json").read_text())
    assert full["queries"] == {"q_a": check_verdict, "q_b": ok}
    sf01 = json.loads((tmp_path / "CHECK_sf01_r20.json").read_text())
    assert sf01["queries"] == {"q_a": sweep_verdict, "q_b": ok}
    assert sf01["sf_dir"] == os.path.join(endround.TESTDATA, "sf0.1")
    assert sf01["git_head"] == "b" * 40 and sf01["n_pass"] == 2
    assert json.loads(bench_path.read_text())["git_head"] == "b" * 40
