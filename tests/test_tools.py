"""Input handling of the measurement tools under tools/. No Spark
session needed."""

import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import ab  # noqa: E402


def test_ab_confirms_three_wins_beyond_old_iqr_in_each_direction():
    fast, slow = [1.0, 1.1, 0.9], [2.0, 2.2, 1.9]
    improved = ab.judge(fast, slow)
    regressed = ab.judge(slow, fast)
    assert (improved["ab_confirmed"], improved["direction"]) == (True, "improved")
    assert (improved["new_wins"], improved["old_wins"]) == (3, 0)
    assert (regressed["ab_confirmed"], regressed["direction"]) == (True, "regressed")
    assert (regressed["new_wins"], regressed["old_wins"]) == (0, 3)


def test_ab_two_of_three_wins_does_not_confirm():
    for new, old in (([1.0, 1.0, 3.0], [2.0, 2.0, 2.0]),
                     ([3.0, 3.0, 1.0], [2.0, 2.0, 2.0])):
        v = ab.judge(new, old)
        assert (v["ab_confirmed"], v["direction"]) == (False, None)


def test_ab_gap_within_old_iqr_does_not_confirm():
    # The new side wins every pair, but the medians differ by 0.1 s
    # while the old legs' own quartiles lie 0.5 s apart.
    v = ab.judge([1.0, 1.5, 2.0], [1.1, 1.6, 2.1])
    assert v["new_wins"] == 3 and v["old_iqr"] == 0.5
    assert v["ab_confirmed"] is False


def test_ab_ties_count_for_neither_side():
    # Counting the tie as a new-side win would confirm: 3/3 and a gap
    # of 1.0 s beyond the old IQR of 0.5 s.
    v = ab.judge([1.0, 1.0, 1.0], [1.0, 2.0, 2.0])
    assert (v["new_wins"], v["old_wins"]) == (2, 0)
    assert v["ab_confirmed"] is False


def test_ab_missing_leg_gives_none():
    assert ab.judge([1.0, None, 1.0], [2.0, 2.0, 2.0])["ab_confirmed"] is None
    assert ab.judge([1.0, 1.0, 1.0], [2.0, 2.0, None])["ab_confirmed"] is None


@pytest.fixture
def git_repo(tmp_path):
    """A repository whose committed bench.py differs from its working
    tree's, so a leg can tell which bench.py it was handed."""
    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=tmp_path, check=True, capture_output=True)

    (tmp_path / "bench.py").write_text("committed = True\n")
    git("init", "-q")
    git("add", "bench.py")
    git("commit", "-qm", "old side")
    (tmp_path / "bench.py").write_text("working_tree = True\n")
    return str(tmp_path)


def test_ab_pairs_alternate_first_side_and_share_bench_bytes(git_repo):
    calls = []

    def fake_leg(side_dir, names):
        with open(os.path.join(side_dir, "bench.py")) as f:
            calls.append(("new" if side_dir == git_repo else "old", f.read()))
        seconds = 1.0 if side_dir == git_repo else 2.0
        return ({n: seconds for n in names if n != "q_missing"},
                {n: {"jobs": 2, "ops": {"Exchange": 1}} for n in names})

    out = ab.compare("HEAD", ["q1", "q_missing"], pairs=4,
                     run_leg=fake_leg, repo=git_repo)
    assert [side for side, _ in calls] == [
        "new", "old", "old", "new", "new", "old", "old", "new"]
    assert {text for _, text in calls} == {"working_tree = True\n"}
    q1 = out["queries"]["q1"]
    assert [leg["first"] for leg in q1["legs"]] == ["new", "old", "new", "old"]
    assert (q1["ab_confirmed"], q1["direction"]) == (True, "improved")
    # Faster with identical counters: the record says the host moved.
    assert q1["counters_equal"] is True
    assert out["queries"]["q_missing"]["ab_confirmed"] is None
    assert out["pairs"] == 4


def test_ab_removes_worktree_when_a_leg_raises(git_repo):
    seen = []

    def failing_leg(side_dir, names):
        seen.append(side_dir)
        if side_dir != git_repo:
            raise RuntimeError("leg exited 1")
        return {n: 1.0 for n in names}, {}

    with pytest.raises(RuntimeError, match="leg exited 1"):
        ab.compare("HEAD", ["q1"], run_leg=failing_leg, repo=git_repo)
    old_dir = seen[-1]
    assert old_dir != git_repo and not os.path.exists(old_dir)
    listed = subprocess.run(["git", "worktree", "list"], cwd=git_repo,
                            capture_output=True, text=True, check=True).stdout
    assert len(listed.splitlines()) == 1, listed


def test_ab_counters_diff_first_legs_and_flag_equality():
    new = {"jobs": 3, "stages": 4, "tasks": 9, "shuffle_write_bytes": 100,
           "sql_executions": 1, "ops": {"Exchange": 2, "Sort": 1},
           "executor_run_s": 1.5}
    old = {**new, "jobs": 2, "ops": {"Exchange": 1, "Sort": 1, "Window": 1},
           "executor_run_s": 9.0}
    got = ab.counters(new, old)
    assert got["counters_equal"] is False
    diff = got["counters"]["diff"]
    assert diff == {"jobs": 1, "stages": 0, "tasks": 0, "shuffle_write_bytes": 0,
                    "sql_executions": 0, "ops": {"Exchange": 1, "Window": -1}}
    # Only counters are compared: run seconds drift, so they are left out.
    assert "executor_run_s" not in got["counters"]["new"]
    assert ab.counters(new, dict(new, executor_run_s=0.1))["counters_equal"] is True
    assert ab.counters(new, None) == {"counters": None, "counters_equal": None}


def test_ab_exempts_the_names_whose_counters_vary_between_runs():
    rec = {"jobs": 15, "stages": 4, "tasks": 9, "shuffle_write_bytes": 100,
           "sql_executions": 1, "ops": {"Exchange": 6}}
    moved = {**rec, "jobs": 17, "ops": {"Exchange": 8}}
    assert set(ab.VARIABLE_COUNTERS) == {
        "v_pq_topk", "v_embedding_dup_groups", "m_als_cv", "d_semdedup"}
    for name in ab.VARIABLE_COUNTERS:
        got = ab.name_counters(name, moved, rec)
        assert got["counters_equal"] == "exempt"
        assert got["exempt_reason"] == ab.VARIABLE_COUNTERS[name]
        assert got["counters"]["diff"]["jobs"] == 2
        # Equal counters still read as equal.
        assert ab.name_counters(name, rec, dict(rec))["counters_equal"] is True
        assert ab.name_counters(name, rec, None)["counters_equal"] is None
    assert ab.name_counters("a1_pricing_summary", moved, rec)["counters_equal"] is False


def test_ab_cli_parsing():
    args = ab.parse_args(["HEAD~1", "q1,q2", "5"])
    assert (args.old_ref, args.names, args.pairs) == ("HEAD~1", ["q1", "q2"], 5)
    assert ab.parse_args(["HEAD~1", "q1"]).pairs == 3
    for bad in (["HEAD~1", "q1", "2"], ["HEAD~1", "q1", "--tag", "x"]):
        with pytest.raises(SystemExit):
            ab.parse_args(bad)


def test_no_tool_puts_a_literal_absolute_path_on_sys_path():
    # A tool must import the checkout it lives in, wherever that is.
    import ast

    tools = os.path.join(os.path.dirname(__file__), "..", "tools")
    offenders = []
    for fname in sorted(os.listdir(tools)):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(tools, fname)).read())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant)
                    and isinstance(a.value, str)
                    and os.path.isabs(a.value)
                    for a in node.args
                )
            ):
                offenders.append(f"{fname}:{node.lineno}")
    assert not offenders, offenders
