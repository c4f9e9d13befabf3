"""Input handling of the measurement tools under tools/. No Spark
session needed."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from ab_interleave import parse_args  # noqa: E402
from endround import _adjudicate  # noqa: E402
from parse_profile import parse_line  # noqa: E402


def test_ab_interleave_tag_spaced_and_joined():
    spaced = parse_args(["HEAD~1", "q1,q2", "--tag", "cache", "5"])
    joined = parse_args(["HEAD~1", "q1,q2", "5", "--tag=cache"])
    for args in (spaced, joined):
        assert (args.old_ref, args.names, args.pairs, args.tag) == (
            "HEAD~1", ["q1", "q2"], 5, "cache")
    assert parse_args(["HEAD~1", "q1"]).pairs == 3


def test_parse_profile_honours_job_and_stage_units():
    job_s = parse_line("INFO DAGScheduler: Job 7 finished: collect at x.py:3, took 1.500000 s")
    job_ms = parse_line("INFO DAGScheduler: Job 8 finished: count at x.py:4, took 250.0 ms")
    stage = parse_line("INFO DAGScheduler: ResultStage 9 (collect at x.py:3) finished in 2.5 s")
    assert job_s[:2] == ("job", 1.5)
    assert job_ms[:2] == ("job", 0.25)
    assert stage[:2] == ("stage", 2.5)
    assert parse_line("INFO Executor: Finished task 0.0") is None


def test_aba_round_touched_name_adjudicates_both_directions():
    # No sweep ratio: a matched 2x slowdown and a matched 2x speedup
    # are both confirmed, each with its direction.
    slow = _adjudicate(2.2, 1.0, 2.0, None)
    fast = _adjudicate(0.5, 1.0, 0.45, None)
    assert (slow["ab_confirmed"], slow["direction"], slow["matched_ratio"]) == (True, "regressed", 2.0)
    assert (fast["ab_confirmed"], fast["direction"], fast["matched_ratio"]) == (True, "improved", 0.5)
    assert _adjudicate(1.05, 1.0, 0.95, None)["ab_confirmed"] is False
    # A sweep ratio tests only its own direction.
    assert _adjudicate(2.2, 1.0, 2.0, 1.5)["ab_confirmed"] is True
    assert _adjudicate(2.2, 1.0, 2.0, 0.5)["ab_confirmed"] is False
    assert _adjudicate(None, 1.0, 2.0, None)["ab_confirmed"] is None
