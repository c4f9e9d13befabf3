"""At-head artifact coverage — the VERDICT r7 #1 invariant made
STRUCTURAL (4th recurrence of the drift: r3, r4, r5, r7): the test
suite itself fails if the committed full-registry artifacts
(CHECK_full_r*.json, BENCH_full_latest.json with its per-query
execution records) don't cover every registered query. A round can no
longer end green with queries registered after the last
`tools/endround.py` run — the snapshot commit would carry a red suite.

The rule this encodes: anything registered in the round's last
working commit triggers `tools/endround.py` (which regenerates all
artifacts and fails on drift) BEFORE the snapshot.
"""

from __future__ import annotations

import glob
import json
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _registry_names():
    from listenbrainz_server_spark.queries import load_all

    return set(load_all())


def test_check_full_covers_registry():
    reg = _registry_names()
    paths = sorted(glob.glob(os.path.join(REPO, "CHECK_full_r*.json")))
    assert paths, "no CHECK_full artifact committed — run tools/endround.py"
    with open(paths[-1]) as f:
        check = json.load(f)
    covered = set(check.get("queries", {}))
    missing = sorted(reg - covered)
    assert not missing, (
        f"{paths[-1]} missing {len(missing)} registered queries "
        f"({missing[:5]}…) — run tools/endround.py before the snapshot commit"
    )
    assert check.get("n_fail", 1) == 0


def test_bench_full_covers_registry():
    reg = _registry_names()
    path = os.path.join(REPO, "BENCH_full_latest.json")
    assert os.path.exists(path), "run tools/endround.py"
    with open(path) as f:
        bench = json.load(f)
    covered = set(bench.get("queries", {})) | set(bench.get("errors", {}))
    missing = sorted(reg - covered)
    assert not missing, (
        f"BENCH_full_latest.json missing {len(missing)} queries "
        f"({missing[:5]}…) — run tools/endround.py before the snapshot commit"
    )
    # A full (non-merged) sweep must carry one untimed warm-up per query
    # (the cold-start fix) and the cold_start map — their absence means
    # its per-query numbers mix cold mapInPandas spin-up back in.
    if not bench.get("merged"):
        unwarmed = sorted(set(bench["queries"]) - set(bench.get("warmup_secs", {})))
        assert not unwarmed, (
            f"full sweep missing warm-ups for {len(unwarmed)} queries "
            f"({unwarmed[:5]}…)"
        )
        assert "cold_start" in bench, "full sweep missing cold_start map"


def test_plan_audit_covers_registry():
    """Every timed query in BENCH_full_latest.json carries the record of
    what its last run executed, and bench.red_flags finds nothing in
    those records."""
    import sys

    sys.path.insert(0, REPO)
    import bench

    path = os.path.join(REPO, "BENCH_full_latest.json")
    assert os.path.exists(path), "run tools/endround.py"
    with open(path) as f:
        full = json.load(f)
    records = full.get("records", {})
    missing = sorted((_registry_names() & set(full.get("queries", {}))) - set(records))
    assert not missing, (
        f"BENCH_full_latest.json has no record for {len(missing)} queries "
        f"({missing[:5]}…) — run tools/endround.py before the snapshot commit"
    )
    assert bench.red_flags(records) == []


def test_ladder_names_exist():
    """LADDER.md (the verification→serving map) may only cite real
    names: every backticked registry-shaped identifier must be a
    registered query, and every cited serving-form callable must
    resolve — a doc-drift guard in the test_plan_audit mold."""
    reg = _registry_names()
    path = os.path.join(REPO, "LADDER.md")
    assert os.path.exists(path)
    text = open(path).read()
    prefixes = (
        "d_", "v_", "x_", "t_", "j_", "w_", "g_", "m_", "st_", "mm_", "i_"
    )
    cited = {
        m.group(1)
        for m in re.finditer(r"`([a-z][a-z0-9_]+)`", text)
        if m.group(1).startswith(prefixes)
    }
    serving = {"knn_classify_ann_raw", "mmr_rerank_lsh_raw"}
    missing = sorted(cited - reg - serving)
    assert not missing, f"LADDER.md cites unregistered names: {missing}"

    from listenbrainz_server_spark.queries import similarity as qsim

    for fn in sorted(serving):
        assert hasattr(qsim, fn) or _resolves_in_package(fn), fn


def _resolves_in_package(fn: str) -> bool:
    import importlib

    for mod in (
        "listenbrainz_server_spark.queries.similarity",
        "listenbrainz_server_spark.operators.similarity",
    ):
        if hasattr(importlib.import_module(mod), fn):
            return True
    return False


def _check_aba(aba: dict) -> None:
    assert aba.get("git_head") and aba.get("round"), "anchor lacks provenance"
    for name, m in aba.get("movers", {}).items():
        assert "ab_confirmed" in m, f"mover {name} lacks adjudication"
        assert "legs" in m, f"mover {name} lacks leg readings"


def test_aba_anchor_exists():
    """The endround A/B anchor (the sweep's movers judged by
    interleaved old/new pairs against the prior round's snapshot) must
    exist and carry a verdict and the leg readings per mover. bench.py's
    headline mode attaches this file to the artifact of record. Both
    the committed file and the shape tools/endround.py writes now are
    checked, so the committed file may predate the current shape."""
    path = os.path.join(REPO, "ABA_latest.json")
    assert os.path.exists(path), (
        "ABA_latest.json missing — run tools/endround.py (full pass)"
    )
    with open(path) as f:
        _check_aba(json.load(f))
    _check_aba({
        "round": 16,
        "git_head": "259c95deeadbba7c65ea8e1c5d4bc3db8e778223",
        "pairs": 3,
        "movers": {"v_sq8_topk": {
            "legs": [{"first": "new", "new": 2.3, "old": 2.4},
                     {"first": "old", "new": 2.2, "old": 2.5},
                     {"first": "new", "new": 2.4, "old": 2.3}],
            "new_wins": 2, "old_wins": 1,
            "ab_confirmed": False, "direction": None,
        }},
    })


def test_headline_line_budget():
    """VERDICT r13 #1: the headline stdout line must stay under the
    driver's 2,000-char parse window — r13's line grew to 2,280 chars
    by inlining the full A-B-A legs/ratios block and the driver
    recorded parsed:null. Pins (a) that a realistic headline payload
    with the SLIM aba attachment serializes under bench.LINE_BUDGET,
    and (b) that an oversized payload (the r13 full-legs shape) is
    trimmed back under budget with the omission recorded."""
    import importlib
    import sys

    sys.path.insert(0, REPO)
    bench = importlib.import_module("bench")

    # (a) realistic current-shape payload: 38 headline queries and 8
    # movers in the slim verdict-only form.
    qnames = [f"family_query_name_{i:02d}_topk" for i in range(38)]
    out = {
        "metric": "headline_total_sec",
        "value": 123.45,
        "unit": "sec",
        "queries": {n: round(0.1 + i * 0.37, 2) for i, n in enumerate(qnames)},
        "sf": 0.1,
        "runs_per_query": 3,
        "value_comparable": 18.22,
        "aba": {
            "round": 14,
            "head_moved": False,
            "movers": {f"mover_query_name_{i}": False for i in range(8)},
            "ref": "ABA_latest.json",
        },
    }
    line = bench.headline_line(dict(out))
    assert len(line) <= bench.LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["aba"]["movers"], "slim aba dropped from an in-budget line"
    assert "queries" in parsed

    # (b) the r13 failure shape: full legs/ratios inlined per mover.
    fat = dict(out)
    fat["aba"] = {
        "round": 13,
        "old_head": "1020b90df082beb02bf8bab420e03b19e33172a8",
        "git_head": "08368e5021f66e11a76b5abe6a09ae5e5af84c4f",
        "head_moved": False,
        "movers": {
            f"mover_query_name_{i}": {
                "ab_confirmed": False,
                "legs": {"new1": 2.43, "new2": 2.65, "old": 2.77},
                "matched_ratio": 0.957,
                "prior_round": 3.78,
                "sweep_ratio": 0.582,
                "this_sweep": 2.2,
            }
            for i in range(5)
        },
    }
    line = bench.headline_line(fat)
    assert len(line) <= bench.LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["trimmed"] == ["aba"], "over-budget line must drop aba first"
    # value — the headline number — always survives.
    assert parsed["value"] == 123.45 and "queries" in parsed
