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


def test_headline_line_budget():
    """The headline stdout line must stay under the driver's 2,000-char
    parse window: a line that grew to 2,280 chars was recorded as
    parsed:null. Pins (a) that a realistic headline payload serializes
    under bench.LINE_BUDGET untrimmed, and (b) that an oversized one
    drops its per-query timings, records the omission and keeps value."""
    import importlib
    import sys

    sys.path.insert(0, REPO)
    bench = importlib.import_module("bench")

    # (a) the real headline names, each with a two-digit timing.
    qnames = bench.HEADLINE + bench.HEADLINE_NEW
    out = {
        "metric": "headline_query_wall_seconds",
        "value": 123.45,
        "unit": "sec",
        "queries": {n: round(10.01 + i * 0.37, 2) for i, n in enumerate(qnames)},
        "sf": 0.1,
        "runs_per_query": 3,
        "value_comparable": 18.22,
    }
    line = bench.headline_line(dict(out))
    assert len(line) <= bench.LINE_BUDGET, len(line)
    assert json.loads(line) == out

    # (b) a per-query map past the budget.
    fat = dict(out, queries={f"a_much_longer_family_query_name_{i:03d}": 1.23
                             for i in range(80)})
    line = bench.headline_line(fat)
    assert len(line) <= bench.LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["trimmed"] == ["queries"] and "queries" not in parsed
    # value — the headline number — always survives.
    assert parsed["value"] == 123.45
