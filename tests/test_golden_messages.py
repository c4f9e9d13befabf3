"""Golden-message end-to-end tests (VERDICT r8 #6).

The reference's dominant test pattern (SURVEY §5.1,
stats/user/tests/test_user_stats.py:16-71) is: run the FULL handler
through the production message path and compare the complete chunked
JSON stream against a committed golden file. These tests reproduce
that as one harness: plans.api.dispatch → messages.iter_message_chunks
→ canonical stream == tests/golden/*.json.

Row order inside the stream is not guaranteed (the drain walks result
partitions in order, and which rows land in which partition follows
the plan), so the golden stores the SORTED multiset of
JSON-canonicalized rows plus the stream shape (message count, chunk
size, message type) — chunk sizes are a deterministic function of row
count, so the shape is stable even where order isn't.

Regenerate deliberately with `python tools/gen_golden.py` and review
the diff as a contract change.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from gen_golden import CASES, GOLDEN_DIR, stream_canonical  # noqa: E402


@pytest.mark.parametrize(
    "stem,name,params,chunk,mtype",
    CASES,
    ids=[c[0] for c in CASES],
)
def test_handler_message_stream_matches_golden(
    spark, stem, name, params, chunk, mtype
):
    path = os.path.join(GOLDEN_DIR, f"{stem}.json")
    assert os.path.exists(path), (
        f"golden missing: {path} — run `python tools/gen_golden.py`"
    )
    with open(path) as f:
        want = json.load(f)
    got = stream_canonical(spark, stem, name, params, chunk, mtype)
    assert got["types_ok"] and want["types_ok"]
    assert got["n_messages"] == want["n_messages"]
    assert got["rows"] == want["rows"], (
        f"{name}: streamed rows diverge from golden "
        f"({len(got['rows'])} vs {len(want['rows'])})"
    )


@pytest.mark.parametrize(
    "incr_stem,direct_stem",
    [
        ("stats_sitewide_entity_incremental", "stats_sitewide_entity_all_time"),
        ("stats_entity_listeners_incremental", "stats_entity_listeners_all_time"),
        ("stats_user_entity_incremental", "stats_user_entity_all_time"),
    ],
)
def test_sitewide_and_listener_incremental_equal_direct(
    incr_stem, direct_stem
):
    """The dumps-stacking invariant IN the goldens: the user-entity,
    sitewide (never-pruned, sitewide/entity.py:38-40 semantics) and
    listener incremental paths (base partial + two stacked delta
    combines), through production dispatch + chunker, must stream
    EXACTLY the direct all-time handler's rows — the reference's
    recompute-equivalence check on its own incremental test fixtures,
    byte-identical (each direct handler runs the same final query over
    one aggregate pass; the sitewide cap composes exactly at fixture
    scale where no (user, entity) pair nears 500)."""
    with open(os.path.join(GOLDEN_DIR, f"{direct_stem}.json")) as f:
        direct = json.load(f)
    with open(os.path.join(GOLDEN_DIR, f"{incr_stem}.json")) as f:
        incr = json.load(f)
    assert direct["rows"] == incr["rows"]
    assert direct["n_messages"] == incr["n_messages"]
