"""Interleaved A/B judge for a wall-time change.

    python tools/ab.py <old_ref> <q1,q2,...> [pairs]

Bench seconds of unchanged code drift ±40% between windows hours apart
(measured on a 4-core host), so a name's old and new seconds are
compared only within one run of this tool:

- The old side is a detached worktree of <old_ref>, removed on exit; the
  new side is this working tree, uncommitted edits included.
- Each of `pairs` (default 3, at least 3) pairs runs one old and one new
  process of `bench.py --only <names> --no-artifact`. The new side goes
  first in even pairs and the old side in odd ones, so a window that
  drifts during the run favours neither.
- Both sides run this working tree's bench.py, copied into the worktree
  before each old leg, so a harness change cannot read as an engine one.

A name is `improved` (or `regressed`) only when its side is faster in at
least 9/10 of the pairs, ties counting for neither, and the medians
differ by more than the interquartile range of the old legs. Otherwise
`ab_confirmed` is false, or None when a leg has no reading for the name.

Beside the verdict each name carries the execution-record counters of
its first new and old legs and their difference. Counters do not drift
with the host, so when `counters_equal` is true a wall delta is the
host's, not the code's. A few names' counters differ between runs of
one tree (VARIABLE_COUNTERS); when theirs differ, `counters_equal` is
"exempt" and `exempt_reason` gives the measured variance.

Prints the table on stderr and the JSON record on stdout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COUNTERS = ("jobs", "stages", "tasks", "shuffle_write_bytes",
            "sql_executions", "ops")

# Names whose counters do not repeat between two `bench.py --only <name>
# --no-artifact` processes of the same tree (4-core host), each with the
# difference measured.
VARIABLE_COUNTERS = {
    "v_pq_topk": "jobs 15 then 17 (Exchange 6 then 8), and shuffle bytes",
    "v_embedding_dup_groups":
        "jobs 70 then 68 (Exchange 35 then 33), and shuffle bytes",
    "m_als_cv": "sql_executions 12 against 14, Exchange 19 against 22, "
                "BroadcastHashJoin 8 against 10; jobs 95, 94 and 97",
    "d_semdedup": "ops Filter 4 then 5, Sort 5 then 6, "
                  "FlatMapGroupsInPandas 1 then 2 at equal jobs and tasks",
}


@contextlib.contextmanager
def worktree(ref: str, repo: str = REPO):
    """Yield the path of a detached worktree of `ref`; removed on exit."""
    tmp = tempfile.mkdtemp(prefix="ab_worktree_")
    path = os.path.join(tmp, "old")
    try:
        r = subprocess.run(["git", "worktree", "add", "--detach", path, ref],
                           cwd=repo, capture_output=True, text=True)
        if r.returncode:
            raise RuntimeError(f"worktree of {ref} failed: {r.stderr.strip()}")
        yield path
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", path],
                       cwd=repo, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)


def run_leg(side: str, names: list[str]) -> tuple[dict[str, float], dict[str, dict]]:
    """Run `side`'s bench.py once over `names`; return ({name: seconds},
    {name: execution record})."""
    r = subprocess.run(
        [sys.executable, "bench.py", "--only", ",".join(names), "--no-artifact"],
        cwd=side, capture_output=True, text=True,
    )
    if r.returncode == 0:
        for ln in reversed(r.stdout.splitlines()):
            if ln.startswith("{"):
                out = json.loads(ln)
                return out.get("queries", {}), out.get("records", {})
    raise RuntimeError(f"leg in {side} exited {r.returncode} with no JSON "
                       f"line; stderr tail:\n{r.stderr[-2000:]}")


def judge(new: list, old: list) -> dict:
    """Both-direction verdict for one name from its per-pair seconds."""
    if None in new or None in old:
        return {"ab_confirmed": None, "direction": None}
    new_wins = sum(n < o for n, o in zip(new, old))
    old_wins = sum(o < n for n, o in zip(new, old))
    new_med, old_med = statistics.median(new), statistics.median(old)
    q1, _, q3 = statistics.quantiles(old, n=4, method="inclusive")
    direction = None
    if 10 * new_wins >= 9 * len(new) and old_med - new_med > q3 - q1:
        direction = "improved"
    elif 10 * old_wins >= 9 * len(old) and new_med - old_med > q3 - q1:
        direction = "regressed"
    return {"new_median": new_med, "old_median": old_med,
            "ratio": round(new_med / old_med, 3) if old_med else None,
            "old_iqr": round(q3 - q1, 3), "new_wins": new_wins,
            "old_wins": old_wins, "ab_confirmed": direction is not None,
            "direction": direction}


def counters(new: dict | None, old: dict | None) -> dict:
    """One name's counters in a new and an old record, and new - old
    (for `ops`, the plan nodes whose count moved)."""
    if not new or not old:
        return {"counters": None, "counters_equal": None}
    new = {k: new.get(k) for k in COUNTERS}
    old = {k: old.get(k) for k in COUNTERS}
    diff = {k: (new[k] or 0) - (old[k] or 0) for k in COUNTERS if k != "ops"}
    ops_new, ops_old = new["ops"] or {}, old["ops"] or {}
    diff["ops"] = {op: ops_new.get(op, 0) - ops_old.get(op, 0)
                   for op in sorted(set(ops_new) | set(ops_old))
                   if ops_new.get(op, 0) != ops_old.get(op, 0)}
    return {"counters": {"new": new, "old": old, "diff": diff},
            "counters_equal": not any(diff.values())}


def name_counters(name: str, new: dict | None, old: dict | None) -> dict:
    """counters(new, old), with a VARIABLE_COUNTERS name's difference
    reported as "exempt" beside its measured reason."""
    out = counters(new, old)
    if out["counters_equal"] is False and name in VARIABLE_COUNTERS:
        out.update(counters_equal="exempt", exempt_reason=VARIABLE_COUNTERS[name])
    return out


def compare(old_ref: str, names: list[str], pairs: int = 3,
            run_leg=run_leg, repo: str = REPO) -> dict:
    """Run `pairs` (at least 3) interleaved old/new legs over `names`
    and judge each."""
    legs: dict[str, list[dict]] = {"new": [], "old": []}
    records: dict[str, list[dict]] = {"new": [], "old": []}
    firsts = ["new" if i % 2 == 0 else "old" for i in range(pairs)]
    with worktree(old_ref, repo) as old_dir:
        for i, first in enumerate(firsts):
            for side in (first, "old" if first == "new" else "new"):
                if side == "old":
                    shutil.copyfile(os.path.join(repo, "bench.py"),
                                    os.path.join(old_dir, "bench.py"))
                t0 = time.time()
                got, recs = run_leg(repo if side == "new" else old_dir, names)
                legs[side].append(got)
                records[side].append(recs)
                print(f"pair {i} {side}: {time.time() - t0:.1f}s "
                      f"{json.dumps(got, sort_keys=True)}",
                      file=sys.stderr, flush=True)
    queries = {}
    for n in names:
        new = [q.get(n) for q in legs["new"]]
        old = [q.get(n) for q in legs["old"]]
        queries[n] = {
            "legs": [{"first": f, "new": a, "old": b}
                     for f, a, b in zip(firsts, new, old)],
            **judge(new, old),
            **name_counters(n, records["new"][0].get(n), records["old"][0].get(n)),
        }
    return {"old_ref": old_ref, "pairs": pairs, "queries": queries}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Interleaved old/new bench.py legs.")
    p.add_argument("old_ref")
    p.add_argument("names", type=lambda s: s.split(","))
    p.add_argument("pairs", nargs="?", type=int, default=3)
    args = p.parse_args(argv)
    if args.pairs < 3:
        p.error("pairs must be at least 3")
    return args


def main() -> None:
    args = parse_args(sys.argv[1:])
    out = compare(args.old_ref, args.names, args.pairs)
    print(f"\n{'query':30s} new_med old_med new/old  wins n:o  "
          "counters_equal  verdict", file=sys.stderr)
    for n, q in out["queries"].items():
        if q["ab_confirmed"] is None:
            print(f"{n:30s} leg missing", file=sys.stderr)
            continue
        print(f"{n:30s} {q['new_median']:7.2f} {q['old_median']:7.2f} "
              f"{q['ratio'] or 0:7.3f}  {q['new_wins']:4d}:{q['old_wins']:<4d} "
              f"{str(q['counters_equal']):14s}  "
              f"{q['direction'] or 'unconfirmed'}", file=sys.stderr)
    print(json.dumps(out, indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
