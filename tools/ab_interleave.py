"""Interleaved A/B measurement for a set of queries (r15 tooling).

Cross-run bench seconds on this box drift ±40% between windows, so
every optimization decision is made on INTERLEAVED evidence: the old
and new code run as alternating sequential processes inside one
machine window, and per-query medians are compared old-vs-new.

    python tools/ab_interleave.py <old_ref> <q1,q2,...> [pairs] [--tag NAME]

- <old_ref>: a git ref (commit/branch) for the OLD side; a detached
  worktree is created under a private tempdir and removed afterwards.
  The NEW side is this repo's working tree (uncommitted edits count).
- pairs: how many NEW/OLD process pairs to alternate (default 3).

Each leg runs `bench.py --only <names> --no-artifact` (median-of-1
per --all semantics with an untimed warm-up per query, promoting
>2 s queries to median-of-3 inside the leg). Prints per-query medians
and the ratio, plus the raw legs for auditability, and writes the
same JSON to plans/r15/AB_<tag>.json when --tag is given.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_leg(script_dir: str, names: list[str]) -> dict[str, float]:
    r = subprocess.run(
        [sys.executable, os.path.join(script_dir, "bench.py"),
         "--only", ",".join(names), "--no-artifact"],
        cwd=script_dir, capture_output=True, text=True,
    )
    if r.returncode != 0:
        raise SystemExit(
            f"leg in {script_dir} exited {r.returncode}\n{r.stderr[-2000:]}"
        )
    for ln in reversed(r.stdout.splitlines()):
        if ln.startswith("{"):
            return json.loads(ln).get("queries", {})
    raise SystemExit(f"leg in {script_dir} printed no JSON line")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="Interleaved old/new bench.py legs.")
    p.add_argument("old_ref")
    p.add_argument("names", type=lambda s: s.split(","))
    p.add_argument("pairs", nargs="?", type=int, default=3)
    p.add_argument("--tag")
    return p.parse_intermixed_args(argv)


def main() -> None:
    args = parse_args(sys.argv[1:])
    old_ref, names, pairs, tag = args.old_ref, args.names, args.pairs, args.tag

    wt = os.path.join(tempfile.mkdtemp(prefix="ab_worktree_"), "old")
    r = subprocess.run(
        ["git", "worktree", "add", "--detach", wt, old_ref],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.returncode != 0:
        raise SystemExit(f"worktree add failed: {r.stderr[:300]}")

    legs: list[tuple[str, dict[str, float]]] = []
    try:
        for i in range(pairs):
            for label, d in (("new", REPO), ("old", wt)):
                t0 = time.time()
                q = run_leg(d, names)
                legs.append((label, q))
                print(f"leg {i}:{label} {round(time.time() - t0, 1)}s "
                      f"{json.dumps(q, sort_keys=True)}", flush=True)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", wt],
                       cwd=REPO, capture_output=True)
        shutil.rmtree(os.path.dirname(wt), ignore_errors=True)

    out = {"old_ref": old_ref, "pairs": pairs, "queries": {}}
    print("\nquery                         new_med  old_med  new/old")
    for n in names:
        new_s = [q[n] for lbl, q in legs if lbl == "new" and n in q]
        old_s = [q[n] for lbl, q in legs if lbl == "old" and n in q]
        if not new_s or not old_s:
            print(f"{n:30s} MISSING")
            continue
        nm, om = statistics.median(new_s), statistics.median(old_s)
        out["queries"][n] = {
            "new": new_s, "old": old_s,
            "new_median": nm, "old_median": om,
            "ratio": round(nm / om, 3) if om else None,
        }
        print(f"{n:30s} {nm:7.2f}  {om:7.2f}  {nm / om if om else 0:7.3f}")
    if tag:
        path = os.path.join(REPO, "plans", "r15", f"AB_{tag}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f, indent=1, sort_keys=True)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
