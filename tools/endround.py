"""Re-gate the committed correctness and bench artifacts at HEAD, and
refuse to pass unless they cover the whole registry.

    python tools/endround.py N [--delta]   # N numbers the CHECK artifacts
    python tools/endround.py --assert-head

Steps, and what each one guards:

  1. sf0.01 oracle gate -> CHECK_full_rNN.json. tools/check.py runs
     every registered query against its DuckDB oracle: row count,
     columns and an order-insensitive value hash, the comparison the
     driver's correctness gate makes.
  2. Bench sweep -> BENCH_full_latest.json. bench.py times each query
     at sf0.1 and reads its execution record from Spark's status
     stores. The sweep must time every name with a record, and
     bench.red_flags must find nothing in the records: no row-at-a-time
     Python UDF, no stray CartesianProduct.
  3. sf0.1 oracle gate -> CHECK_sf01_rNN.json. The same comparison at
     sf0.1, where scale defects show that sf0.01 hides: ANN dials
     decaying below their recall floors, a fixed candidate budget, a
     1-ulp percentile divergence were all found this way.
  4. A/B anchor -> ABA_latest.json (full pass only). The sweep's movers
     against the previous CHECK_full artifact's head are judged by
     tools/ab.py's interleaved old/new pairs. Sweeps from different
     windows drift up to ±40% on this code, so a ratio only nominates.
  5. Recall smoke (full pass only). tools/recall_smoke.py holds the
     auto ANN dials' recall against brute force at sf0.1 and sf1.

Steps 1 and 3 each write one artifact through _regate, and every step
reports its failures and coverage shortfall; any of them exits 1. A
step whose JVM dies (tools/check.py and bench.py exit bench.JVM_LOST)
reports "JVM lost at <name>" and merges no rows into its artifact.

Each artifact records the git head its rows were certified at and,
for each GUARDED path that differed from that head when it was
written, the path's blob id (None for a deleted path), so an artifact
re-gated before its change is committed still certifies the committed
tree. Its stale names are those defined in the import closure of the
package files changed since that head, working tree included, less the
paths whose blob still matches the recorded one. The stale set is
unbounded, meaning the whole registry, when the head is missing, git
fails, a changed path is outside the package graph, or the artifact's
producer changed (tools/check.py for the CHECK artifacts, bench.py for
the bench). A full pass re-runs the whole registry in every step.
--delta re-runs only missing and stale names and skips steps 4 and 5.

--assert-head passes only when nothing under GUARDED changed since the
newest CHECK_full artifact's head, so a commit that can move a result
cannot ship under a certificate from before it.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402
from bench import JVM_LOST, red_flags  # noqa: E402
from listenbrainz_server_spark.queries import load_all  # noqa: E402

PKG = "listenbrainz_server_spark"
CHECK_PY, BENCH_PY = "tools/check.py", "bench.py"
PRODUCERS = (CHECK_PY, BENCH_PY)
# The paths whose change can move a committed result.
GUARDED = (PKG, "__spark_entry__.py", *PRODUCERS)
TESTDATA = os.path.dirname(SMOKE_SF_DIR)
BENCH = os.path.join(REPO, "BENCH_full_latest.json")
ABA = os.path.join(REPO, "ABA_latest.json")
ABA_MAX_MOVERS = 20


def _package_import_graph() -> dict[str, set[str]]:
    """Repo-relative listenbrainz_server_spark/**/*.py file -> the
    package files it imports from. An AST walk, so function-body
    imports count too; absolute and relative forms; `from pkg import
    submod` resolved; every ancestor package __init__ is an edge,
    because importing a.b.c executes a/__init__ and a/b/__init__.

    Query modules import shared modules (operators/, functions/,
    plans/, catalog.py), so a changed shared file must stale the names
    of every module that reaches it. Nothing in the package registers a
    temp view or UDF by name, and no query module looks another up by
    name or imports a sibling, so the static graph is sound and a
    changed query module stales only its own names; a changed path
    outside the graph makes the stale set unbounded.
    """
    import ast

    files: set[str] = set()
    for dirpath, _dirs, fns in os.walk(os.path.join(REPO, PKG)):
        for fn in fns:
            if fn.endswith(".py"):
                files.add(os.path.relpath(os.path.join(dirpath, fn), REPO))

    def mod_to_file(parts: list[str]) -> str | None:
        for cand in ("/".join(parts) + ".py", "/".join(parts) + "/__init__.py"):
            if cand in files:
                return cand
        return None

    def module_level_imports(stmts):
        for st in stmts:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
                continue
            if isinstance(st, (ast.Import, ast.ImportFrom)):
                yield st
            for field in ("body", "orelse", "finalbody"):
                yield from module_level_imports(getattr(st, field, None) or [])
            for h in getattr(st, "handlers", None) or []:
                yield from module_level_imports(h.body)

    graph: dict[str, set[str]] = {}
    for rel in sorted(files):
        edges: set[str] = set()
        graph[rel] = edges
        try:
            with open(os.path.join(REPO, rel)) as f:
                tree = ast.parse(f.read())
        except (OSError, SyntaxError):
            continue  # still maps to its own names; the import fails loudly
        dir_parts = rel.split("/")[:-1]
        if rel.endswith("/__init__.py"):
            # Only module-level imports: they re-export package surface
            # (root __init__ re-exports session.get_session). The
            # function-body imports of queries/__init__'s load_all are
            # registration plumbing; as edges they would close every
            # query module into one cycle with __init__ (each imports
            # `register` from it) and stale the whole registry for any
            # query-module change.
            nodes = list(module_level_imports(tree.body))
        else:
            nodes = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.Import, ast.ImportFrom))]

        def add_module(parts: list[str]) -> None:
            for i in range(1, len(parts) + 1):  # itself and each ancestor
                f = mod_to_file(parts[:i])
                if f and f != rel:
                    edges.add(f)

        for node in nodes:
            if isinstance(node, ast.ImportFrom):
                if node.level:  # relative: from .text import X
                    if node.level - 1 > len(dir_parts):
                        continue
                    base = dir_parts[:len(dir_parts) - (node.level - 1)]
                    parts = base + (node.module.split(".") if node.module else [])
                else:
                    parts = node.module.split(".") if node.module else []
                if not parts or parts[0] != PKG:
                    continue
                add_module(parts)
                for alias in node.names:  # `from X import submodule`
                    sub = mod_to_file(parts + [alias.name])
                    if sub and sub != rel:
                        edges.add(sub)
            else:
                for alias in node.names:
                    parts = alias.name.split(".")
                    if parts[0] == PKG:
                        add_module(parts)
    return graph


def _expand_query_deps(changed: set[str], deps: dict[str, set[str]]) -> set[str]:
    """Close `changed` over reverse dependencies: if A imports from B
    and B changed, A is changed too, transitively. Paths outside `deps`
    pass through untouched."""
    rev: dict[str, set[str]] = {}
    for f, ms in deps.items():
        for m in ms:
            rev.setdefault(m, set()).add(f)
    expanded, frontier = set(changed), set(changed)
    while frontier:
        frontier = {d for f in frontier for d in rev.get(f, ())} - expanded
        expanded |= frontier
    return expanded


def _git(*args: str) -> str | None:
    r = subprocess.run(["git", *args], cwd=REPO, capture_output=True, text=True)
    return r.stdout if r.returncode == 0 else None


def _git_head() -> str | None:
    out = _git("rev-parse", "HEAD")
    return out.strip() if out else None


def _blobs(paths) -> dict[str, str | None]:
    """The blob id of each path in the working tree; None if it is gone."""
    present = sorted(p for p in paths if os.path.isfile(os.path.join(REPO, p)))
    out = _git("hash-object", "--", *present) if present else ""
    ids = dict(zip(present, (out or "").split()))
    return {p: ids.get(p) for p in paths}


def _changed_since(head: str, blobs: dict | None = None) -> set[str] | None:
    """GUARDED paths changed since `head`: committed, in the working
    tree or untracked, less those whose blob still matches the one in
    `blobs`, an artifact's record of the tree it certified. None on a
    git error."""
    diff = _git("diff", "--name-only", head, "--", *GUARDED)
    new = _git("ls-files", "--others", "--exclude-standard", "--", *GUARDED)
    if diff is None or new is None:
        return None
    changed = set(diff.split()) | set(new.split())
    recorded = {p: b for p, b in (blobs or {}).items() if p in changed}
    if recorded:
        now = _blobs(recorded)
        changed -= {p for p, b in recorded.items() if now[p] == b}
    return changed


def _stamp() -> dict:
    """The certificate an artifact carries: HEAD and the blob of each
    GUARDED path that differs from it."""
    head = _git_head()
    changed = _changed_since(head) if head else None
    return {"git_head": head, "git_blobs": _blobs(sorted(changed or ()))}


def _stale_names(registry, prior: dict, producer: str | None) -> set[str] | None:
    """Names whose results may have moved since the tree the `prior`
    artifact certified; None means unbounded, the whole registry.
    `producer` is the tool that wrote the artifact: its change is
    unbounded, the other producers' changes move nothing here. None
    excludes both, as for A/B legs, which run this tree's bench.py on
    both sides."""
    import inspect

    head = prior.get("git_head")
    changed = _changed_since(head, prior.get("git_blobs")) if head else None
    if changed is None:
        return None
    changed -= set(PRODUCERS) - {producer}
    if not changed:
        return set()
    graph = _package_import_graph()
    unbounded = changed - set(graph)
    if unbounded:
        print(f"  stale since {head[:10]}: whole registry ({sorted(unbounded)[:3]} changed)")
        return None
    changed = _expand_query_deps(changed, graph)
    stale = set()
    for name, q in registry.items():
        try:
            src = os.path.relpath(inspect.getsourcefile(q.fn), REPO)
        except TypeError:
            return None
        if src in changed:
            stale.add(name)
    print(f"  stale since {head[:10]}: {len(stale)} names "
          f"(import closure of {len(changed)} files)")
    return stale


def _load(path: str | None) -> dict:
    if not path or not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)


def _series(prefix: str) -> list[str]:
    """The artifacts named prefix<number>.json, oldest first."""
    return sorted(glob.glob(glob.escape(prefix) + "*.json"))


def _to_run(registry, prior: dict, producer: str, delta: bool) -> list[str] | None:
    """The names an artifact must re-run, or None for the whole
    registry: everything on a full pass or an unbounded stale set, else
    the names missing from its rows plus the stale ones."""
    if not delta:
        return None
    stale = _stale_names(registry, prior, producer)
    if stale is None:
        return None
    return sorted((set(registry) - set(prior.get("queries", {}))) | stale)


def _check(sf_dir: str, names: list[str] | None) -> dict[str, dict]:
    """tools/check.py's verdicts for `names` (None: all) at `sf_dir`."""
    import tempfile

    fd, tmp = tempfile.mkstemp(suffix=".json")
    os.close(fd)
    try:
        r = subprocess.run([sys.executable, os.path.join(REPO, CHECK_PY),
                            sf_dir, *(names or []), "--json", tmp], cwd=REPO)
        out = _load(tmp) if os.path.getsize(tmp) else {}
    finally:
        os.remove(tmp)
    if r.returncode == JVM_LOST:
        raise RuntimeError(f"JVM lost at {out.get('jvm_lost')}")
    verdicts = out.get("queries")
    if verdicts is None:
        raise RuntimeError(f"{CHECK_PY} exited {r.returncode} with no verdicts")
    return verdicts


def _regate(sf_dir: str, out_path: str, names: list[str] | None, registry) -> list[str]:
    """Re-gate `names` (None: the whole registry) at `sf_dir`, merge the
    verdicts over the rows of the newest artifact in out_path's series,
    stamp the tree and write out_path. Returns the failures and the
    coverage shortfall."""
    label = os.path.basename(out_path)
    series = _series(re.sub(r"\d+\.json$", "", out_path))
    rows = _load(series[-1] if series else None).get("queries", {})
    if names is None or names:
        print(f"  {label}: re-gating {len(names) if names else 'all'} names at {sf_dir}")
        try:
            rows = {**rows, **_check(sf_dir, names)}
        except RuntimeError as e:
            return [f"{label}: {e}"]
    else:
        print(f"  {label}: nothing missing or stale")
    rows = {n: v for n, v in rows.items() if n in registry}
    by = {s: sorted(n for n, v in rows.items() if v.get("status") == s)
          for s in ("pass", "fail", "rows_only")}
    with open(out_path, "w") as f:
        json.dump({"queries": rows, "n_pass": len(by["pass"]),
                   "n_fail": len(by["fail"]), "n_rows_only": len(by["rows_only"]),
                   "n_registry": len(registry), "sf_dir": sf_dir,
                   **_stamp()}, f, indent=1, sort_keys=True)
    errs = []
    if by["fail"]:
        errs.append(f"{label}: {len(by['fail'])} oracle failures {by['fail'][:10]}")
    if len(rows) != len(registry):
        errs.append(f"{label} covers {len(rows)}/{len(registry)}")
    return errs


def run_bench(registry, delta: bool) -> list[str]:
    """Step 2: sweep the names the bench artifact needs, stamp the tree
    on it and check its coverage, records and red flags."""
    names = _to_run(registry, _load(BENCH), BENCH_PY, delta)
    if names is None or names:
        args = ["--all"] if names is None else ["--only", ",".join(names)]
        print(f"  bench.py {args[0]} ({len(names) if names else 'all'} names)")
        r = subprocess.run([sys.executable, os.path.join(REPO, BENCH_PY), *args],
                           cwd=REPO, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(r.stdout)
        if r.returncode == JVM_LOST:  # its last line names the query
            return [r.stdout.strip().splitlines()[-1]]
        if r.returncode:
            return [f"bench.py exited {r.returncode}"]
    else:
        print("  bench: nothing missing or stale")
    bench = _load(BENCH)
    bench.update(_stamp())
    with open(BENCH, "w") as f:
        json.dump(bench, f, indent=1)
    timed = set(bench.get("queries", {}))
    errs = []
    if len(timed | set(bench.get("errors", {}))) != len(registry):
        errs.append(f"BENCH_full covers {len(timed)}/{len(registry)}")
    if bench.get("errors"):
        errs.append(f"BENCH_full errors: {sorted(bench['errors'])}")
    records = bench.get("records", {})
    if timed - set(records):
        errs.append(f"BENCH_full has no record for {sorted(timed - set(records))}")
    return errs + [f"red flag: {f}" for f in red_flags(records)]


def _prior_timings(old_head: str) -> dict[str, float]:
    """The per-query seconds of the sweep committed at `old_head`."""
    out = _git("show", f"{old_head}:BENCH_full_latest.json")
    return json.loads(out).get("queries", {}) if out else {}


def _judge_movers(aba: dict, check_path: str, registry, threshold: float) -> str | None:
    """Fill `aba` with the movers' verdicts, or a note saying why there
    are none. Returns an error string or None."""
    import math

    import ab

    older = [p for p in _series(os.path.join(REPO, "CHECK_full_r")) if p < check_path]
    old_head = _load(older[-1]).get("git_head") if older else None
    if not old_head:
        aba["note"] = f"no CHECK_full artifact before {os.path.basename(check_path)} has a git_head"
        return None
    prior = _prior_timings(old_head)
    aba.update(old_head=old_head, prior_artifact=f"BENCH_full_latest.json@{old_head[:10]}")
    if not prior:
        aba["note"] = f"no sweep committed at {old_head[:10]}"
        return None
    cur = _load(BENCH).get("queries", {})
    # Sub-half-second ratios are scheduler noise and move no total.
    ratios = {n: cur[n] / p for n, p in prior.items()
              if cur.get(n) and p > 0 and max(cur[n], p) >= 0.5}
    ratio_movers = sorted(
        (n for n, r in ratios.items() if r > threshold or r < 1 / threshold),
        key=lambda n: abs(math.log(ratios[n])), reverse=True)[:10]
    # Touched names: a ratio is what a drifted window poisons, so names
    # whose code changed are judged too, the slowest first.
    touched = _stale_names(registry, {"git_head": old_head}, None)
    touched = sorted((n for n in (set(registry) if touched is None else touched)
                      if n in cur and n not in ratio_movers),
                     key=lambda n: cur[n], reverse=True)
    candidates = ratio_movers + touched
    movers = candidates[:ABA_MAX_MOVERS]
    if candidates[ABA_MAX_MOVERS:]:
        aba["movers_capped"] = {"cap": ABA_MAX_MOVERS,
                                "n_dropped": len(candidates) - ABA_MAX_MOVERS,
                                "dropped_head": candidates[ABA_MAX_MOVERS:][:10]}
    if not movers:
        aba["note"] = f"no movers beyond {threshold}x and no touched names in the sweep"
        return None
    print(f"  movers ({len(ratio_movers)} by ratio, "
          f"{len(movers) - len(ratio_movers)} touched): {movers}")
    try:
        result = ab.compare(old_head, movers, pairs=3)
    except (RuntimeError, OSError) as e:
        return f"A/B legs failed: {e}"
    aba["pairs"] = result["pairs"]
    for n in movers:
        aba["movers"][n] = {
            "prior_round": prior.get(n), "this_sweep": cur[n],
            "sweep_ratio": round(ratios[n], 3) if n in ratios else None,
            **({} if n in ratios else {"selected_by": "touched"}),
            **result["queries"][n],
        }
    n_conf = sum(1 for m in aba["movers"].values() if m["ab_confirmed"])
    print(f"  {n_conf}/{len(movers)} movers confirmed by {result['pairs']} pairs")
    return None


def run_aba(rnd: int, check_path: str, registry, threshold: float = 1.3) -> str | None:
    """Step 4: judge the sweep's movers and write ABA_latest.json, which
    bench.py's headline mode attaches to its output."""
    import time

    aba = {"round": rnd, "git_head": _git_head(), "threshold": threshold,
           "generated": time.strftime("%Y-%m-%dT%H:%M:%S"), "movers": {}}
    err = _judge_movers(aba, check_path, registry, threshold)
    if "note" in aba:
        print(f"  {aba['note']}")
    with open(ABA, "w") as f:
        json.dump(aba, f, indent=1, sort_keys=True)
    return err


def assert_head() -> int:
    """Pass only when no GUARDED path changed since the newest
    CHECK_full artifact's certified tree; doc-only commits stay legal."""
    paths = _series(os.path.join(REPO, "CHECK_full_r"))
    prior = _load(paths[-1]) if paths else {}
    head = prior.get("git_head")
    if not head:
        print("ASSERT-HEAD FAIL: no CHECK_full_r*.json with a git_head")
        return 1
    name = os.path.basename(paths[-1])
    changed = _changed_since(head, prior.get("git_blobs"))
    if changed is None:
        print(f"ASSERT-HEAD FAIL: git diff against {head[:10]} failed")
        return 1
    if changed:
        print(f"ASSERT-HEAD FAIL: changed since {name} ({head[:10]}): "
              f"{sorted(changed)}; re-run tools/endround.py N --delta")
        return 1
    print(f"ASSERT-HEAD OK: nothing under {', '.join(GUARDED)} changed "
          f"since {name} ({head[:10]})")
    return 0


def main() -> int:
    argv = sys.argv[1:]
    if "--assert-head" in argv:
        return assert_head()
    delta = "--delta" in argv
    args = [a for a in argv if a != "--delta"]
    rnd = int(args[0]) if args else 0
    registry = load_all()
    print(f"registry: {len(registry)} queries")
    check_path = os.path.join(REPO, f"CHECK_full_r{rnd:02d}.json")

    def gate(prefix: str, sf: str) -> list[str]:
        series = _series(os.path.join(REPO, prefix))
        prior = _load(series[-1] if series else None)
        return _regate(os.path.join(TESTDATA, sf),
                       os.path.join(REPO, f"{prefix}{rnd:02d}.json"),
                       _to_run(registry, prior, CHECK_PY, delta), registry)

    print("== sf0.01 oracle gate")
    failures = gate("CHECK_full_r", "sf0.01")
    print("== bench sweep")
    failures += run_bench(registry, delta)
    print("== sf0.1 oracle gate")
    failures += gate("CHECK_sf01_r", "sf0.1")
    if not delta:
        print("== A/B anchor")
        err = run_aba(rnd, check_path, registry)
        if err:
            failures.append(f"aba: {err}")
        print("== recall smoke")
        r = subprocess.run([sys.executable, os.path.join(REPO, "tools/recall_smoke.py")],
                           cwd=REPO)
        if r.returncode:
            failures.append(f"recall smoke exited {r.returncode}")
    if failures:
        print("ENDROUND FAIL:")
        for x in failures:
            print(" -", x)
        return 1
    print(f"ENDROUND OK: {len(registry)} queries covered by "
          f"{os.path.basename(check_path)}, CHECK_sf01_r{rnd:02d}.json and "
          "BENCH_full_latest.json (records, no red flags)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
