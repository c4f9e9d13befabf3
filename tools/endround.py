"""End-of-round artifact gate (VERDICT r5 #1): regenerate the at-head
artifacts and REFUSE to pass unless each covers every registered
query.

    python tools/endround.py [round_number] [--delta]

Runs, in order:
  1. tools/check.py --json CHECK_full_r{N}.json  (full oracle gate,
     sf0.01) — fails on any oracle mismatch;
  2. bench.py --all  (sf0.1) → BENCH_full_latest.json, heavies
     median-of-3 with per-run samples, plus each query's execution
     record (jobs, stages, shuffle and spill bytes, executed plan-node
     counts) read from Spark's status stores;
  3. the STANDING sf0.1 value gate (VERDICT r13 #2) — re-runs at
     sf0.1 every name staled since the newest committed CHECK_sf01
     artifact (plus missing names), merging into CHECK_sf01_r{N}.json
     stamped at ONE head. Staleness is the import-closure of the
     changed files over the whole-package AST graph (r14): a leaf
     operators/ change re-gates exactly its dependent query names;
     catalog/session/__init__ changes reach ~everything and re-gate
     ~the full registry; an unmapped path still forces the full
     sweep (deferred with a printed notice on --delta). rc-enforced —
     the r13 one-time sweep found 4 scale defects invisible at every
     sf0.01 gate;
  4. (full pass only) the A/B anchor — the sweep's movers (>1.3x vs
     the prior round, plus names whose code changed since its head,
     capped at 20) run as 3 interleaved old/new pairs against the prior
     round's snapshot through tools/ab.py, each stamped improved,
     regressed or unconfirmed by its both-direction rule →
     ABA_latest.json, and
  5. (full pass only) tools/recall_smoke.py — auto ANN-dial recall vs
     brute force at sf0.1 + sf1, rc-enforced (VERDICT r12 #2).

Then asserts that CHECK_full and BENCH_full cover the registry, that
every benched query has an execution record, and that bench.red_flags
finds no row-at-a-time Python UDF or stray CartesianProduct in those
records; it exits non-zero on any shortfall — the artifact-drift
failure mode of rounds 3-5 (BENCH_full missing final-commit queries,
CHECK_full never committed) becomes a hard error instead of a memory.

--delta certifies coverage AND (since r9) staleness: besides names
MISSING from the committed artifacts, the oracle gate re-runs every
query whose defining module changed since the prior artifact's
recorded git head (advisor r8: carrying prior CHECK results forward
verbatim re-certified potential regressions). Since r14 the staleness
set is the import-closure over the whole-package AST graph
(_package_import_graph), so a shared operator/helper change re-gates
its actual dependents; only a path the graph cannot map (deleted
module, non-Python file) falls back to a FULL check pass. The round
should still END with one FULL pass (no --delta); the driver's own
CORRECTNESS gate also re-runs a sweep per round.

--delta (VERDICT r7 #1, the structural fix): instead of the full
~15 min sweep, compute the set of registered names MISSING from each
committed artifact and run check/bench for just those, merging
into the artifacts (CHECK_full_r{N}.json starts from the newest
committed CHECK_full; bench.py --only merges its timings and records
natively). The coverage assertions at the end are identical to
the full path, and tests/test_artifacts.py keeps the suite red until
this has run — so registering a query and running `endround.py N
--delta` before its commit is cheap enough to be the per-registration
norm, which is what makes the invariant structural rather than
remembered.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import red_flags  # noqa: E402
from listenbrainz_server_spark.queries import load_all  # noqa: E402


def _package_import_graph() -> dict[str, set[str]]:
    """Repo-relative listenbrainz_server_spark/**/*.py file -> the
    package files it imports from (AST walk, so function-body imports
    count too; absolute and relative forms; `from pkg import submod`
    resolved; every ancestor package __init__ is an edge because
    importing a.b.c executes a/__init__ and a/b/__init__ too).

    Exists because behavior flows across module boundaries in both
    directions the gate must see: query modules import from each
    other (dedup.py / extras.py use text.py's _QUALITY_EXPR,
    handlers4.py uses ml.py's user_cosine_pairs, api_variants.py uses
    handlers4's _COSINE_PAIRS_SQL) and from shared modules
    (operators/, functions/, catalog.py). Without the graph a change
    to text.py would re-gate only text's own names (silent
    under-run), and a change to ONE leaf operator module would force
    the FULL 294-name sf0.1 sweep (~20 min) instead of its actual
    dependents. There is no dynamic import / string-keyed UDF
    registration in the package (checked: nothing registers a temp
    view or UDF by name, and every consumer imports catalog
    directly), so the static graph is sound; any
    changed path NOT in the graph still forces the conservative full
    pass in _stale_names.
    """
    import ast

    root = "listenbrainz_server_spark"
    files: set[str] = set()
    for dirpath, _dirs, fns in os.walk(os.path.join(REPO, root)):
        for fn in fns:
            if fn.endswith(".py"):
                files.add(os.path.relpath(os.path.join(dirpath, fn), REPO))

    def mod_to_file(parts: list[str]) -> str | None:
        cand = "/".join(parts) + ".py"
        if cand in files:
            return cand
        cand = "/".join(parts) + "/__init__.py"
        if cand in files:
            return cand
        return None

    graph: dict[str, set[str]] = {}
    for rel in sorted(files):
        edges: set[str] = set()
        try:
            with open(os.path.join(REPO, rel)) as f:
                tree = ast.parse(f.read())
        except (OSError, SyntaxError):
            # Unparseable module: no edges recorded; a change to it
            # still maps to its own names via file_to_names, and its
            # syntax error would fail the suite/import anyway.
            graph[rel] = edges
            continue
        dir_parts = rel.split("/")[:-1]

        if rel.endswith("/__init__.py"):
            # Package __init__: only MODULE-LEVEL imports are edges.
            # A module-level import there re-exports names as part of
            # the package surface (root __init__ re-exports
            # session.get_session) — a real dependency. A
            # function-body import (queries/__init__'s load_all
            # aggregator) is lazy registration plumbing; keeping it
            # as an edge would close the whole queries package into
            # one cycle (every module imports `register` from
            # __init__, __init__ imports every module) and collapse
            # the bounded stale-set back to the full registry for ANY
            # query-module change.
            def _iter_import_nodes(stmts):
                for st in stmts:
                    if isinstance(st, (ast.FunctionDef,
                                       ast.AsyncFunctionDef,
                                       ast.ClassDef)):
                        continue
                    if isinstance(st, (ast.Import, ast.ImportFrom)):
                        yield st
                    for field in ("body", "orelse", "finalbody",
                                  "handlers"):
                        sub = getattr(st, field, None)
                        if sub:
                            if field == "handlers":
                                for h in sub:
                                    yield from _iter_import_nodes(h.body)
                            else:
                                yield from _iter_import_nodes(sub)

            nodes = list(_iter_import_nodes(tree.body))
        else:
            nodes = [n for n in ast.walk(tree)
                     if isinstance(n, (ast.Import, ast.ImportFrom))]

        def add_module(parts: list[str]) -> None:
            # the module itself plus every ancestor package __init__
            for i in range(1, len(parts) + 1):
                f = mod_to_file(parts[:i])
                if f and f != rel:
                    edges.add(f)

        for node in nodes:
            if isinstance(node, ast.ImportFrom):
                if node.level:  # relative: from .text import X
                    if node.level - 1 > len(dir_parts):
                        continue
                    base = dir_parts[:len(dir_parts) - (node.level - 1)]
                    parts = base + (node.module.split(".")
                                    if node.module else [])
                else:
                    parts = node.module.split(".") if node.module else []
                if not parts or parts[0] != root:
                    continue
                add_module(parts)
                for alias in node.names:
                    # `from X import name` where name is a submodule
                    sub = mod_to_file(parts + [alias.name])
                    if sub and sub != rel:
                        edges.add(sub)
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    parts = alias.name.split(".")
                    if parts[0] != root:
                        continue
                    add_module(parts)
        graph[rel] = edges
    return graph


def _query_module_deps() -> dict[str, set[str]]:
    """The queries-package restriction of _package_import_graph:
    queries/*.py -> the sibling query modules it imports from
    (package __init__s excluded — `from ...queries import register`
    is a package import, not a module edge)."""
    pkg = "listenbrainz_server_spark/queries"
    graph = _package_import_graph()
    return {
        f: {m for m in ms
            if m.startswith(pkg + "/") and not m.endswith("__init__.py")}
        for f, ms in graph.items()
        if f.startswith(pkg + "/") and not f.endswith("__init__.py")
    }


def _expand_query_deps(changed: set[str], deps: dict[str, set[str]]) -> set[str]:
    """Close `changed` over reverse dependencies: if A imports from B
    and B changed, A is changed too (transitively — api_variants ->
    handlers4 -> ml is a real two-hop chain). Non-queries paths pass
    through untouched (they hit the conservative full-pass branch in
    the caller)."""
    rev: dict[str, set[str]] = {}
    for f, ms in deps.items():
        for m in ms:
            rev.setdefault(m, set()).add(f)
    expanded = set(changed)
    frontier = set(changed)
    while frontier:
        nxt: set[str] = set()
        for f in frontier:
            for dependent in rev.get(f, ()):
                if dependent not in expanded:
                    expanded.add(dependent)
                    nxt.add(dependent)
        frontier = nxt
    return expanded


def _stale_names(registry, prior):
    """Names whose defining module changed (committed or working
    tree) since the prior artifact's recorded git head — closed over
    the package import graph, transitively: a change to text.py also
    stales the dedup/extras names that import its helpers, and a
    change to a leaf operators/ module stales exactly the names of
    the query modules that (transitively) import it, instead of
    forcing the full 294-name sweep. Truly shared modules (catalog,
    package __init__s) reach ~every query module through the graph
    and so stale ~the whole registry — same cost as before, now by
    measurement rather than assumption. Returns None to request a
    conservative FULL pass (unmapped/deleted path, unknown head, or
    an unmappable registration)."""
    import inspect

    head = prior.get("git_head")
    if not head:
        return None  # pre-r9 artifact: no baseline to diff against
    r = subprocess.run(
        ["git", "diff", "--name-only", head, "--",
         "listenbrainz_server_spark"],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.returncode != 0:
        return None
    changed = {ln.strip() for ln in r.stdout.splitlines() if ln.strip()}
    if not changed:
        return set()
    graph = _package_import_graph()
    unmapped = changed - set(graph)
    if unmapped:
        # Deleted module, non-Python file, … — can't bound the blast
        # radius statically.
        print(f"  stale-set: unmapped change {sorted(unmapped)[:3]} "
              "-> full pass")
        return None
    changed = _expand_query_deps(changed, graph)
    file_to_names: dict[str, set[str]] = {}
    for name, q in registry.items():
        try:
            f = os.path.relpath(inspect.getsourcefile(q.fn), REPO)
        except TypeError:
            return None
        file_to_names.setdefault(f, set()).add(name)
    stale: set[str] = set()
    for f in changed:
        stale |= file_to_names.get(f, set())
    n_mods = sum(1 for f in changed if f in file_to_names)
    print(f"  stale-set: {len(stale)} names across {n_mods} query "
          f"modules (import-closure of {len(changed)} changed/dependent "
          "files)")
    return stale


def _git_head():
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def _delta_steps(registry, check_path):
    """Build (label, thunk) steps that re-run check/bench for the
    registered names each committed artifact is missing PLUS the
    import-closure-staled names, then merge. A thunk returns an error
    string or None.

    BENCH_full_latest.json carries no git head of its own, and
    run_check advances the CHECK head before the bench thunk runs — so
    the staleness baseline for bench is the newest committed CHECK_full
    head CAPTURED HERE, before any thunk mutates it. Without this, a
    mid-round --delta that happened to be the round's last pass would
    leave bench rows and records reflecting pre-change code while CHECK
    claimed the new head (the r9 artifact-drift failure mode)."""
    import glob

    reg = set(registry)
    prior_check_paths = sorted(
        glob.glob(os.path.join(REPO, "CHECK_full_r*.json")))
    baseline_head = (json.load(open(prior_check_paths[-1])).get("git_head")
                     if prior_check_paths else None)

    def _baseline_stale():
        """Stale set vs the pre-delta baseline head; None = unknown."""
        if not baseline_head:
            return None
        return _stale_names(registry, {"git_head": baseline_head})

    def run_check():
        prior_paths = sorted(glob.glob(os.path.join(REPO, "CHECK_full_r*.json")))
        prior = json.load(open(prior_paths[-1])) if prior_paths else {"queries": {}}
        missing_set = reg - set(prior["queries"])
        stale = _stale_names(registry, prior)
        if stale is None:
            # Conservative: cannot bound the blast radius — full pass.
            print("  check delta: staleness unknown, running FULL check")
            tmp = check_path + ".delta"
            r = subprocess.run(
                [sys.executable, os.path.join(REPO, "tools/check.py"),
                 "/root/testdata/sf0.01", "--json", tmp],
                cwd=REPO,
            )
            if r.returncode != 0:
                return f"full check exited {r.returncode}"
            new = json.load(open(tmp))
            os.remove(tmp)
            json.dump({**new, "git_head": _git_head()},
                      open(check_path, "w"), indent=1, sort_keys=True)
            return None
        missing = sorted(missing_set | stale)
        if not missing:
            if os.path.abspath(prior_paths[-1]) != os.path.abspath(check_path):
                json.dump(prior, open(check_path, "w"), indent=1)
            print("  check: nothing missing or stale")
            return None
        print(f"  check delta (missing+stale): {missing}")
        tmp = check_path + ".delta"
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools/check.py"),
             "/root/testdata/sf0.01", *missing, "--json", tmp],
            cwd=REPO,
        )
        if r.returncode != 0:
            return f"delta check exited {r.returncode}"
        new = json.load(open(tmp))
        os.remove(tmp)
        merged_q = {**prior["queries"], **new["queries"]}
        by = lambda s: sum(1 for v in merged_q.values() if v.get("status") == s)
        json.dump(
            {**prior, "queries": merged_q, "n_pass": by("pass"),
             "n_fail": by("fail"), "n_rows_only": by("rows_only"),
             "n_registry": len(registry), "sf_dir": "/root/testdata/sf0.01",
             # Safe to advance: missing AND stale-since-prior-head names
             # were just re-run (working tree included in the diff).
             "git_head": _git_head()},
            open(check_path, "w"), indent=1, sort_keys=True,
        )
        return None

    def run_bench():
        path = os.path.join(REPO, "BENCH_full_latest.json")
        prior = json.load(open(path)) if os.path.exists(path) else {}
        covered = set(prior.get("queries", {})) | set(prior.get("errors", {}))
        stale = _baseline_stale()
        if stale is None:
            # Bench is advisory mid-round and a full --all re-run is
            # minutes of measurement; don't pay it on an unmappable
            # change — but say so, loudly, so a reader of the
            # artifact knows its numbers may predate the change. The
            # round-closing full pass re-measures everything.
            print("  bench delta: staleness unknown (unmappable "
                  "change) — numbers for changed code may be stale "
                  "until the round-closing full bench")
            stale = set()
        missing = sorted((reg - covered) | stale)
        if not missing:
            print("  bench: nothing missing or stale")
            return None
        print(f"  bench delta (missing+stale): {missing}")
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py"),
             "--only", ",".join(missing)],
            cwd=REPO,
        )
        return f"delta bench exited {r.returncode}" if r.returncode else None

    return [("oracle gate", run_check), ("full bench", run_bench)]


def run_sf01_gate(rnd: int, registry, conservative_full: bool = True) -> str | None:
    """Standing sf0.1 value gate (VERDICT r13 #2): the one-time r13
    sf0.1 sweep found FOUR real scale defects invisible at every
    sf0.01 gate (fixed ANN dials decaying below their recall floors,
    a fixed candidate budget, a 1-ulp percentile divergence) — so
    sf0.01-green is not evidence of sf0.1-green for changed code.
    This makes the gate structural: every endround re-gates at sf0.1
    any registered name whose defining module changed since the
    newest committed CHECK_sf01 artifact's recorded head, plus names
    that artifact is missing, and merges into a NEW artifact that is
    self-consistent at ONE head (VERDICT r13 #3: the r13 artifact
    mixed two heads and said n_registry: 293 with 294 rows).

    Staleness is bounded by the whole-package import graph (r14):
    shared-module changes re-gate their actual dependents. Only an
    UNMAPPABLE change (deleted module, non-Python path) falls back to
    the full-registry sf0.1 sweep (~20 min measured in r13); --delta
    passes defer that full sweep to the round-closing full pass
    (printed, not silent). Returns an error string or None.
    """
    import glob

    out_path = os.path.join(REPO, f"CHECK_sf01_r{rnd:02d}.json")
    sf_dir = "/root/testdata/sf0.1"
    reg = set(registry)
    prior_paths = sorted(glob.glob(os.path.join(REPO, "CHECK_sf01_r*.json")))
    prior = json.load(open(prior_paths[-1])) if prior_paths else {"queries": {}}
    prior_q = prior.get("queries", {})
    missing = reg - set(prior_q)
    stale = _stale_names(registry, prior)

    def _full():
        tmp = out_path + ".tmp"
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools/check.py"),
             sf_dir, "--json", tmp], cwd=REPO,
        )
        if r.returncode != 0:
            return f"full sf0.1 check exited {r.returncode}"
        new = json.load(open(tmp))
        os.remove(tmp)
        json.dump(
            {**new, "git_head": _git_head(), "n_registry": len(registry),
             "scope": "full registry at sf0.1 (standing gate, "
                      "VERDICT r13 #2; blast radius unbounded)"},
            open(out_path, "w"), indent=1, sort_keys=True,
        )
        return None

    if stale is None:
        if not conservative_full:
            print("  sf0.1 gate: unmappable change — deferring full "
                  "sf0.1 sweep to the round-closing full pass")
            return None
        print("  sf0.1 gate: staleness unbounded, running FULL sf0.1 sweep")
        return _full()
    names = sorted(missing | stale)
    if not names:
        # Nothing query-affecting changed since the prior artifact's
        # head — its rows are valid at the current head too; re-stamp
        # so the next diff is small and the artifact names ONE head.
        print("  sf0.1 gate: nothing missing or stale")
        json.dump(
            {**prior, "git_head": _git_head(), "n_registry": len(registry),
             "scope": f"carried from {os.path.basename(prior_paths[-1])}: "
                      "no query-defining module changed since its head"},
            open(out_path, "w"), indent=1, sort_keys=True,
        )
        return None
    print(f"  sf0.1 gate (missing+stale): {names}")
    tmp = out_path + ".tmp"
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools/check.py"),
         sf_dir, *names, "--json", tmp], cwd=REPO,
    )
    if r.returncode != 0:
        return f"sf0.1 delta check exited {r.returncode}"
    new = json.load(open(tmp))
    os.remove(tmp)
    merged_q = {**prior_q, **new["queries"]}
    by = lambda s: sum(1 for v in merged_q.values() if v.get("status") == s)
    json.dump(
        {"queries": merged_q, "n_pass": by("pass"), "n_fail": by("fail"),
         "n_rows_only": by("rows_only"), "n_registry": len(registry),
         "sf_dir": sf_dir, "git_head": _git_head(),
         "scope": f"standing sf0.1 delta gate (VERDICT r13 #2): re-ran "
                  f"{len(names)} missing/stale names since "
                  f"{os.path.basename(prior_paths[-1]) if prior_paths else 'scratch'}"
                  f", merged over its rows"},
        open(out_path, "w"), indent=1, sort_keys=True,
    )
    n_fail = by("fail")
    if n_fail:
        return f"sf0.1 gate has {n_fail} failures"
    if len(merged_q) != len(registry):
        return f"sf0.1 gate covers {len(merged_q)}/{len(registry)}"
    return None


def _prior_query_map(prior_bench: str, old_head: str):
    """Resolve the A-B-A anchor's prior per-query timings.

    BENCH_r{N}.json is the DRIVER's record of bench.py's run: the
    JSON line lives under "parsed" (with rc/tail wrapper fields);
    accept both that shape and a plain bench.py output. The driver
    artifact can also be unparseable (r13: the oversized headline
    line recorded parsed:null) — without a fallback the anchor
    silently compared against NOTHING and stamped "no movers", a
    vacuous adjudication wearing a real one's words (found in r14).
    Fall back to the prior round's committed full-sweep artifact AT
    ITS RECORDED HEAD: like-for-like sweep-vs-sweep conditions and
    all registry names instead of the ~40 headline ones.

    Returns (query_map, label) — label is None when the primary
    artifact supplied the data, and query_map is {} when neither
    source has per-query data (caller stamps an explicit
    "adjudication unavailable" note).
    """
    prior_raw = json.load(open(prior_bench))
    prior_parsed = prior_raw.get("parsed") or prior_raw
    prior_q = (prior_parsed.get("queries", {})
               if isinstance(prior_parsed, dict) else {})
    if prior_q:
        return prior_q, None
    r = subprocess.run(
        ["git", "show", f"{old_head}:BENCH_full_latest.json"],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.returncode == 0:
        try:
            fallback_q = json.loads(r.stdout).get("queries", {})
        except json.JSONDecodeError:
            fallback_q = {}
        if fallback_q:
            return fallback_q, (
                f"BENCH_full_latest.json@{old_head[:10]} "
                f"(fallback: {os.path.basename(prior_bench)} has no "
                "per-query data)")
    return {}, None


def run_aba(rnd: int, threshold: float = 1.3) -> str | None:
    """Interleaved A/B of the round's movers against the prior round's
    snapshot (the git_head recorded in CHECK_full_r{N-1}.json).
    Cross-window headline ratios carry up to ±40% drift (measured on
    a 4-core host), so a sweep ratio only nominates names; tools/ab.py
    judges them.

    Movers are the top-10 names whose full-sweep time moved beyond
    `threshold` vs the prior round's artifact, plus every registered
    name whose defining module changed since the prior round's head
    (the import-closure stale set), because the ratio signal is exactly
    what a drifted window poisons. The list is ranked (ratio movers by
    |log ratio|, then touched names by current sweep seconds) and
    capped at ABA_MAX_MOVERS=20; names dropped by the cap are stamped
    under "movers_capped". Each mover carries its per-pair `legs` and
    a both-direction `ab_confirmed` / `direction` verdict.

    Writes ABA_latest.json; bench.py's headline mode attaches its
    verdicts to the artifact of record. Returns an error string or None.
    """
    import math
    import time

    import ab

    out_path = os.path.join(REPO, "ABA_latest.json")
    base = {
        "round": rnd,
        "git_head": _git_head(),
        "generated": time.strftime("%Y-%m-%dT%H:%M:%S"),
        "threshold": threshold,
        "movers": {},
    }
    prior_bench = os.path.join(REPO, f"BENCH_r{rnd - 1:02d}.json")
    prior_check = os.path.join(REPO, f"CHECK_full_r{rnd - 1:02d}.json")
    if not os.path.exists(prior_bench) or not os.path.exists(prior_check):
        base["note"] = f"no prior-round artifacts for r{rnd - 1:02d}"
        json.dump(base, open(out_path, "w"), indent=1, sort_keys=True)
        return None
    old_head = json.load(open(prior_check)).get("git_head")
    if not old_head:
        base["note"] = f"CHECK_full_r{rnd - 1:02d}.json has no git_head"
        json.dump(base, open(out_path, "w"), indent=1, sort_keys=True)
        return None
    base["old_head"] = old_head
    base["prior_artifact"] = os.path.basename(prior_bench)

    prior_q, prior_label = _prior_query_map(prior_bench, old_head)
    if prior_label:
        base["prior_artifact"] = prior_label
    if not prior_q:
        base["note"] = (
            f"adjudication unavailable: {os.path.basename(prior_bench)} "
            f"has no per-query data and no committed sweep artifact at "
            f"{old_head[:10]}")
        json.dump(base, open(out_path, "w"), indent=1, sort_keys=True)
        print(f"  aba: {base['note']}")
        return None
    # The sweep step can fail (or be skipped): a missing or corrupt
    # BENCH_full_latest.json degrades to a stamped note, not an
    # uncaught exception that aborts endround before the head-stamp
    # and coverage assertions run.
    bench_path = os.path.join(REPO, "BENCH_full_latest.json")
    try:
        cur_q = json.load(open(bench_path)).get("queries", {})
    except (OSError, json.JSONDecodeError) as e:
        base["note"] = f"BENCH_full_latest.json unreadable: {e}"
        json.dump(base, open(out_path, "w"), indent=1, sort_keys=True)
        return f"aba: {base['note']}"
    # Mover eligibility floor: sub-half-second queries' ratios are
    # scheduler/JIT noise (a 0.19 s vs 0.25 s "mover" adjudicates
    # nothing) and they cannot move the headline total materially.
    ratios = {
        n: cur_q[n] / p
        for n, p in prior_q.items()
        if cur_q.get(n) and p > 0 and max(cur_q[n], p) >= 0.5
    }
    ratio_movers = sorted(
        (n for n, r in ratios.items() if r > threshold or r < 1 / threshold),
        key=lambda n: abs(math.log(ratios[n])),
        reverse=True,
    )[:10]
    # Round-touched names: the stale set is the import-closure of the
    # diff vs the prior round's head, ranked by current sweep seconds
    # so the cap keeps the names whose verdict moves the most seconds.
    registry = load_all()
    touched = _stale_names(registry, {"git_head": old_head})
    if touched is None:
        touched = set()
        base["touched_unmappable"] = True
    touched = [n for n in touched if n in cur_q and n not in ratio_movers]
    touched.sort(key=lambda n: cur_q[n], reverse=True)
    ABA_MAX_MOVERS = 20
    movers = (ratio_movers + touched)[:ABA_MAX_MOVERS]
    dropped = (ratio_movers + touched)[ABA_MAX_MOVERS:]
    if dropped:
        base["movers_capped"] = {
            "cap": ABA_MAX_MOVERS,
            "n_dropped": len(dropped),
            "dropped_head": dropped[:10],
        }
    if not movers:
        base["note"] = (
            f"no headline movers beyond {threshold}x vs prior round "
            "and no round-touched names in the sweep"
        )
        json.dump(base, open(out_path, "w"), indent=1, sort_keys=True)
        print(f"  aba: no movers beyond {threshold}x — nothing to adjudicate")
        return None
    print(f"  aba movers ({len(ratio_movers)} ratio + "
          f"{len(movers) - len(ratio_movers)} touched): {movers}")

    try:
        result = ab.compare(old_head, movers, pairs=3)
    except (RuntimeError, OSError) as e:
        return f"A/B legs failed: {e}"
    base["pairs"] = result["pairs"]
    for n in movers:
        m = {
            "prior_round": prior_q.get(n),
            "this_sweep": cur_q[n],
            "sweep_ratio": round(ratios[n], 3) if n in ratios else None,
            **result["queries"][n],
        }
        if n not in ratios:
            m["selected_by"] = "round-touched"
        base["movers"][n] = m
    json.dump(base, open(out_path, "w"), indent=1, sort_keys=True)
    n_conf = sum(1 for m in base["movers"].values() if m["ab_confirmed"])
    print(f"  aba: {n_conf}/{len(movers)} movers confirmed by "
          f"{result['pairs']} interleaved pairs")
    return None


def assert_head() -> int:
    """Round-closing invariant (VERDICT r9 #1 process fix): refuse to
    conclude a round if HEAD moved past the newest CHECK artifact's
    recorded git_head in any way that could change query results.

    The r9 failure mode: a post-endround "snapshot" commit amended a
    ``@register`` body, so the round ended with a green CHECK artifact
    generated one commit earlier that never saw the breakage. This
    check passes only when (a) a CHECK artifact exists with a recorded
    head, and (b) ``git diff <that head>..HEAD`` touches NOTHING under
    the query-affecting paths (package source, driver entry, bench,
    check tooling) AND the working tree is clean for those paths.
    Doc/markdown-only commits after endround stay legal.

        python tools/endround.py --assert-head
    """
    import glob

    paths = sorted(glob.glob(os.path.join(REPO, "CHECK_full_r*.json")))
    if not paths:
        print("ASSERT-HEAD FAIL: no CHECK_full_r*.json artifact")
        return 1
    newest = paths[-1]
    head = json.load(open(newest)).get("git_head")
    if not head:
        print(f"ASSERT-HEAD FAIL: {os.path.basename(newest)} has no git_head")
        return 1
    guarded = ["listenbrainz_server_spark", "__spark_entry__.py", "bench.py",
               "tools/check.py"]
    r = subprocess.run(
        ["git", "diff", "--name-only", head, "HEAD", "--", *guarded],
        cwd=REPO, capture_output=True, text=True,
    )
    if r.returncode != 0:
        print(f"ASSERT-HEAD FAIL: git diff vs {head[:10]} failed: {r.stderr}")
        return 1
    committed = sorted(ln for ln in r.stdout.splitlines() if ln.strip())
    w = subprocess.run(
        ["git", "status", "--porcelain", "--", *guarded],
        cwd=REPO, capture_output=True, text=True,
    )
    dirty = sorted(ln for ln in w.stdout.splitlines() if ln.strip())
    if committed or dirty:
        print(f"ASSERT-HEAD FAIL: query-affecting tree moved past "
              f"{os.path.basename(newest)} (git_head {head[:10]}):")
        for ln in committed:
            print("  committed:", ln)
        for ln in dirty:
            print("  working tree:", ln)
        print("re-run tools/endround.py (or --delta) before closing the round")
        return 1
    print(f"ASSERT-HEAD OK: HEAD matches {os.path.basename(newest)} "
          f"({head[:10]}) for {', '.join(guarded)}")
    return 0


def main() -> int:
    if "--assert-head" in sys.argv[1:]:
        return assert_head()
    args = [a for a in sys.argv[1:] if a != "--delta"]
    delta = "--delta" in sys.argv[1:]
    rnd = args[0] if args else "0"
    registry = load_all()
    n_reg = len(registry)
    print(f"registry: {n_reg} queries")
    check_path = os.path.join(REPO, f"CHECK_full_r{int(rnd):02d}.json")

    if delta:
        steps = _delta_steps(registry, check_path)
    else:
        steps = [
            (
                "oracle gate",
                [sys.executable, os.path.join(REPO, "tools/check.py"),
                 "/root/testdata/sf0.01", "--json", check_path],
            ),
            ("full bench", [sys.executable, os.path.join(REPO, "bench.py"), "--all"]),
        ]
    failures: list[str] = []
    for label, step in steps:
        if callable(step):
            print(f"== {label} (delta)")
            err = step()
            if err:
                failures.append(f"{label}: {err}")
            continue
        print(f"== {label}: {' '.join(os.path.basename(c) for c in step[1:])}")
        r = subprocess.run(step, cwd=REPO)
        if r.returncode != 0:
            failures.append(f"{label} exited {r.returncode}")

    # VERDICT r13 #2: the sf0.1 value gate is STANDING, not one-time —
    # every endround re-gates import-closure-staled names at sf0.1
    # (the r13 sweep found 4 scale defects invisible at sf0.01).
    # rc-enforced. On --delta an UNMAPPABLE change defers the full
    # sf0.1 sweep to the round-closing full pass instead of blocking
    # mid-round work.
    print("== sf0.1 value gate (standing)")
    err = run_sf01_gate(int(rnd), registry, conservative_full=not delta)
    if err:
        failures.append(f"sf0.1 gate: {err}")

    if not delta:
        # Judge the sweep's movers with interleaved A/B pairs against
        # the prior round's snapshot. Writes ABA_latest.json; bench.py's
        # headline mode attaches it to the artifact of record.
        print("== aba anchor: headline movers vs prior round")
        err = run_aba(int(rnd))
        if err:
            failures.append(f"aba: {err}")

        # VERDICT r12 #2: the recall smoke (auto ANN dials vs brute
        # force at sf0.1 + sf1) is a guard only if it RUNS — it exits
        # nonzero below the 0.45 floor / IVFPQ < 0.85x IVF, and
        # refreshes SCALING.json:auto_dial_recall every round.
        print("== recall smoke: tools/recall_smoke.py")
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools/recall_smoke.py")],
            cwd=REPO,
        )
        if r.returncode != 0:
            failures.append(f"recall smoke exited {r.returncode}")

    # Full-pass artifacts get the git head stamp too, so the next
    # --delta can diff staleness against it.
    if not delta and os.path.exists(check_path):
        with open(check_path) as f:
            _c = json.load(f)
        if "git_head" not in _c:
            _r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                                capture_output=True, text=True)
            if _r.returncode == 0:
                _c["git_head"] = _r.stdout.strip()
                json.dump(_c, open(check_path, "w"), indent=1, sort_keys=True)

    # Coverage assertions: every artifact must account for every name.
    with open(check_path) as f:
        check = json.load(f)
    n_check = len(check.get("queries", {}))
    if n_check != n_reg:
        failures.append(f"CHECK_full covers {n_check}/{n_reg}")
    if check.get("n_fail", 1) != 0:
        failures.append(f"CHECK_full has {check['n_fail']} oracle failures")

    with open(os.path.join(REPO, "BENCH_full_latest.json")) as f:
        bench = json.load(f)
    n_bench = len(bench.get("queries", {})) + len(bench.get("errors", {}))
    if n_bench != n_reg:
        failures.append(f"BENCH_full covers {n_bench}/{n_reg}")
    if bench.get("errors"):
        failures.append(f"BENCH_full errors: {sorted(bench['errors'])}")
    records = bench.get("records", {})
    unrecorded = sorted(set(bench.get("queries", {})) - set(records))
    if unrecorded:
        failures.append(f"BENCH_full has no record for {unrecorded}")
    failures += [f"red flag: {f}" for f in red_flags(records)]

    if failures:
        print("ENDROUND FAIL:")
        for x in failures:
            print(" -", x)
        return 1
    print(
        f"ENDROUND OK: {n_reg} queries covered by "
        f"{os.path.basename(check_path)} and BENCH_full_latest.json "
        f"(records, no red flags)"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
