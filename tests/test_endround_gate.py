"""The re-gate path of tools/endround.py: the changed-file -> stale-names
map of the staleness rule, the one CHECK artifact writer and the A/B
anchor's prior timings.

The stale set must not under-run. It is the import closure of the
changed files, so it is sound only while every dependency is an import:
nothing in the package registers a temp view or UDF by name, and no
query module looks another up by name or imports a sibling. What two
query modules share lives in functions/, operators/ or plans/, so a
one-module change re-gates only that module's names. These tests pin
that leaf rule, and that the package graph sees the shared edges and
closes over them transitively.

No Spark session is needed; only the prior-timings test reads git.
"""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import endround  # noqa: E402
from endround import _expand_query_deps, _package_import_graph  # noqa: E402

PKG = "listenbrainz_server_spark/queries"
ROOT = "listenbrainz_server_spark"
REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))


def _query_deps() -> dict[str, set[str]]:
    """The package graph restricted to query modules and their edges to
    sibling query modules (`from ...queries import register` is a
    package import, not a module edge)."""
    def is_mod(f):
        return f.startswith(PKG + "/") and not f.endswith("__init__.py")

    return {f: {m for m in ms if is_mod(m)}
            for f, ms in _package_import_graph().items() if is_mod(f)}


def test_dependency_map_covers_every_query_module():
    deps = _query_deps()
    pkg_dir = os.path.join(os.path.dirname(__file__), "..", PKG)
    expected = {
        f"{PKG}/{fn}" for fn in os.listdir(pkg_dir)
        if fn.endswith(".py") and fn != "__init__.py"
    }
    assert set(deps) == expected
    # `from listenbrainz_server_spark.queries import register` is a
    # PACKAGE import (__init__), not a module edge — it must not
    # self-link every module to a phantom queries.py.
    for f, ms in deps.items():
        assert f not in ms
        assert all(m.startswith(PKG + "/") for m in ms)


def test_expansion_is_transitive():
    deps = {
        "q/a.py": {"q/b.py"},   # a imports from b
        "q/b.py": {"q/c.py"},   # b imports from c
        "q/c.py": set(),
        "q/d.py": set(),
    }
    # c changed -> b (imports c) and a (imports b) are stale too.
    assert _expand_query_deps({"q/c.py"}, deps) == {
        "q/a.py", "q/b.py", "q/c.py",
    }
    # d changed -> nothing else depends on it.
    assert _expand_query_deps({"q/d.py"}, deps) == {"q/d.py"}
    # Leaf-only change propagates nowhere.
    assert _expand_query_deps({"q/a.py"}, deps) == {"q/a.py"}


def test_expansion_passes_non_query_files_through():
    deps = {"q/a.py": {"q/b.py"}, "q/b.py": set()}
    # An operators/ file is not in the map: it survives the expansion
    # unchanged, so the caller still sees it.
    out = _expand_query_deps(
        {"listenbrainz_server_spark/operators/joins.py"}, deps
    )
    assert out == {"listenbrainz_server_spark/operators/joins.py"}


def test_query_modules_are_leaves():
    """Each query module imports no sibling and looks no query up by
    name; plans/ reaches the registry only through _registered's
    load_all; so a one-module change re-gates that module's names and
    no others. No module holds more than 40 names."""
    import ast
    import inspect
    from collections import Counter

    from listenbrainz_server_spark.queries import load_all

    pkg = f"{ROOT}.queries"
    graph = _package_import_graph()
    mods = sorted(f for f in graph
                  if f.startswith(PKG + "/") and not f.endswith("__init__.py"))
    registry_api = {"register", "Query", "QueryFn"}
    for f in mods:
        tree = ast.parse(open(os.path.join(REPO, f)).read())
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                assert not node.level, f"{f}:{node.lineno} relative import"
                if node.module == pkg:
                    assert {a.name for a in node.names} <= registry_api, (
                        f"{f}:{node.lineno} imports {[a.name for a in node.names]}")
                else:
                    assert not (node.module or "").startswith(pkg + "."), (
                        f"{f}:{node.lineno} imports sibling {node.module}")
            elif isinstance(node, ast.Import):
                assert not any(a.name.startswith(pkg) for a in node.names), f
            elif isinstance(node, (ast.Name, ast.Attribute)):
                ident = node.id if isinstance(node, ast.Name) else node.attr
                assert ident not in ("load_all", "REGISTRY"), (
                    f"{f}:{node.lineno} looks a query up by name")
        closure = _expand_query_deps({f}, graph)
        assert closure & set(mods) == {f}, (f, sorted(closure & set(mods)))

    for f in sorted(graph):
        if not f.startswith(f"{ROOT}/plans/"):
            continue
        tree = ast.parse(open(os.path.join(REPO, f)).read())
        allowed = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "_registered":
                allowed |= {id(n) for n in ast.walk(fn)}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(pkg):
                assert id(node) in allowed and node.module == pkg and [
                    a.name for a in node.names] == ["load_all"], (
                    f"{f}:{node.lineno} imports {node.module}")
            elif isinstance(node, ast.Import):
                assert not any(a.name.startswith(pkg) for a in node.names), f

    per_module = Counter(os.path.relpath(inspect.getsourcefile(q.fn), REPO)
                         for q in load_all().values())
    assert max(per_module.values()) <= 40, per_module.most_common(3)
    assert set(per_module) == set(mods)


def test_package_graph_covers_every_module_and_known_shared_edges():
    graph = _package_import_graph()
    pkg_dir = os.path.join(os.path.dirname(__file__), "..", ROOT)
    expected = set()
    for dirpath, _dirs, fns in os.walk(pkg_dir):
        for fn in fns:
            if fn.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, fn),
                                      os.path.join(pkg_dir, ".."))
                expected.add(rel.replace(os.sep, "/"))
    assert set(graph) == expected
    # Shared-module edges the bounded stale-set depends on:
    assert f"{ROOT}/operators/similarity.py" in graph[f"{PKG}/similarity.py"]
    assert f"{ROOT}/catalog.py" in graph[f"{PKG}/relational.py"]
    # Importing a.b.c executes a/__init__ too — ancestor edges exist.
    assert f"{ROOT}/__init__.py" in graph[f"{PKG}/similarity.py"]
    # No self-edges anywhere.
    for f, ms in graph.items():
        assert f not in ms


def test_operator_change_stales_its_dependents_not_everything():
    """A leaf operators/ module change must reach the query modules
    that import it (directly or transitively) — and, for a genuinely
    narrow module, NOT the whole package."""
    graph = _package_import_graph()
    out = _expand_query_deps({f"{ROOT}/operators/similarity.py"}, graph)
    assert f"{PKG}/similarity.py" in out
    # tdigest is imported by a handful of modules, not everything:
    out_td = _expand_query_deps({f"{ROOT}/operators/tdigest.py"}, graph)
    assert {f"{PKG}/sketches.py", f"{PKG}/windows.py"} <= out_td
    assert len(out_td) < len(graph)


def test_init_aggregation_is_not_an_edge_but_reexport_is():
    """queries/__init__'s load_all imports every submodule INSIDE a
    function body — pure registration aggregation. If those counted
    as edges, every query module would sit in one import cycle with
    __init__ (they all import `register` from it) and ANY
    query-module change would stale the full registry, erasing the
    bounded gate. Module-level imports in an __init__ (root
    __init__'s session re-export) are real package surface and must
    stay edges."""
    graph = _package_import_graph()
    assert f"{PKG}/windows.py" not in graph[f"{PKG}/__init__.py"]
    assert f"{ROOT}/session.py" in graph[f"{ROOT}/__init__.py"]
    # The payoff: a windows.py-only change reaches no other query
    # module (nothing imports from queries.windows today).
    out = _expand_query_deps({f"{PKG}/windows.py"}, graph)
    assert out & {f for f in graph if f.startswith(PKG + "/")} == {
        f"{PKG}/windows.py"
    }
    # And every query module still depends ON __init__ (register) —
    # a change to __init__ stales everything, by measurement.
    rev_out = _expand_query_deps({f"{PKG}/__init__.py"}, graph)
    query_mods = {f for f in graph
                  if f.startswith(PKG + "/") and not f.endswith("__init__.py")}
    assert query_mods <= rev_out


def test_shared_module_change_reaches_nearly_every_query_module():
    """catalog.py is the load path for every table — the graph must
    route a change there to (nearly) all query modules, reproducing
    the old conservative full pass by measurement."""
    graph = _package_import_graph()
    out = _expand_query_deps({f"{ROOT}/catalog.py"}, graph)
    query_mods = {f for f in graph
                  if f.startswith(PKG + "/") and not f.endswith("__init__.py")}
    assert len(out & query_mods) >= int(0.9 * len(query_mods)), (
        sorted(query_mods - out)
    )


def test_prior_timings_read_the_sweep_committed_at_the_r15_head():
    """The A/B anchor's prior timings are the full sweep committed at
    the previous CHECK_full artifact's head."""
    with open(os.path.join(REPO, "CHECK_full_r15.json")) as f:
        old_head = json.load(f)["git_head"]
    assert len(endround._prior_timings(old_head)) >= 290


def test_registry_files_live_in_the_queries_package():
    """_stale_names maps git-diff paths to registered names via
    inspect.getsourcefile + os.path.relpath. That only works if every
    registered query is DEFINED in the queries package (same
    coordinate system as the git paths). A registration that moves
    elsewhere would silently fall out of the file_to_names map and
    its module's changes would stop staling it."""
    import inspect

    from listenbrainz_server_spark.queries import load_all

    registry = load_all()
    assert len(registry) >= 294
    for name, q in registry.items():
        src = inspect.getsourcefile(q.fn)
        rel = os.path.relpath(src, REPO)
        assert rel.startswith(PKG + "/"), (
            f"{name} defined outside the queries package ({rel}) — "
            "the sf0.1 gate's blast radius no longer covers it"
        )


def test_changed_producer_stales_its_own_artifacts_whole(monkeypatch):
    """tools/check.py certified every CHECK row, so its change re-gates
    the whole registry (None); it moves no bench number, and bench.py's
    change is unbounded for the bench only."""
    changed: set[str] = set()
    monkeypatch.setattr(endround, "_changed_since",
                        lambda head, blobs=None: set(changed))
    registry = {"q_a": None, "q_b": None}
    head = {"git_head": "0" * 40}
    changed.add("tools/check.py")
    assert endround._stale_names(registry, head, "tools/check.py") is None
    assert endround._stale_names(registry, head, "bench.py") == set()
    changed.add("bench.py")
    assert endround._stale_names(registry, head, "bench.py") is None
    # A/B legs run this tree's bench.py on both sides: neither counts.
    assert endround._stale_names(registry, head, None) == set()
    # An artifact without a head cannot be diffed: unbounded.
    assert endround._stale_names(registry, {}, "bench.py") is None
    assert set(endround.PRODUCERS) <= set(endround.GUARDED)


def test_regate_merges_over_the_newest_rows_and_stamps_head(tmp_path, monkeypatch):
    ok = {"status": "pass", "rows": 1}
    with open(tmp_path / "CHECK_x_r07.json", "w") as f:
        json.dump({"queries": {"q_old": ok, "q_keep": ok, "q_redo": ok,
                               "q_gone": ok}, "git_head": "a" * 40}, f)
    calls = []

    def fake_check(sf_dir, names):
        calls.append((sf_dir, names))
        return {"q_redo": {"status": "fail", "err": "hash mismatch"}}

    monkeypatch.setattr(endround, "_check", fake_check)
    monkeypatch.setattr(endround, "_git_head", lambda: "b" * 40)
    registry = {"q_old": 0, "q_keep": 0, "q_redo": 0, "q_new": 0}
    out = tmp_path / "CHECK_x_r08.json"
    errs = endround._regate("sfX", str(out), ["q_redo"], registry)
    assert calls == [("sfX", ["q_redo"])]
    art = json.loads(out.read_text())
    # Prior rows kept, the re-run name overwritten, unregistered dropped.
    assert art["queries"] == {"q_old": ok, "q_keep": ok,
                              "q_redo": {"status": "fail", "err": "hash mismatch"}}
    assert (art["n_pass"], art["n_fail"], art["n_rows_only"]) == (2, 1, 0)
    assert art["n_registry"] == 4 and art["sf_dir"] == "sfX"
    assert art["git_head"] == "b" * 40
    assert errs == ["CHECK_x_r08.json: 1 oracle failures ['q_redo']",
                    "CHECK_x_r08.json covers 3/4"]

    # Nothing to re-run: no check call, the newest rows re-stamped.
    monkeypatch.setattr(endround, "_git_head", lambda: "c" * 40)
    errs = endround._regate("sfX", str(out), [], {"q_old": 0, "q_keep": 0})
    assert len(calls) == 1 and errs == []
    assert json.loads(out.read_text())["git_head"] == "c" * 40

    # names=None re-gates the whole registry.
    monkeypatch.setattr(endround, "_check",
                        lambda sf_dir, names: {"q_old": ok, "q_keep": ok})
    assert endround._regate("sfX", str(out), None, {"q_old": 0, "q_keep": 0}) == []


def test_stamp_on_a_dirty_tree_certifies_the_commit_that_follows(tmp_path, monkeypatch):
    """An artifact re-gated before its change is committed records the
    blob of each changed GUARDED path, so after the commit nothing is
    stale and --assert-head passes; a further edit is stale again."""
    import subprocess

    def git(*args):
        subprocess.run(["git", "-c", "user.name=t", "-c", "user.email=t@t",
                        *args], cwd=tmp_path, check=True, capture_output=True)

    mod = tmp_path / ROOT / "mod.py"
    gone = tmp_path / ROOT / "gone.py"
    mod.parent.mkdir()
    mod.write_text("x = 1\n")
    gone.write_text("y = 1\n")
    (tmp_path / "bench.py").write_text("")
    git("init", "-q")
    git("add", "-A")
    git("commit", "-qm", "parent")
    monkeypatch.setattr(endround, "REPO", str(tmp_path))

    mod.write_text("x = 2\n")  # the change, re-gated before its commit
    gone.unlink()
    (tmp_path / ROOT / "new.py").write_text("z = 1\n")
    stamp = endround._stamp()
    assert set(stamp["git_blobs"]) == {f"{ROOT}/mod.py", f"{ROOT}/gone.py",
                                      f"{ROOT}/new.py"}
    assert stamp["git_blobs"][f"{ROOT}/gone.py"] is None
    with open(tmp_path / "CHECK_full_r01.json", "w") as f:
        json.dump(stamp, f)
    git("add", "-A", ROOT)
    git("commit", "-qm", "change")

    assert endround._changed_since(stamp["git_head"], stamp["git_blobs"]) == set()
    assert endround.assert_head() == 0
    # Without the recorded blobs the committed change reads as stale.
    assert endround._changed_since(stamp["git_head"]) == set(stamp["git_blobs"])

    mod.write_text("x = 3\n")
    assert endround._changed_since(stamp["git_head"], stamp["git_blobs"]) == {
        f"{ROOT}/mod.py"}
    assert endround.assert_head() == 1
