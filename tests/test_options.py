"""Static guards: no engine code that only tests reach.

Three scans of ``listenbrainz_server_spark``, AST only (no Spark, no
imports of the engine):

- **Options nobody sets.** Every module-level function and method with
  a defaulted parameter and at least one direct call. A parameter
  counts as set if a call passes it by keyword, by position, or
  through ``**mapping`` (a ``*args`` call sets every positional
  parameter). Calls are searched in the engine, ``tests/``,
  ``tools/``, ``reqbench/``, ``bench.py`` and ``__spark_entry__.py``
  and matched to definitions by bare name. The list must be empty.
- **Options only tests set.** The same scan with ``tests/`` left out
  of the setters. The list must equal ``TEST_ONLY_OPTIONS``.
- **Functions nothing reaches.** Module-level engine functions that no
  name or attribute load, and no import, references outside their
  own body, searched in the engine, ``reqbench/``, ``bench.py`` and
  ``__spark_entry__.py``. Registered queries are reached through the
  registry and are not counted; a package ``__init__`` re-export is
  not a use. The list must equal ``UNREACHED_FUNCTIONS``.

A keep-list entry names why the item stays, under one tag:

- ``api:`` public package API, or a deployment setting such as a path
  or a credential;
- ``reference:`` the reference a test compares a production path
  against;
- ``seam:`` a test seam that reaches a production branch the fixtures
  are too small to reach;
- ``survey:`` the only implementation of a SURVEY operator that
  COVERAGE.md maps to it, or a serving form that LADDER.md names.

Anything else is deleted, or folded into a constant or a derived value.
"""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "listenbrainz_server_spark"
TESTS = ROOT / "tests"
PRODUCTION = (ENGINE, ROOT / "reqbench", ROOT / "bench.py", ROOT / "__spark_entry__.py")
CALLERS = (*PRODUCTION, TESTS, ROOT / "tools")
TAGS = ("api:", "reference:", "seam:", "survey:")

UNREACHED_FUNCTIONS = {
    "operators/model_registry.py load_latest_als_model":
        "survey: M3/O5 latest-model lookup + load (recommend.py:36-60), "
        "mapped by COVERAGE §2.10 M3; m_als_recommend serves a fresh fit, "
        "so this is the only load path",
    "operators/model_registry.py recommend_for_user_subset":
        "survey: M3 recommendForUserSubset inference (recommend.py:285-305), "
        "mapped by COVERAGE §2.10 M3; m_als_recommend uses "
        "recommendForAllUsers",
    "queries/similarity.py knn_classify_ann_raw":
        "survey: LADDER.md names it the serving form of v_knn_classify_ann",
    "queries/similarity.py mmr_rerank_lsh_raw":
        "survey: LADDER.md names it the serving form of v_mmr_rerank",
    "session.py stop_session":
        "api: exported in the package __all__ beside get_session",
    "sources/readers.py glob_scan":
        "survey: S8 glob-filtered scan, COVERAGE §2.1 S8",
    "sources/readers.py jdbc_query":
        "survey: S3 JDBC source, COVERAGE §2.1 S3",
    "streaming/stateful.py _make_session_cdc_update":
        "reference: the per-row session-CDC update that "
        "test_session_cdc_vec_matches_reference holds the vectorized "
        "production update to",
}

TEST_ONLY_OPTIONS = {
    "incremental/engine.py IncrementalEngine.delta_aggregate(created_col)":
        "survey: the §2.9 'created watermark' row of COVERAGE.md maps "
        "delta_aggregate(created_col=...)",
    "operators/dedup.py connected_components(max_iter)":
        "seam: a cap below convergence reaches the non-convergence raise, "
        "which no fixture graph hits at the default cap",
    "operators/dedup.py connected_components(stats)":
        "seam: the round count pins the contraction schedule (plain "
        "rounds, contract switch, confirm round) that labels cannot show",
    "operators/dedup.py exact_substring_pairs(prefilter)":
        "reference: prefilter=False is the exhaustive path the tests hold "
        "the winnow-gated production path to",
    "operators/dedup.py exact_substring_spans(prefilter)":
        "reference: prefilter=False is the exhaustive path the tests hold "
        "the winnow-gated production path to",
    "operators/similarity.py brute_force_topk(block_rows)":
        "seam: a small block reaches the multi-block broadcast loop; every "
        "fixture corpus fits one default block",
    "operators/similarity.py neardup_pairs(block_rows)":
        "seam: a small block reaches the multi-block broadcast loop; every "
        "fixture corpus fits one default block",
    "operators/similarity.py pq_topk(sig_bits)":
        "seam: on the 50-vector sf0.001 corpus 8-bit buckets leave the "
        "probes almost no candidates; 3 bits feeds the ADC scoring and "
        "exact re-rank",
    "queries/audits.py x_dp_counts(release_seed)":
        "api: the release seed is a credential; the noise is private only "
        "under a secret seed, and the registered default is public",
    "sources/readers.py jdbc_query(properties)":
        "api: JDBC reader options carry the user, password and driver",
    "sources/readers.py mlhd_csv_ingest(out_path)":
        "api: the Parquet output path, a deployment setting",
}


def _py_files(path: pathlib.Path) -> list[pathlib.Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _parse(paths) -> dict[pathlib.Path, ast.Module]:
    return {f: ast.parse(f.read_text()) for path in paths for f in _py_files(path)}


def _key(f: pathlib.Path, qual: str) -> str:
    return f"{f.relative_to(ENGINE)} {qual}"


def _definitions(trees: dict[pathlib.Path, ast.Module]):
    """(file, class name or None, FunctionDef) for every module-level
    function and method of the engine."""
    for f in _py_files(ENGINE):
        for node in trees[f].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield f, None, node
            elif isinstance(node, ast.ClassDef):
                for sub in node.body:
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        yield f, node.name, sub


def _calls_by_name(trees) -> dict[str, list[ast.Call]]:
    calls = collections.defaultdict(list)
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                if isinstance(fn, ast.Name):
                    calls[fn.id].append(node)
                elif isinstance(fn, ast.Attribute):
                    calls[fn.attr].append(node)
    return calls


def _is_set(call: ast.Call, name: str, index: int | None, offset: int) -> bool:
    if any(kw.arg in (name, None) for kw in call.keywords):
        return True
    if index is None:  # keyword-only
        return False
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return len(call.args) + offset > index


def scan_options() -> tuple[int, list[str], list[str]]:
    """(defaulted parameters on called functions, the ones no caller
    sets, the ones only tests set)."""
    trees = _parse(CALLERS)
    calls = _calls_by_name(trees)
    prod_calls = _calls_by_name(
        {f: t for f, t in trees.items() if TESTS not in f.parents})
    total, never, test_only = 0, [], []
    for f, cls, fn in _definitions(trees):
        sites = calls.get(fn.name)
        if not sites:
            continue
        args = fn.args
        pos = args.posonlyargs + args.args
        static = any(
            isinstance(d, ast.Name) and d.id == "staticmethod"
            for d in fn.decorator_list
        )
        # obj.method(x) binds x to the parameter after self/cls.
        offset = int(bool(cls) and not static and bool(pos)
                     and pos[0].arg in ("self", "cls"))
        first_default = len(pos) - len(args.defaults)
        defaulted = [(p.arg, i) for i, p in enumerate(pos) if i >= first_default]
        defaulted += [
            (p.arg, None)
            for p, d in zip(args.kwonlyargs, args.kw_defaults)
            if d is not None
        ]
        qual = f"{cls}.{fn.name}" if cls else fn.name
        for name, index in defaulted:
            total += 1
            key = _key(f, f"{qual}({name})")
            if not any(_is_set(c, name, index, offset) for c in sites):
                never.append(key)
            elif not any(_is_set(c, name, index, offset)
                         for c in prod_calls.get(fn.name, ())):
                test_only.append(key)
    return total, never, test_only


def _registered(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call)
        and getattr(d.func, "id", getattr(d.func, "attr", None)) == "register"
        for d in fn.decorator_list
    )


def _references(tree: ast.Module) -> collections.Counter:
    """Names loaded (bare or as an attribute) or imported in `tree`,
    not counting a module-level function's references to itself."""
    refs = collections.Counter()

    def visit(node, own):
        for child in ast.iter_child_nodes(node):
            inner = own
            if node is tree and isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = child.name
            if isinstance(child, ast.Name) and isinstance(child.ctx, ast.Load):
                name = child.id
            elif isinstance(child, ast.Attribute) and isinstance(child.ctx, ast.Load):
                name = child.attr
            elif isinstance(child, ast.alias):
                name = child.name.rsplit(".", 1)[-1]
            else:
                name = None
            if name and name != inner:
                refs[name] += 1
            visit(child, inner)

    visit(tree, None)
    return refs


def scan_unreached() -> tuple[int, list[str]]:
    """(unregistered module-level engine functions, the ones no
    production code references)."""
    trees = _parse(PRODUCTION)
    refs = collections.Counter()
    for f, tree in trees.items():
        if f.name == "__init__.py" and f.parent != ENGINE / "queries":
            continue  # a package re-export is not a use
        refs += _references(tree)
    total, unreached = 0, []
    for f in _py_files(ENGINE):
        for node in trees[f].body:
            if (isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                    and not _registered(node)):
                total += 1
                if not refs[node.name]:
                    unreached.append(_key(f, node.name))
    return total, unreached


def _check_keep_list(found: list[str], keep: dict[str, str], what: str) -> None:
    new = sorted(set(found) - set(keep))
    gone = sorted(set(keep) - set(found))
    assert not new and not gone, (
        f"{what} differ from the keep-list. Delete each new item, fold it "
        "into a constant, or keep-list it with a tagged reason; drop keep-"
        "list entries that no longer apply.\nnew: "
        + "\n  ".join(new) + "\nno longer found: " + "\n  ".join(gone)
    )
    untagged = [k for k, why in keep.items() if not why.startswith(TAGS)]
    assert not untagged, f"reasons must start with one of {TAGS}: {untagged}"


def test_every_defaulted_parameter_is_set_by_some_caller():
    total, never, _ = scan_options()
    assert total > 0  # the scan found the engine's options at all
    assert never == [], (
        f"{len(never)} of {total} defaulted parameters are set by no "
        "caller; make each a constant or delete it with its branch:\n"
        + "\n".join(never)
    )


def test_options_only_tests_set_are_the_keep_list():
    _, _, test_only = scan_options()
    _check_keep_list(test_only, TEST_ONLY_OPTIONS, "options only tests set")


def test_functions_nothing_reaches_are_the_keep_list():
    total, unreached = scan_unreached()
    assert total > 0
    _check_keep_list(unreached, UNREACHED_FUNCTIONS, "unreached functions")
