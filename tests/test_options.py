"""Static guard: no engine option that nobody sets.

A defaulted parameter that no caller passes is a configuration that
nothing runs or tests; it belongs in the code as a constant. The scan
is AST only (no Spark, no imports of the engine):

- every module-level function and method in ``listenbrainz_server_spark``
  with a defaulted parameter and at least one direct call;
- a parameter counts as set if any call passes it by keyword, by
  position, or through ``**mapping`` (a ``*args`` call sets every
  positional parameter);
- calls are searched in the engine, ``tests/``, ``tools/``,
  ``reqbench/``, ``bench.py`` and ``__spark_entry__.py``, and matched
  to definitions by bare name.

There is no exemption list: a parameter only tests set still counts
as set, and a new option needs a caller.
"""

from __future__ import annotations

import ast
import collections
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "listenbrainz_server_spark"
CALLERS = (
    ENGINE,
    ROOT / "tests",
    ROOT / "tools",
    ROOT / "reqbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
)


def _py_files(path: pathlib.Path) -> list[pathlib.Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


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


def _calls_by_name(trees: dict[pathlib.Path, ast.Module]) -> dict[str, list[ast.Call]]:
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


def scan() -> tuple[int, list[str]]:
    """(defaulted parameters on called functions, the never-set ones)."""
    trees = {
        f: ast.parse(f.read_text()) for path in CALLERS for f in _py_files(path)
    }
    calls = _calls_by_name(trees)
    total, never = 0, []
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
        for name, index in defaulted:
            total += 1
            if not any(_is_set(c, name, index, offset) for c in sites):
                where = f"{f.relative_to(ROOT)}:{fn.lineno}"
                qual = f"{cls}.{fn.name}" if cls else fn.name
                never.append(f"{where} {qual}({name})")
    return total, never


def test_every_defaulted_parameter_is_set_by_some_caller():
    total, never = scan()
    assert total > 0  # the scan found the engine's options at all
    assert never == [], (
        f"{len(never)} of {total} defaulted parameters are set by no "
        "caller; make each a constant or delete it with its branch:\n"
        + "\n".join(never)
    )
