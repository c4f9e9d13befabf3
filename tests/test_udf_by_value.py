"""Pandas and Arrow UDFs travel to Python workers by value.

cloudpickle sends a module-level or imported function by reference: the
worker re-imports it by module name, and fails with
``ModuleNotFoundError`` when this package is not on the worker's import
path (a driver started outside the checkout). A closure, a lambda or a
function a factory returns travels by value. This static scan (AST
only, no Spark) finds every engine call that hands a Python function to
Spark's pandas or Arrow UDF methods and rejects the by-reference ones.
"""

from __future__ import annotations

import ast
import pathlib

ENGINE = pathlib.Path(__file__).resolve().parents[1] / "listenbrainz_server_spark"
UDF_METHODS = {
    "mapInPandas",
    "applyInPandas",
    "applyInPandasWithState",
    "mapInArrow",
    "applyInArrow",
}
_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def bindings(owner: ast.AST) -> dict[str, str]:
    """The names ``owner`` (a module or a function) binds itself, each
    as "import", "def" or "local"; nested function bodies are not
    entered."""
    out: dict[str, str] = {}
    if isinstance(owner, _FUNCS):
        a = owner.args
        for arg in (*a.posonlyargs, *a.args, *a.kwonlyargs, a.vararg, a.kwarg):
            if arg is not None:
                out[arg.arg] = "local"
    stack = list(owner.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (*_FUNCS, ast.ClassDef)):
            out[node.name] = "def"
            continue
        if isinstance(node, ast.Lambda):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                out[(alias.asname or alias.name).split(".")[0]] = "import"
        elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
            out.setdefault(node.id, "local")
        stack.extend(ast.iter_child_nodes(node))
    return out


def by_reference(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, function) of each UDF call whose function pickles by
    reference: a dotted name, an imported name, or a module-level
    def."""
    found = []

    def visit(node: ast.AST, scopes: list[dict[str, str]]) -> None:
        if isinstance(node, _FUNCS):
            scopes = [*scopes, bindings(node)]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in UDF_METHODS
        ):
            fn = node.args[0] if node.args else next(
                (kw.value for kw in node.keywords if kw.arg == "func"), None
            )
            if isinstance(fn, ast.Attribute):
                found.append((node.lineno, ast.unparse(fn)))
            elif isinstance(fn, ast.Name):
                # The innermost scope that binds the name decides; a def
                # counts only at module level (scopes[0]).
                depth = next(
                    (d for d in range(len(scopes) - 1, -1, -1) if fn.id in scopes[d]),
                    None,
                )
                if depth is not None and (
                    scopes[depth][fn.id] == "import"
                    or (depth == 0 and scopes[depth][fn.id] == "def")
                ):
                    found.append((node.lineno, fn.id))
        for child in ast.iter_child_nodes(node):
            visit(child, scopes)

    visit(tree, [bindings(tree)])
    return found


def test_no_udf_function_pickles_by_reference():
    found = [
        f"{path.relative_to(ENGINE).as_posix()}:{line} {name}"
        for path in sorted(ENGINE.rglob("*.py"))
        for line, name in by_reference(ast.parse(path.read_text()))
    ]
    assert found == []


def test_the_scan_sees_module_level_and_imported_functions():
    src = (
        "from m import imported\n"
        "def top(k, s, p): pass\n"
        "def f(df):\n"
        "    def inner(it): yield from it\n"
        "    df.mapInPandas(top, 's')\n"
        "    df.mapInPandas(imported, 's')\n"
        "    df.mapInArrow(m.fn, 's')\n"
        "    df.mapInPandas(inner, 's')\n"
        "    df.groupBy('k').applyInPandasWithState(make(), 's', 's', 'update', 'n')\n"
        "    df.mapInPandas(lambda it: it, 's')\n"
    )
    assert by_reference(ast.parse(src)) == [(5, "top"), (6, "imported"), (7, "m.fn")]
