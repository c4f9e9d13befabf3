"""One scratch root for engine state.

State that outlives a call (stream logs and checkpoints, stored
partials, version manifests, staged blocks, import outputs, model
registries) lives under ``session.scratch_root``: one directory per
process, removed when the interpreter exits. A static scan keeps every
temp-dir call in the engine under it; a subprocess run shows that a
process leaves nothing behind in the system temp dir.
"""

from __future__ import annotations

import ast
import json
import os
import pathlib
import subprocess
import sys

from listenbrainz_server_spark import session
from tests.conftest import SF_SMOKE

ROOT = pathlib.Path(__file__).resolve().parents[1]
ENGINE = ROOT / "listenbrainz_server_spark"
TEMP_CALLS = ("mkdtemp", "mkstemp", "TemporaryDirectory", "NamedTemporaryFile")


def _called(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _under_scratch_root(call: ast.Call) -> bool:
    return any(
        kw.arg == "dir"
        and isinstance(kw.value, ast.Call)
        and _called(kw.value) == "scratch_root"
        for kw in call.keywords
    )


def stray_scratch() -> list[str]:
    """Engine temp-dir calls without ``dir=scratch_root(...)``, and
    reads of the retired ``LBS_SCRATCH_DIR`` variable. The root's own
    ``TemporaryDirectory`` in ``session.scratch_root`` is the one
    exception."""
    found = []
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        tree = ast.parse(path.read_text())
        exempt = set()
        if rel == "session.py":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "scratch_root":
                    exempt = {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and _called(node) in TEMP_CALLS
                and id(node) not in exempt
                and not _under_scratch_root(node)
            ):
                found.append(f"{rel}:{node.lineno} {_called(node)}")
            elif isinstance(node, ast.Constant) and node.value == "LBS_SCRATCH_DIR":
                found.append(f"{rel}:{node.lineno} LBS_SCRATCH_DIR")
    return found


def test_engine_temp_dirs_live_under_the_scratch_root():
    assert stray_scratch() == []


def test_the_root_sits_under_the_configured_scratch_dir(spark, tmp_path, monkeypatch):
    # The process's own root is put back, untouched, after the test.
    monkeypatch.setattr(session, "_SCRATCH", None)
    spark.conf.set("spark.lbs.scratchDir", str(tmp_path / "scratch"))
    try:
        root = session.scratch_root(spark)
        assert os.path.dirname(root) == str(tmp_path / "scratch")
        assert session.scratch_root(spark) == root  # one per process
    finally:
        spark.conf.unset("spark.lbs.scratchDir")
        if session._SCRATCH is not None:
            session._SCRATCH.cleanup()


# Runs names that make scratch directories (a stored partial, a stream
# log and checkpoint, chunk barriers, an import output) and lists the
# temp dir while the process lives.
_SCRIPT = """
import json, os, sys, tempfile
from listenbrainz_server_spark.plans.api import dispatch
from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session

spark = get_session("scratch-test", master="local[2]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
registry = load_all()
for name in ("i_retraction_combine", "st_upsert_latest", "x_chunked_pairs"):
    registry[name].fn(spark, sys.argv[1]).collect()
dispatch("import.compact_listens", spark, sys.argv[1]).count()
print(json.dumps(sorted(os.listdir(tempfile.gettempdir()))))
"""


def test_a_process_leaves_nothing_in_the_temp_dir(tmp_path):
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {**os.environ, "TMPDIR": str(tmp), "SPARK_GRAFT_DRIVER_MEM": "1g"}
    out = subprocess.run(
        [sys.executable, "-c", _SCRIPT, SF_SMOKE],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    alive = json.loads(out.stdout.strip().splitlines()[-1])
    # While the process lives, its one entry is the scratch root.
    assert len(alive) == 1 and alive[0].startswith("lbs_scratch_"), alive
    assert os.listdir(tmp) == []
