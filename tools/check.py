"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given scale dir, compares row count, column names, and an
order-insensitive value hash (rows canonicalized to strings, sorted).
Strict: floats must match after each side's own ROUNDing — queries are
responsible for rounding (see queries/__init__.py determinism rules).

Usage: python tools/check.py [sf_dir] [query_name ...] [--json PATH]

``--json PATH`` additionally writes the per-query verdicts as a JSON
artifact (the committed at-head oracle-gate record, VERDICT r4 #1).
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from listenbrainz_server_spark.catalog import TPCH_TABLES, table_path
from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session


def canon_value(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v != v:
            return "NaN"
        # repr keeps full precision; queries pre-round so this is stable.
        return repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[str, int]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted("\x1f".join(canon_value(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(canon_rows).encode()).hexdigest()
    return h, len(canon_rows)


def main() -> int:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            print("usage: check.py [sf_dir] [query ...] [--json PATH]")
            return 2
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    registry = load_all()
    spark = get_session("check")

    con = duckdb.connect()
    for t in TPCH_TABLES:
        try:
            p = table_path(sf_dir, t)
            # Two on-disk layouts: the driver's testdata is one file
            # per table; Spark-written scale dirs (tools/gen_scale.py,
            # .scale/sf1) are DIRECTORIES of part files — DuckDB needs
            # the glob for those (r13: first sf1 oracle run).
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')"
            )
        except duckdb.Error:
            pass

    n_pass = n_fail = n_noracle = 0
    failures: list[str] = []
    verdicts: dict[str, dict] = {}
    for name, q in sorted(registry.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures.append(name)
            verdicts[name] = {"status": "fail", "err": str(e).splitlines()[0][:200]}
            n_fail += 1
            continue
        if q.oracle is None:
            print(f"ROWS  {name}: {len(s_rows)} rows (no oracle)")
            verdicts[name] = {
                "status": "rows_only",
                "rows": len(s_rows),
                "secs": round(time.time() - t0, 2),
            }
            n_noracle += 1
            continue
        try:
            res = con.execute(q.oracle)
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures.append(name)
            verdicts[name] = {"status": "fail", "err": str(e).splitlines()[0][:200]}
            n_fail += 1
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"cols spark={sorted(s_cols)} duck={sorted(d_cols)}")
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount spark={len(s_rows)} duck={len(d_rows)}")
        if not problems:
            sh, _ = frame_hash(s_cols, s_rows)
            dh, _ = frame_hash(d_cols, d_rows)
            if sh != dh:
                # show a sample diff
                s_set = {
                    "\x1f".join(
                        canon_value(r[i]) for i in sorted(range(len(s_cols)), key=lambda i: s_cols[i])
                    )
                    for r in s_rows
                }
                d_set = {
                    "\x1f".join(
                        canon_value(r[i]) for i in sorted(range(len(d_cols)), key=lambda i: d_cols[i])
                    )
                    for r in d_rows
                }
                only_s = list(s_set - d_set)[:3]
                only_d = list(d_set - s_set)[:3]
                problems.append(f"hash mismatch; spark-only={only_s} duck-only={only_d}")
        dt = time.time() - t0
        if problems:
            print(f"FAIL  {name} ({dt:.1f}s): " + " | ".join(problems))
            failures.append(name)
            verdicts[name] = {"status": "fail", "err": " | ".join(problems)[:200]}
            n_fail += 1
        else:
            print(f"PASS  {name} ({dt:.1f}s, {len(s_rows)} rows)")
            verdicts[name] = {
                "status": "pass",
                "rows": len(s_rows),
                "secs": round(dt, 2),
            }
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail, {n_noracle} rows-only")
    if failures:
        print("failures:", " ".join(failures))
    if json_path:
        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": n_pass,
                    "n_fail": n_fail,
                    "n_rows_only": n_noracle,
                    "n_registry": len(registry),
                    "queries": verdicts,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_path}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
