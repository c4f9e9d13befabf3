"""Local replica of the driver's correctness gate.

Runs every registered query on Spark and its oracle on DuckDB at the
given scale dir, compares row count, column names, and an
order-insensitive value hash (rows canonicalized to strings, sorted).
Strict: floats must match after each side's own ROUNDing — queries are
responsible for rounding (see queries/__init__.py determinism rules).
The comparison is bench.oracle_verdict, which the bench sweep's
warm-up runs too.

Usage: python tools/check.py [sf_dir] [query_name ...] [--json PATH]

``--json PATH`` additionally writes the per-query verdicts as a JSON
artifact (the committed at-head oracle-gate record).

Exits 2 on a name not in the registry, before starting Spark. Exits
bench.JVM_LOST at the first error that means the JVM is gone, naming
the query that was running; the JSON artifact then holds only
``{"jvm_lost": name}``.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import JVM_LOST, failed, jvm_lost, oracle_db, oracle_verdict
from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session


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
    unknown = sorted(only - set(registry))
    if unknown:
        print(f"not in the registry: {unknown}")
        return 2
    spark = get_session("check")
    con = oracle_db(sf_dir)

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
            if jvm_lost(e):
                print(f"JVM lost at {name}: {e}")
                if json_path:
                    with open(json_path, "w") as f:
                        json.dump({"jvm_lost": name}, f)
                return JVM_LOST
            v = failed("spark", e)
        else:
            v = oracle_verdict(con, q.oracle, s_cols, s_rows, time.time() - t0)
        verdicts[name] = v
        if v["status"] == "pass":
            print(f"PASS  {name} ({v['secs']:.1f}s, {v['rows']} rows)")
        elif v["status"] == "rows_only":
            print(f"ROWS  {name}: {v['rows']} rows (no oracle)")
        else:
            print(f"FAIL  {name}: {v['err']}")

    by = {s: [n for n, v in verdicts.items() if v["status"] == s]
          for s in ("pass", "fail", "rows_only")}
    print(f"\n{len(by['pass'])} pass, {len(by['fail'])} fail, "
          f"{len(by['rows_only'])} rows-only")
    if by["fail"]:
        print("failures:", " ".join(by["fail"]))
    if json_path:
        with open(json_path, "w") as f:
            json.dump(
                {
                    "sf_dir": sf_dir,
                    "n_pass": len(by["pass"]),
                    "n_fail": len(by["fail"]),
                    "n_rows_only": len(by["rows_only"]),
                    "n_registry": len(registry),
                    "queries": verdicts,
                },
                f,
                indent=1,
                sort_keys=True,
            )
        print(f"wrote {json_path}")
    return 1 if by["fail"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
