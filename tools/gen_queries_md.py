"""Generate QUERIES.md: the registry as a navigable table.
Usage: python tools/gen_queries_md.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from listenbrainz_server_spark.queries import load_all


def main() -> None:
    registry = load_all()
    groups: dict[str, list] = {}
    for name, q in sorted(registry.items()):
        prefix = name.split("_")[0]
        groups.setdefault(prefix, []).append(q)
    lines = [
        "# QUERIES — the registered query inventory",
        "",
        f"{len(registry)} queries; every entry has a DuckDB oracle except",
        "those marked *(rows-only)*. Names are stable driver-contract keys.",
        "",
        "| query | oracle | description |",
        "|---|---|---|",
    ]
    for name, q in sorted(registry.items()):
        oracle = "yes" if q.oracle else "*(rows-only)*"
        lines.append(f"| `{name}` | {oracle} | {q.doc} |")
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md with {len(registry)} entries")


if __name__ == "__main__":
    main()
