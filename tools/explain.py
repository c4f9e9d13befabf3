"""Dump formatted physical plans for registered queries — the
iterate-until-it's-the-plan-you-want loop. Usage:
python tools/explain.py <query> [...] [--sf DIR]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from listenbrainz_server_spark.queries import load_all
from listenbrainz_server_spark.session import get_session


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = "/root/testdata/sf0.01"
    for a in sys.argv[1:]:
        if a.startswith("--sf="):
            sf_dir = a.split("=", 1)[1]
    registry = load_all()
    spark = get_session("explain")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args or sorted(registry):
        print(f"\n{'=' * 70}\n{name}\n{'=' * 70}")
        registry[name].fn(spark, sf_dir).explain("formatted")


if __name__ == "__main__":
    main()
