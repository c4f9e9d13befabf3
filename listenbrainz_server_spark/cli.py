"""CLI client: run a handler by name and stream chunked JSON messages.

The reference's canonical client is a CLI that submits named queries
with JSON params (listenbrainz/spark/request_manage.py) and the
request consumer streams result messages back
(request_consumer.py:83-103). Without the RabbitMQ transport, this CLI
is that round-trip: dispatch → DataFrame → chunked JSON to stdout.

    python -m listenbrainz_server_spark.cli stats.user.entity \
        --sf-dir /root/testdata/sf0.001 --param k=3 --chunk-size 25
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_param(kv: str):
    k, _, v = kv.partition("=")
    for cast in (int, float):
        try:
            return k, cast(v)
        except ValueError:
            continue
    return k, v


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("query", help="handler name (see plans/api.QUERY_MAP) or 'list'")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--param", action="append", default=[], help="k=v handler param")
    parser.add_argument("--chunk-size", type=int, default=25)
    parser.add_argument("--limit", type=int, default=None, help="cap emitted rows")
    args = parser.parse_args()

    from listenbrainz_server_spark.plans.api import QUERY_MAP

    if args.query == "list":
        for name in sorted(QUERY_MAP):
            print(name)
        return 0
    if args.query not in QUERY_MAP:
        print(f"unknown query: {args.query}", file=sys.stderr)
        print("known:", ", ".join(sorted(QUERY_MAP)), file=sys.stderr)
        return 2

    from listenbrainz_server_spark.messages import iter_message_chunks
    from listenbrainz_server_spark.plans.api import dispatch
    from listenbrainz_server_spark.session import get_session

    spark = get_session("cli", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    params = dict(_parse_param(p) for p in args.param)
    df = dispatch(args.query, spark, args.sf_dir, **params)
    if args.limit is not None:
        df = df.limit(args.limit)
    for msg in iter_message_chunks(df, args.chunk_size, args.query):
        print(json.dumps(msg, default=str))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
