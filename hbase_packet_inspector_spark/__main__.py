"""CLI: the file-mode analog of the reference jar.

    python -m hbase_packet_inspector_spark --events events.parquet \
        --sql "SELECT method, count(*) FROM requests GROUP BY method"
    python -m hbase_packet_inspector_spark --pcap dump.pcap --port 16020

Without --sql, drops into a minimal SQL prompt over the four views
(the H2 shell analog, reference db.clj:101-104).
"""

from __future__ import annotations

import argparse
import sys

from .engine import Engine
from .schema import DEFAULT_PORTS
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="hbase_packet_inspector_spark")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--events", help="rpc_events parquet path")
    src.add_argument("--pcap", help="pcap capture file/glob (file-mode analog)")
    src.add_argument("--dataprep", metavar="QUERY",
                     help="run a registered analytics query from the "
                     "oracle-checked library against --sf-dir")
    src.add_argument("--list-queries", action="store_true",
                     help="list the registered analytics queries and exit")
    p.add_argument("--format", default="parquet", choices=["parquet", "json", "kafka-json"])
    p.add_argument("--port", type=int, action="append",
                   help="monitored RPC port(s); default 16020 + 60020 "
                   "(reference core.clj:65-67)")
    p.add_argument("--count", type=int, help="stop after N events (ref -c)")
    p.add_argument("--duration", type=float,
                   help="stop after S seconds of event time (ref -d)")
    p.add_argument("--sql", help="query to run (else: interactive prompt)")
    p.add_argument("--kafka", help="servers/topic1[/topic2][?k=v] -> print records")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                   help="table directory for --dataprep queries")
    p.add_argument("--limit", type=int, default=20)
    args = p.parse_args(argv)

    if args.list_queries:
        from . import plans

        for name, q in sorted(plans.QUERIES.items()):
            kind = "oracle" if q.oracle else "rows-only"
            # '. ' not '.': docs lead with module paths like operators/x.py
            print(f"{name}\t{kind}\t{q.doc.split('. ')[0][:90]}")
        return 0

    spark = get_spark("hpi-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.dataprep:
        from . import plans

        q = plans.QUERIES.get(args.dataprep)
        if q is None:
            print(f"unknown query: {args.dataprep} (see --list-queries)",
                  file=sys.stderr)
            return 2
        q.fn(spark, args.sf_dir).show(args.limit, truncate=False)
        return 0

    eng = Engine(spark)
    if args.pcap:
        pcap_path = args.pcap
        if pcap_path == "-":
            # reference core.clj:416-420: "-" replays a capture piped on
            # stdin (tcpdump -w - | hpi -). binaryFile can't scan a pipe,
            # so buffer the stream to a temp file and replay that — stdin
            # replay is inherently single-machine, so the local write is
            # not a scale concern
            import tempfile

            with tempfile.NamedTemporaryFile(
                suffix=".pcap", delete=False
            ) as tmp:
                tmp.write(sys.stdin.buffer.read())
                pcap_path = tmp.name
        eng.load_pcap(pcap_path, ports=tuple(args.port or DEFAULT_PORTS))
    else:
        eng.load_events(args.events, args.format)
    if args.count is not None or args.duration is not None:
        eng.bound(args.count, args.duration)

    if args.kafka:
        for row in eng.kafka_records(args.kafka).take(args.limit):
            print(f"{row.topic}\t{row.value}")
        return 0

    eng.register_tables()
    if args.sql:
        eng.sql(args.sql).show(args.limit, truncate=False)
        return 0

    print("tables: requests responses actions results  (exit with \\q)")
    while True:
        try:
            line = input("sql> ").strip()
        except EOFError:
            break
        if line in ("\\q", "exit", "quit"):
            break
        if not line:
            continue
        try:
            eng.sql(line).show(args.limit, truncate=False)
        except Exception as e:  # keep the shell alive on bad SQL
            print(f"error: {e}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
