"""Engine facade tests: file-mode load -> register -> SQL over the 4 views
(the reference's H2-shell workflow end-to-end)."""

from hbase_packet_inspector_spark.engine import Engine
from hbase_packet_inspector_spark.sources import fixtures as fx


def test_file_mode_sql(spark, tmp_path):
    path = str(tmp_path / "ev")
    fx.to_df(spark, fx.random_read() + [
        dict(r, event_id=r["event_id"] + 500, port=41000) for r in fx.scan()
    ]).write.parquet(path)

    eng = Engine(spark).load_events(path).register_tables()
    # the canonical join from the reference README (:133-135)
    out = eng.sql(
        """
        SELECT r.method, count(*) AS n, avg(s.elapsed) AS avg_elapsed
        FROM requests r
        JOIN responses s USING (client, port, call_id)
        GROUP BY r.method ORDER BY n DESC
        """
    ).collect()
    methods = {r.method: r.n for r in out}
    assert methods["multi"] == 5
    assert all(r.avg_elapsed is not None for r in out if r.method == "multi")


def test_kafka_mode_records(spark):
    eng = Engine(spark).load_events(fx.to_df(spark, fx.call_id_reuse()))
    recs = eng.kafka_records("b:9092/t1/t2?service=hpi").collect()
    assert {r.topic for r in recs} == {"t1", "t2"}
    assert all('"service":"hpi"' in r.value for r in recs)


def test_cli_sql(spark, tmp_path, capsys):
    # drive the CLI main() as a user would (single-query mode)
    path = str(tmp_path / "cli_ev")
    fx.to_df(spark, fx.sequential_write()).write.parquet(path)
    from hbase_packet_inspector_spark.__main__ import main

    rc = main(["--events", path, "--sql",
               "SELECT method, batch FROM requests"])
    out = capsys.readouterr().out
    assert rc == 0 and "multi" in out and "100" in out


def test_bounded_capture(spark):
    # B13: count and event-time duration bounds (reference core.clj:384-392)
    rows = fx.sequential_write() + fx.scan()
    for i, r in enumerate(rows):
        r["event_id"] = i
    eng = Engine(spark).load_events(fx.to_df(spark, rows))
    assert eng.bound(count=3)._events.count() == 3

    eng2 = Engine(spark).load_events(fx.to_df(spark, rows))
    ev = eng2.bound(duration_s=0)._events.collect()  # only t0-second events
    t0 = min(r["ts"] for r in rows)
    assert all(e.ts <= t0.replace(microsecond=0) or e.ts.second == t0.second
               for e in ev) and len(ev) >= 1


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    # D5 analog: bucketBy(client, port, call_id) = the reference's index —
    # the canonical correlation join must plan with NO Exchange on either
    # side once both tables are bucketed on the join key.
    rows = fx.random_read()
    eng = Engine(spark).load_events(fx.to_df(spark, rows)).register_tables()
    eng.persist_tables(str(tmp_path / "warehouse"), buckets=4)

    # at test scale Spark would broadcast instead (also shuffle-free, but it
    # hides the bucketed path a 100 TB join takes) — force the merge join
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = eng.sql(
            """
            SELECT r.method, s.elapsed FROM hpi_requests r
            JOIN hpi_responses s USING (client, port, call_id)
            """
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_day_partitioned_tables_prune(spark, tmp_path):
    # partition_by_day: a date filter must reach the scan as a partition
    # filter (planning-time pruning — zero I/O for excluded days)
    rows = fx.random_read()
    # spread events across two days
    import datetime as dt
    for i, r in enumerate(rows):
        if i >= len(rows) // 2:
            r["ts"] = r["ts"] + dt.timedelta(days=1)
    eng = Engine(spark).load_events(fx.to_df(spark, rows)).register_tables()
    eng.persist_tables(str(tmp_path / "wh"), buckets=2, partition_by_day=True)

    q = eng.sql("SELECT * FROM hpi_requests WHERE day = DATE'2024-01-01'")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    days = {r.day for r in q.collect()}
    assert days == {dt.date(2024, 1, 1)}


def test_kafka_json_file_mode(spark, tmp_path):
    # fleet-collection loop, file form: sink payload lines -> load_events
    # (fmt='kafka-json') -> same four views
    from hbase_packet_inspector_spark.streaming.sink import to_kafka_records

    events = fx.to_df(spark, fx.random_read())
    recs = to_kafka_records(events.drop("results"), "t1", "t2")
    p = tmp_path / "dump.jsonl"
    p.write_text("\n".join(r.value for r in recs.collect()) + "\n")

    eng = Engine(spark).load_events(str(p), fmt="kafka-json").register_tables()
    out = eng.sql(
        """
        SELECT count(*) AS n, count(elapsed) AS matched
        FROM responses WHERE method = 'multi'
        """
    ).collect()[0]
    assert out.n == 5 and out.matched == 5


def test_cli_pcap_mode(spark, tmp_path, capsys):
    # CLI smoke for the capture file mode with count bound
    import json as _json
    import struct as _st
    from hbase_packet_inspector_spark.sources import pcap as P
    from hbase_packet_inspector_spark.__main__ import main

    def fr(obj):
        b = _json.dumps(obj).encode()
        return _st.pack(">i", len(b)) + b

    pkts = [
        (1000.0, "10.0.0.7", 40123, "10.0.0.1", 16020,
         fr({"call_id": 1, "method": "get", "table": "t1"})),
        (1000.5, "10.0.0.1", 16020, "10.0.0.7", 40123, fr({"call_id": 1})),
    ]
    p = tmp_path / "cli.pcap"
    p.write_bytes(P.build_pcap(pkts))

    rc = main(["--pcap", str(p), "--decode", "json", "--count", "10", "--sql",
               "SELECT method, elapsed FROM responses"])
    out = capsys.readouterr().out
    assert rc == 0 and "get" in out and "500" in out


def test_cli_pcap_stdin(spark, capsys, monkeypatch):
    # reference core.clj:416-420: `--pcap -` replays a capture piped on
    # stdin; the CLI buffers the stream to a temp file and runs the same
    # pipeline
    import io
    import json as _json
    import struct as _st
    from hbase_packet_inspector_spark.sources import pcap as P
    from hbase_packet_inspector_spark.__main__ import main

    def fr(obj):
        b = _json.dumps(obj).encode()
        return _st.pack(">i", len(b)) + b

    pkts = [
        (1000.0, "10.0.0.7", 40123, "10.0.0.1", 16020,
         fr({"call_id": 7, "method": "scan", "table": "piped"})),
        (1000.25, "10.0.0.1", 16020, "10.0.0.7", 40123, fr({"call_id": 7})),
    ]

    class FakeStdin:
        buffer = io.BytesIO(P.build_pcap(pkts))

    monkeypatch.setattr("sys.stdin", FakeStdin())
    rc = main(["--pcap", "-", "--decode", "json", "--sql",
               "SELECT method, table, elapsed FROM responses"])
    out = capsys.readouterr().out
    assert rc == 0 and "scan" in out and "piped" in out and "250" in out


def test_cli_dataprep_and_list(capsys):
    from hbase_packet_inspector_spark.__main__ import main

    rc = main(["--list-queries"])
    out = capsys.readouterr().out
    assert rc == 0 and "dedup_exact\toracle" in out and "chunk_dedup" in out

    rc = main(["--dataprep", "source_token_mix",
               "--sf-dir", "/root/testdata/sf0.001", "--limit", "3"])
    out = capsys.readouterr().out
    assert rc == 0 and "token_share" in out

    rc = main(["--dataprep", "no_such_query"])
    assert rc == 2


def _fixture_capture(tmp_path) -> str:
    """The fixture workloads as a JSON-framed pcap (decode='json'):
    gets, a 100-put multi and a scanner session, so all four tables
    have rows."""
    import json as _json
    import struct as _st

    from hbase_packet_inspector_spark.engine import MESSAGE_BODY_SCHEMA
    from hbase_packet_inspector_spark.sources import pcap as P

    rows = fx.random_read() + fx.sequential_write() + [
        dict(r, port=41000) for r in fx.scan()
    ]
    keys = MESSAGE_BODY_SCHEMA.fieldNames()
    pkts = []
    for r in rows:
        body = _json.dumps({k: r[k] for k in keys if r.get(k) is not None})
        frame = _st.pack(">i", len(body)) + body.encode()
        ends = [(r["client"], r["port"]), (r["server"], 16020)]
        if not r["inbound"]:
            ends.reverse()
        pkts.append((r["ts"].timestamp(), *ends[0], *ends[1], frame))
    path = tmp_path / "fixtures.pcap"
    path.write_bytes(P.build_pcap(pkts))
    return str(path)


def _multiset(df) -> list[str]:
    return sorted(repr(r.asDict(recursive=True)) for r in df.collect())


def test_file_mode_derives_capture_once(spark, tmp_path):
    """After load_pcap, every table reads the checkpointed finalized frame:
    no Python-worker stage (pcap scan, reassembly, decode) is left in any
    table's plan, and the rows equal the uncheckpointed pipeline's."""
    from hbase_packet_inspector_spark.operators.pipeline import build_tables

    path = _fixture_capture(tmp_path)
    eng = Engine(spark).load_pcap(path, ports=(16020,), decode="json")
    want = build_tables(eng._events)
    eng.register_tables()
    assert set(eng.tables) == set(want)
    for name, df in eng.tables.items():
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "MapInPandas" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name
        got = _multiset(df)
        assert got and got == _multiset(want[name]), name


def test_events_mode_register_submits_no_job(spark, tmp_path):
    path = str(tmp_path / "ev")
    fx.to_df(spark, fx.random_read() + fx.scan()).write.parquet(path)
    eng = Engine(spark).load_events(path)
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    eng.register_tables()
    assert set(tracker.getJobIdsForGroup()) == before


def test_own_session_skips_dataframe_call_site_capture(spark):
    """get_spark turns off PySpark's per-Column call-site capture, which
    cost ~10 driver<->JVM round trips per Column function call."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
