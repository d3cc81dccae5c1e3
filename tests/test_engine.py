"""Engine facade tests: file-mode load -> register -> SQL over the 4 views
(the reference's H2-shell workflow end-to-end)."""

import os

from hbase_packet_inspector_spark.engine import Engine
import rpc_fixtures as fx
from perfbench import wire


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


def _call(call_id: int, method: str, param: bytes, body: bytes,
          t: float, elapsed_s: float) -> list[tuple]:
    """One protobuf request/response pair as ``build_pcap`` packets."""
    return [
        (t, "10.0.0.7", 40123, "10.0.0.1", 16020,
         wire.request_frame(call_id, method, param)),
        (t + elapsed_s, "10.0.0.1", 16020, "10.0.0.7", 40123,
         wire.response_frame(call_id, body)),
    ]


def test_cli_pcap_mode(spark, tmp_path, capsys):
    # CLI smoke for the capture file mode with count bound
    from hbase_packet_inspector_spark.sources import pcap as P
    from hbase_packet_inspector_spark.__main__ import main

    region = b"t1,,1.0123456789abcdef0123456789abcdef."
    pkts = _call(1, "Get", wire.get_request(region, b"r1", 1),
                 wire.get_response(1), 1000.0, 0.5)
    p = tmp_path / "cli.pcap"
    p.write_bytes(P.build_pcap(pkts))

    rc = main(["--pcap", str(p), "--count", "10", "--sql",
               "SELECT method, elapsed FROM responses"])
    out = capsys.readouterr().out
    assert rc == 0 and "get" in out and "500" in out


def test_cli_pcap_stdin(spark, capsys, monkeypatch):
    # reference core.clj:416-420: `--pcap -` replays a capture piped on
    # stdin; the CLI buffers the stream to a temp file and runs the same
    # pipeline
    import io
    from hbase_packet_inspector_spark.sources import pcap as P
    from hbase_packet_inspector_spark.__main__ import main

    region = b"piped,,1.0123456789abcdef0123456789abcdef."
    pkts = _call(7, "Scan", wire.scan_open_request(region, b"a", b"b", 20),
                 wire.scan_response([], 42), 1000.0, 0.25)

    class FakeStdin:
        buffer = io.BytesIO(P.build_pcap(pkts))

    monkeypatch.setattr("sys.stdin", FakeStdin())
    rc = main(["--pcap", "-", "--sql",
               "SELECT method, table, elapsed FROM responses"])
    out = capsys.readouterr().out
    assert rc == 0 and "open-scanner" in out and "piped" in out and "250" in out


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


# gets, a 100-put multi and a scanner session, so all four tables have rows
FIXTURE_CAPTURE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "fixtures", "hbase_pcap",
    "{sequentialWrite,randomRead,scan}.pcap")


def _multiset(df) -> list[str]:
    return sorted(repr(r.asDict(recursive=True)) for r in df.collect())


def test_file_mode_derives_capture_once(spark):
    """After load_pcap, every table reads the checkpointed finalized frame:
    no Python-worker stage (pcap scan, reassembly, decode) is left in any
    table's plan, and the rows equal the uncheckpointed pipeline's."""
    from hbase_packet_inspector_spark.operators.pipeline import build_tables

    eng = Engine(spark).load_pcap(FIXTURE_CAPTURE)
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


def _node_names(plan) -> list[str]:
    """Operator names of a logical plan, not descending into the physical
    plan an ``InMemoryRelation`` carries."""
    names, todo = [], [plan]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return names


def _cached_plans(spark) -> int:
    cm = spark._jsparkSession.sharedState().cacheManager()
    entries = cm.getClass().getDeclaredField("cachedData")
    entries.setAccessible(True)
    return entries.get(cm).size()


def _persistent_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _write_events(spark, rows, path) -> None:
    """One parquet file written outside Spark, so a rewrite keeps its name."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    pq.write_table(fx.to_df(spark, rows).toArrow(),
                   os.path.join(path, "part-0.parquet"), row_group_size=4)


def test_events_mode_tables_read_one_cached_frame(spark, tmp_path):
    """After load_events, the first table action fills one cached
    finalized frame, and every view reads it instead of re-running the
    correlation windows."""
    from hbase_packet_inspector_spark.operators.pipeline import build_tables

    path = str(tmp_path / "ev")
    fx.to_df(spark, fx.random_read() + fx.scan()).write.parquet(path)
    eng = Engine(spark).load_events(path)
    # collected before register_tables: after it, this plan would match
    # the cache and the comparison would check nothing
    want = {name: _multiset(df)
            for name, df in build_tables(eng._events).items()}
    eng.register_tables()
    eng.sql("SELECT count(*) FROM results").collect()
    assert set(eng.tables) == set(want)
    for name, df in eng.tables.items():
        ops = _node_names(df._jdf.queryExecution().optimizedPlan())
        assert "InMemoryRelation" in ops and "Window" not in ops, (name, ops)
        got = _multiset(df)
        assert got and got == want[name], name


def test_events_mode_register_twice_keeps_one_cached_frame(spark, tmp_path):
    path = str(tmp_path / "ev")
    fx.to_df(spark, fx.random_read()).write.parquet(path)
    plans0, rdds0 = _cached_plans(spark), _persistent_rdds(spark)
    eng = Engine(spark).load_events(path)

    def register() -> tuple[int, int]:
        eng.register_tables()
        eng.sql("SELECT count(*) FROM requests").collect()
        return (_cached_plans(spark) - plans0,
                len(_persistent_rdds(spark) - rdds0))

    assert register() == (1, 1)
    assert register() == (1, 1)


def test_events_mode_register_reads_rewritten_files(spark, tmp_path):
    """A file rewritten at the same path outside Spark, then registered
    again, gives the new rows, not the cached or the listed old ones."""
    from hbase_packet_inspector_spark.operators.pipeline import build_tables

    path = str(tmp_path / "ev")
    _write_events(spark, fx.random_read()[:4], path)
    eng = Engine(spark).load_events(path).register_tables()
    assert eng.sql("SELECT count(*) FROM requests").collect()[0][0] == 2

    rows = fx.random_read() + [
        dict(r, event_id=r["event_id"] + 500, port=41000) for r in fx.scan()]
    _write_events(spark, rows, path)
    eng.register_tables()
    want = build_tables(fx.to_df(spark, rows))
    for name, df in eng.tables.items():
        assert _multiset(df) == _multiset(want[name]), name


def test_own_session_skips_dataframe_call_site_capture(spark):
    """get_spark turns off PySpark's per-Column call-site capture, which
    cost ~10 driver<->JVM round trips per Column function call."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
