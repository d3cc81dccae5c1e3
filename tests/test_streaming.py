"""Streaming parity tests: the stateful correlation must produce the same
outputs as the batch operator on the same fixture workloads
(SURVEY.md §7 Phase 3), and the JSON sink must match the reference payload
shape (kafka_test.clj:9-73)."""

import json

import pytest
from pyspark.sql import functions as F

from hbase_packet_inspector_spark.operators import build_tables
import rpc_fixtures as fx
from hbase_packet_inspector_spark.streaming import (
    run_pipeline_available_now,
    to_kafka_records,
)
from hbase_packet_inspector_spark.streaming.sink import parse_kafka_spec


@pytest.fixture(scope="module")
def workload():
    rows = []
    offset = 0
    for gen in (fx.random_read, fx.scan, fx.ttl_expiry, fx.unknown_response,
                fx.call_id_reuse, fx.sequential_write, fx.small_scan,
                fx.increments, fx.overwritten_request,
                fx.single_action_multi):
        part = gen()
        for r in part:
            r = dict(r)
            r["event_id"] += offset
            r["port"] = 40000 + (offset % 7)  # separate connections per workload
            rows.append(r)
        offset += 1000
    return rows


def test_streaming_matches_batch(spark, tmp_path, workload):
    src = str(tmp_path / "events")
    fx.to_df(spark, workload).write.parquet(src)

    sink: dict[str, list] = {}
    run_pipeline_available_now(spark, src, sink)

    batch = {
        name: df.collect()
        for name, df in build_tables(fx.to_df(spark, workload)).items()
    }

    def key(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    for name in ("requests", "responses", "actions", "results"):
        assert key(sink.get(name, [])) == key(batch[name]), name


def test_kafka_spec_parser():
    # reference core_test.clj:140-155
    s = parse_kafka_spec("b1:9092,b2:9092/t1/t2?service=x&env=prod")
    assert s["servers"] == "b1:9092,b2:9092"
    assert s["topic1"] == "t1" and s["topic2"] == "t2"
    assert s["extra"] == {"service": "x", "env": "prod"}
    s2 = parse_kafka_spec("b/t")
    assert s2["topic1"] == s2["topic2"] == "t"
    with pytest.raises(ValueError):
        parse_kafka_spec("no-topic")


def test_json_sink_shape(spark):
    df = fx.to_df(spark, fx.call_id_reuse()).drop("actions", "results")
    out = to_kafka_records(df, "reqs", "resps", extra={"service": "x"}).collect()
    assert {r.topic for r in out} == {"reqs", "resps"}
    rec = json.loads([r.value for r in out if r.topic == "reqs"][0])
    assert isinstance(rec["ts"], int)  # epoch millis
    assert rec["hostname"] == "localhost" and rec["service"] == "x"
    assert "error" not in rec  # nulls dropped (sparse JSON)
    assert rec["method"] in ("get", "put")


def test_json_sink_empty_topic_drops_side(spark):
    df = fx.to_df(spark, fx.call_id_reuse()).drop("actions", "results")
    out = to_kafka_records(df, "reqs", "").collect()
    assert {r.topic for r in out} == {"reqs"}
    assert len(out) == 2  # only the 2 requests survive


def test_streaming_ttl_and_unknown(spark, tmp_path):
    rows = fx.ttl_expiry() + [
        dict(r, event_id=r["event_id"] + 100, port=40001)
        for r in fx.unknown_response()
    ]
    src = str(tmp_path / "ttl")
    fx.to_df(spark, rows).write.parquet(src)
    sink: dict[str, list] = {}
    run_pipeline_available_now(spark, src, sink)
    res = sink["responses"]
    assert len(res) == 2
    assert all(r.method == "unknown" and r.elapsed is None for r in res)


def test_scanner_state_survives_micro_batches(spark, tmp_path):
    """A scanner session opened in one micro-batch must keep enriching
    next-rows events in later micro-batches (B8 cross-batch state): the
    open/response pair lands in file 1, the next-rows in file 2, with
    maxFilesPerTrigger=1 forcing separate batches."""
    rows = fx.scan()
    early = [r for r in rows if r["event_id"] < 2]   # open-scanner req+res
    late = [r for r in rows if r["event_id"] >= 2]   # next-rows..close
    src = str(tmp_path / "events")
    fx.to_df(spark, early).coalesce(1).write.parquet(src)
    import time
    time.sleep(1.1)  # file source orders micro-batches by mod time
    fx.to_df(spark, late).coalesce(1).write.mode("append").parquet(src)

    sink: dict[str, list] = {}
    run_pipeline_available_now(spark, src, sink, max_files_per_trigger=1)

    next_reqs = [r for r in sink["requests"] if r.method == "next-rows"]
    assert len(next_reqs) == 5
    # table/region learned from the open-scanner session in the EARLIER batch
    assert all(r.table == fx.TABLE and r.region == fx.REGION for r in next_reqs)
    next_ress = [r for r in sink["responses"] if r.method == "next-rows"]
    assert len(next_ress) == 5 and all(r.table == fx.TABLE for r in next_ress)


def test_watermark_finalizes_windows_exactly_once(spark, tmp_path):
    """§2F time series, streaming form: append mode emits each window
    exactly once when the watermark (2 min) passes it, and an event
    arriving AFTER its window was emitted can never reopen it — the
    guaranteed side of the watermark contract (within-threshold data is
    guaranteed aggregated; the reference analog is TTL-dropped dangling
    state, core.clj:285-296)."""
    from hbase_packet_inspector_spark.streaming.pipeline import (
        stream_windowed_counts,
    )
    import time

    def ev(eid, minute, method="get"):
        return fx._ev(eid, minute * 60_000, True, 100 + eid, method)

    src = str(tmp_path / "events")
    batches = [
        [ev(0, 1), ev(1, 1), ev(2, 1), ev(3, 30)],  # watermark -> 28
        [ev(4, 60)],            # minute-1 window (end 2 < 28) emits: n=3
        [ev(10, 1), ev(5, 90)],  # minute-1 arrives AFTER emission -> dropped
        [ev(6, 120)],           # flush minute-90
    ]
    for i, rows in enumerate(batches):
        fx.to_df(spark, rows).coalesce(1).write.mode(
            "append" if i else "error").parquet(src)
        time.sleep(1.1)  # file source orders micro-batches by mod time

    events = (
        spark.readStream.schema(fx.RPC_EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_windowed_counts(events)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    t0 = int(fx._ms(0).timestamp())
    rows = [r for r in spark.sql(
        "SELECT * FROM win_counts WHERE method = 'get'").collect()]
    minute1 = [r.n for r in rows if r.window_start == t0 + 60]
    assert minute1 == [3]  # emitted once, never reopened by the straggler
    assert [r.n for r in rows if r.window_start == t0 + 30 * 60] == [1]


def test_rocksdb_state_store(spark, tmp_path):
    """B11 analog: the stateful pipeline runs unchanged on the RocksDB
    state store (off-heap, spillable) — Spark's answer to the reference's
    memory-pressure state dropping."""
    src = str(tmp_path / "events")
    fx.to_df(spark, fx.random_read()).write.parquet(src)
    sink: dict[str, list] = {}
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        run_pipeline_available_now(spark, src, sink)
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    assert len(sink["requests"]) == 5 and len(sink["responses"]) == 5
    assert all(r.elapsed is not None for r in sink["responses"])


def test_kafka_json_round_trip(spark):
    """Sink payloads must re-ingest losslessly (the reference's fleet-wide
    collection loop: HPI -> Kafka JSON -> downstream consumer): every
    non-array column and the embedded actions survive the round trip."""
    from hbase_packet_inspector_spark.streaming.sink import (
        from_kafka_records,
        to_kafka_records,
    )

    events = fx.to_df(spark, fx.sequential_write() + fx.unknown_response())
    recs = to_kafka_records(events, "t1", "t2", {"service": "hpi"})
    back = from_kafka_records(recs)

    orig = {r.event_id: r for r in events.collect()}
    rt = {r.event_id: r for r in back.collect()}
    assert set(orig) == set(rt)
    for eid, o in orig.items():
        r = rt[eid]
        assert (r.ts, r.client, r.port, r.call_id, r.method, r.batch if hasattr(r, "batch") else None) == \
               (o.ts, o.client, o.port, o.call_id, o.method, o.batch if hasattr(o, "batch") else None)
        assert r.actions == o.actions


def test_streaming_kafka_json_consumer(spark, tmp_path):
    """Reference §3.3 consumer side, streamed: sink-payload JSON lines (what
    a fleet collector lands from the topics) -> readStream.text ->
    from_kafka_records -> stateful correlation -> finalize_and_route per
    micro-batch. The four tables must equal build_tables over the same
    JSONL read in batch: the correlated stream carries whole records, so a
    non-parquet source finalizes too, and a multi request's actions reach
    its response across a micro-batch boundary through the state."""
    import os

    from hbase_packet_inspector_spark.operators.pipeline import (
        finalize_and_route,
    )
    from hbase_packet_inspector_spark.streaming.pipeline import stream_correlate
    from hbase_packet_inspector_spark.streaming.sink import (
        from_kafka_records,
        to_kafka_records,
    )

    rows = []
    for offset, gen in enumerate(
            (fx.random_read, fx.sequential_write, fx.single_action_multi)):
        for r in gen():
            rows.append(dict(r, event_id=r["event_id"] + 1000 * offset,
                             port=40000 + offset))
    recs = to_kafka_records(fx.to_df(spark, rows), "t1", "t2").collect()
    by_id = {json.loads(r.value)["event_id"]: r.value for r in recs}
    # two files, one per micro-batch: the sequential_write multi request
    # lands in the first and its response in the second
    src = tmp_path / "jsonl"
    src.mkdir()
    for i, ids in enumerate((sorted(by_id)[:-3], sorted(by_id)[-3:])):
        path = src / f"dump{i}.jsonl"
        path.write_text("\n".join(by_id[e] for e in ids) + "\n")
        os.utime(path, (1_000_000 + i, 1_000_000 + i))

    stream = spark.readStream.option("maxFilesPerTrigger", 1).text(str(src))
    correlated = stream_correlate(from_kafka_records(stream))
    out: list = []
    sink: dict[str, list] = {}

    def _sink(df, _id):
        out.extend(df.collect())
        for name, t in finalize_and_route(df).items():
            sink.setdefault(name, []).extend(t.collect())

    q = (
        correlated.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len([p for p in q.recentProgress if p["numInputRows"]]) == 2

    responses = [r for r in out if not r.inbound]
    assert len(responses) == 7
    assert all(r.method == "multi" and r.elapsed is not None for r in responses)

    batch = build_tables(from_kafka_records(spark.read.text(str(src))))

    def key(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    for name, df in batch.items():
        assert key(sink.get(name, [])) == key(df.collect()), name
    assert len(sink["actions"]) == 200 and len(sink["results"]) == 200


def test_parquet_sink_exactly_once(spark, tmp_path, workload):
    # durable sink: batch_id-partitioned parquet, idempotent under replay;
    # a restart with no new input must not duplicate rows
    from hbase_packet_inspector_spark.streaming.pipeline import (
        run_pipeline_to_parquet,
    )

    src = str(tmp_path / "pq_events")
    out = str(tmp_path / "pq_out")
    fx.to_df(spark, workload).write.parquet(src)

    run_pipeline_to_parquet(spark, src, out, max_files_per_trigger=1)

    batch = {
        name: df.count()
        for name, df in build_tables(fx.to_df(spark, workload)).items()
    }
    first = {
        name: spark.read.parquet(f"{out}/{name}").count()
        for name in batch
    }
    assert first == batch

    # restart against the same checkpoint: no new files -> no new batches
    run_pipeline_to_parquet(spark, src, out, max_files_per_trigger=1)
    again = {
        name: spark.read.parquet(f"{out}/{name}").count()
        for name in batch
    }
    assert again == batch

    # multiple micro-batches actually happened (batch_id partitioning real)
    import os
    parts = [p for p in os.listdir(f"{out}/requests") if p.startswith("batch_id=")]
    assert len(parts) > 1


@pytest.mark.parametrize("sink", ["collect", "parquet"])
def test_file_replay_sinks_derive_each_batch_once(
        spark, tmp_path, monkeypatch, workload, sink):
    """The four table actions of a file-replay sink share one run of the
    stateful correlation per micro-batch: the state function runs once per
    connection per batch, and the tables still equal the batch pipeline's."""
    import os

    import pyarrow.parquet as pq

    from hbase_packet_inspector_spark.streaming import pipeline as SP

    # three time-ordered part files, replayed one per micro-batch in the
    # order of their modification times
    src = tmp_path / "events"
    src.mkdir()
    rows = sorted(workload, key=lambda r: (r["ts"], r["event_id"]))
    chunks = [rows[i * len(rows) // 3:(i + 1) * len(rows) // 3]
              for i in range(3)]
    for i, chunk in enumerate(chunks):
        part = str(src / f"part-{i}.parquet")
        pq.write_table(fx.to_df(spark, chunk).toArrow(), part)
        os.utime(part, (1_700_000_000 + i, 1_700_000_000 + i))
    # the state function runs once per connection with rows in a batch
    want_calls = sum(len({(r["client"], r["port"]) for r in chunk})
                     for chunk in chunks)

    log = str(tmp_path / "calls.log")
    correlate_group = SP._correlate_group

    def counted(key, pdfs, state):
        with open(log, "a") as fh:  # Python workers append, one line a call
            fh.write(f"{key}\n")
        yield from correlate_group(key, pdfs, state)

    monkeypatch.setattr(SP, "_correlate_group", counted)
    want = build_tables(fx.to_df(spark, workload))
    if sink == "collect":
        got: dict[str, list] = {}
        SP.run_pipeline_available_now(spark, str(src), got,
                                      max_files_per_trigger=1)
    else:
        out = str(tmp_path / "out")
        SP.run_pipeline_to_parquet(spark, str(src), out,
                                   max_files_per_trigger=1)
        got = {name: spark.read.parquet(f"{out}/{name}").drop("batch_id")
               .collect() for name in want}

    with open(log) as fh:
        assert len(fh.readlines()) == want_calls

    def key(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    for name, df in want.items():
        assert key(got.get(name, [])) == key(df.collect()), name


def _replay(spark, df, transform, src_dir, schema=None):
    # file-replay a DataFrame through a streaming transform, collect output
    df.write.parquet(src_dir)
    reader = spark.readStream.schema(schema or df.schema).parquet(src_dir)
    out: list = []
    q = (
        transform(reader)
        .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src_dir + "/_ck")
        .start()
    )
    q.awaitTermination()
    return out


def test_stream_dedup_within_watermark(spark, tmp_path):
    from hbase_packet_inspector_spark.streaming.pipeline import stream_dedup
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0, "a"),
        (1, t0 + dt.timedelta(seconds=5), "a-dup"),       # dup within delay
        (2, t0 + dt.timedelta(seconds=10), "b"),
        (1, t0 + dt.timedelta(seconds=20), "a-dup2"),     # still within delay
        (3, t0 + dt.timedelta(minutes=1), "c"),
    ]
    df = spark.createDataFrame(rows, "k int, ts timestamp, v string")
    out = _replay(spark, df, lambda s: stream_dedup(s, ["k"], delay="10 minutes"),
                  str(tmp_path / "dd"))
    # exactly one survivor per key; WHICH duplicate survives is arrival
    # order (not event time) — don't assert it
    assert sorted(r.k for r in out) == [1, 2, 3]
    assert len([r for r in out if r.k == 1]) == 1


def test_stream_sessionize_gap_semantics(spark, tmp_path):
    from hbase_packet_inspector_spark.streaming.pipeline import stream_sessionize
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 8, 0, 0)
    rows = (
        # client A: 3 events inside one 30-min-gap session
        [("A", t0 + dt.timedelta(minutes=m)) for m in (0, 10, 20)]
        # client A: a second session 3h later
        + [("A", t0 + dt.timedelta(hours=3))]
        # client B: single-event session
        + [("B", t0 + dt.timedelta(minutes=5))]
        # watermark sentinel far in the future so every session above closes
        + [("Z", t0 + dt.timedelta(days=2))]
    )
    df = spark.createDataFrame(rows, "client string, ts timestamp")
    out = _replay(
        spark, df,
        lambda s: stream_sessionize(s, key="client", gap="30 minutes",
                                    watermark="1 hour"),
        str(tmp_path / "sw"),
    )
    sessions = {(r.client, r.n_events) for r in out if r.client in ("A", "B")}
    assert ("A", 3) in sessions and ("A", 1) in sessions and ("B", 1) in sessions
    a3 = next(r for r in out if r.client == "A" and r.n_events == 3)
    assert a3.first_ts == t0 and a3.last_ts == t0 + dt.timedelta(minutes=20)


def test_streaming_kafka_mode_finalized_payload(spark, tmp_path, workload):
    # reference kafka mode end-to-end as a stream: records are the
    # FINALIZED send! maps (elapsed, batch, cells, embedded stamped
    # children for multi), routed by direction
    from hbase_packet_inspector_spark.streaming.pipeline import (
        run_pipeline_to_kafka,
    )

    src = str(tmp_path / "kf_events")
    fx.to_df(spark, workload).write.parquet(src)
    recs: list = []
    run_pipeline_to_kafka(spark, src, "b:9092/req/resp?service=hpi",
                          records_out=recs, max_files_per_trigger=1)
    assert {r.topic for r in recs} == {"req", "resp"}
    payloads = [json.loads(r.value) for r in recs]
    assert all(p["hostname"] == "localhost" and p["service"] == "hpi"
               for p in payloads)
    multi_req = [p for p in payloads if p.get("batch", 0) > 1
                 and p.get("inbound")]
    assert multi_req and all(
        len(p["actions"]) == p["batch"]
        and all(a["call_id"] == p["call_id"] for a in p["actions"])
        for p in multi_req
    )
    # every record carries a numeric cells (send! coerces nil -> 0)
    assert all(isinstance(p.get("cells"), int) for p in payloads)
    # matched responses carry elapsed; correlated method propagated
    resp = [p for p in payloads if not p.get("inbound")]
    assert any("elapsed" in p for p in resp)


def test_small_scan_does_not_kill_open_scanner_state(spark, tmp_path):
    # core.clj:135-138: a small-scan response discards only its call-id
    # pre-state — a scanner-id collision must NOT tombstone a live scanner
    sid = 77
    rows = [
        fx._ev(0, 0, True, 30, "open-scanner", table=fx.TABLE,
               region=fx.REGION, scanner=None),
        fx._ev(1, 10, False, 30, None, scanner=sid),
        # small-scan on the same connection whose response reuses sid
        fx._ev(2, 20, True, 31, "small-scan", table="other", scanner=None),
        fx._ev(3, 30, False, 31, None, scanner=sid, cells=5),
        # the open scanner must still enrich next-rows afterwards
        fx._ev(4, 40, True, 32, "next-rows", scanner=sid),
        fx._ev(5, 50, False, 32, None, scanner=sid, cells=20),
    ]
    src = str(tmp_path / "ss_events")
    fx.to_df(spark, rows).write.parquet(src)
    sink: dict[str, list] = {}
    run_pipeline_available_now(spark, src, sink)
    nr = [r for r in sink["requests"] if r.method == "next-rows"]
    assert len(nr) == 1 and nr[0].table == fx.TABLE and nr[0].region == fx.REGION


def test_stream_range_join_matches_batch(spark, tmp_path):
    from hbase_packet_inspector_spark.operators.ranged import range_join
    from hbase_packet_inspector_spark.streaming.pipeline import stream_range_join
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    lrows = [(i, base + dt.timedelta(seconds=45 * i)) for i in range(30)]
    rrows = [(100 + i, base + dt.timedelta(seconds=13 * i)) for i in range(100)]
    ldf = spark.createDataFrame(lrows, "event_id long, ts timestamp")
    rdf = spark.createDataFrame(rrows, "rid long, ts timestamp")
    ldf.write.parquet(str(tmp_path / "l"))
    rdf.write.parquet(str(tmp_path / "r"))

    ls = spark.readStream.schema(ldf.schema).parquet(str(tmp_path / "l"))
    rs = spark.readStream.schema(rdf.schema).parquet(str(tmp_path / "r"))
    out: list = []
    q = (
        stream_range_join(ls, rs, on="ts", window_s=30, watermark="5 minutes")
        .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination()

    got = {(r.event_id, r.rid_r) for r in out}
    want = {
        (r["event_id"], r["rid_r"])
        for r in range_join(ldf, rdf, on="ts", window_s=30,
                            value_cols=["rid"]).collect()
    }
    assert got == want and len(want) > 30


def test_stream_range_join_survives_restart(spark, tmp_path):
    # the stateful interval join must recover its buffered state from the
    # checkpoint: rows arriving AFTER a restart still pair with pre-restart
    # rows inside the window
    from hbase_packet_inspector_spark.operators.ranged import range_join
    from hbase_packet_inspector_spark.streaming.pipeline import stream_range_join
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    l1 = [(i, base + dt.timedelta(seconds=20 * i)) for i in range(10)]
    r1 = [(100 + i, base + dt.timedelta(seconds=20 * i + 5)) for i in range(10)]
    # second wave overlaps the first wave's window tail
    l2 = [(50 + i, base + dt.timedelta(seconds=200 + 20 * i)) for i in range(5)]
    r2 = [(200 + i, base + dt.timedelta(seconds=190 + 20 * i)) for i in range(5)]

    ldir, rdir, ck = str(tmp_path / "l"), str(tmp_path / "r"), str(tmp_path / "ck")
    lschema, rschema = "event_id long, ts timestamp", "rid long, ts timestamp"
    spark.createDataFrame(l1, lschema).write.mode("append").parquet(ldir)
    spark.createDataFrame(r1, rschema).write.mode("append").parquet(rdir)

    out: list = []

    def run_once():
        ls = spark.readStream.schema(lschema).parquet(ldir)
        rs = spark.readStream.schema(rschema).parquet(rdir)
        q = (
            stream_range_join(ls, rs, on="ts", window_s=30, watermark="10 minutes")
            .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
            .trigger(availableNow=True)
            .option("checkpointLocation", ck)
            .start()
        )
        q.awaitTermination()

    run_once()  # first run: only wave 1
    spark.createDataFrame(l2, lschema).write.mode("append").parquet(ldir)
    spark.createDataFrame(r2, rschema).write.mode("append").parquet(rdir)
    run_once()  # restart from checkpoint: wave 2 + cross-wave pairs

    got = {(r.event_id, r.rid_r) for r in out}
    all_l = spark.createDataFrame(l1 + l2, lschema)
    all_r = spark.createDataFrame(r1 + r2, rschema)
    want = {
        (r["event_id"], r["rid_r"])
        for r in range_join(all_l, all_r, on="ts", window_s=30,
                            value_cols=["rid"]).collect()
    }
    assert got == want
    # and the cross-wave pair (new left row with old-batch right row or
    # vice versa) actually exists, or this test proves nothing
    wave2_l = {i for i, _ in l2}
    wave2_r = {i for i, _ in r2}
    assert any((l in wave2_l) != (r in wave2_r) for l, r in got)


def test_compact_batches_preserves_rows(spark, tmp_path, workload):
    from hbase_packet_inspector_spark.streaming.pipeline import (
        compact_batches,
        run_pipeline_to_parquet,
    )

    src = str(tmp_path / "cp_events")
    out = str(tmp_path / "cp_out")
    fx.to_df(spark, workload).write.parquet(src)
    run_pipeline_to_parquet(spark, src, out, max_files_per_trigger=1)

    sink = spark.read.parquet(f"{out}/requests")
    assert "batch_id" in sink.columns and sink.select("batch_id").distinct().count() > 1

    max_b = compact_batches(spark, f"{out}/requests", str(tmp_path / "compact"),
                            target_partitions=2)
    compacted = spark.read.parquet(str(tmp_path / "compact"))
    assert max_b == sink.agg(F.max("batch_id")).collect()[0][0]
    assert "batch_id" not in compacted.columns
    key = ["client", "port", "call_id"]
    assert (
        sorted(tuple(r) for r in compacted.select(*key).collect())
        == sorted(tuple(r) for r in sink.select(*key).collect())
    )
    # a fresh empty dir is rejected as not-a-sink, not silently compacted
    import pytest as _pytest
    plain = str(tmp_path / "plain")
    compacted.limit(1).write.parquet(plain)
    with _pytest.raises(ValueError):
        compact_batches(spark, plain, str(tmp_path / "x"))


def test_stream_windowed_distinct_within_hll_bound(spark, tmp_path):
    from hbase_packet_inspector_spark.streaming.pipeline import (
        stream_windowed_distinct,
    )
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 9, 0, 0)
    rows = [
        (f"c{i % 37}", t0 + dt.timedelta(seconds=(i * 7) % 120)) for i in range(400)
    ] + [("zz", t0 + dt.timedelta(hours=2))]  # watermark sentinel
    df = spark.createDataFrame(rows, "client string, ts timestamp")
    out = _replay(
        spark, df,
        lambda s: stream_windowed_distinct(s, key="client", window="1 minute",
                                           watermark="30 seconds"),
        str(tmp_path / "wd"),
    )
    got = {r.window_start: r.n_distinct for r in out}
    exact = {
        r.window_start: r.n
        for r in df.groupBy(
            F.unix_timestamp(F.window("ts", "1 minute").start).alias("window_start")
        ).agg(F.countDistinct("client").alias("n")).collect()
    }
    # every closed window emitted once, within the HLL error bound
    for ws, n in got.items():
        assert abs(n - exact[ws]) <= max(2, 0.1 * exact[ws])
    assert len(got) >= 2


def test_stream_cdc_dedup_first_copy_survives(spark, tmp_path):
    from hbase_packet_inspector_spark.streaming.pipeline import stream_cdc_dedup
    from hbase_packet_inspector_spark.operators.text import cdc_chunks
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    shared = "the quick brown fox jumps over the lazy dog again and again " * 6
    rows = [
        (0, t0, shared + "unique tail zero"),
        # re-crawl 30s later: same body, different tail -> shared chunks
        # must dedup against doc 0, only new content flows through
        (1, t0 + dt.timedelta(seconds=30), shared + "fresh ending words"),
        (2, t0 + dt.timedelta(seconds=60), "completely unrelated document"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, ts timestamp, text string")
    out = _replay(
        spark, df,
        lambda s: stream_cdc_dedup(s, delay="10 minutes"),
        str(tmp_path / "cdc"),
    )
    # exactly one surviving row per distinct chunk hash
    hashes = [r["chunk_md5"] for r in out]
    assert len(hashes) == len(set(hashes)) > 0
    batch = cdc_chunks(df.select("doc_id", "text"))
    n_distinct = batch.select("chunk_md5").distinct().count()
    assert len(hashes) == n_distinct
    # every distinct hash emitted exactly once, and doc 1's shared-prefix
    # chunks were deduped away (it only contributes chunks doc 0 lacks)
    doc1_hashes = {r["chunk_md5"] for r in out if r["doc_id"] == 1}
    doc0_hashes = {r["chunk_md5"] for r in out if r["doc_id"] == 0}
    assert not (doc1_hashes & doc0_hashes)
    n_doc1_total = batch.where("doc_id = 1").count()
    assert len(doc1_hashes) < n_doc1_total


def test_stream_cdc_dedup_across_micro_batches(spark, tmp_path):
    """The dedup state must survive micro-batch boundaries: a re-crawl
    arriving in a LATER batch still dedups against chunks first seen in an
    earlier one (maxFilesPerTrigger=1 forces separate batches)."""
    from hbase_packet_inspector_spark.streaming.pipeline import stream_cdc_dedup
    import datetime as dt
    import time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    shared = "the quick brown fox jumps over the lazy dog again and again " * 6
    src = str(tmp_path / "cdc2")
    first = spark.createDataFrame(
        [(0, t0, shared + "unique tail zero")],
        "doc_id long, ts timestamp, text string",
    )
    second = spark.createDataFrame(
        [(1, t0 + dt.timedelta(seconds=30), shared + "fresh ending words")],
        "doc_id long, ts timestamp, text string",
    )
    first.coalesce(1).write.parquet(src)
    time.sleep(1.1)  # file source orders micro-batches by mod time
    second.coalesce(1).write.mode("append").parquet(src)

    reader = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out: list = []
    q = (
        stream_cdc_dedup(reader, delay="10 minutes")
        .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()

    hashes = [r["chunk_md5"] for r in out]
    assert len(hashes) == len(set(hashes))
    # doc 1 arrived in a later batch; its shared-prefix chunks must have
    # been deduped against doc 0's state from the earlier batch
    doc0 = {r["chunk_md5"] for r in out if r["doc_id"] == 0}
    doc1 = {r["chunk_md5"] for r in out if r["doc_id"] == 1}
    assert doc0 and not (doc0 & doc1)


def test_stream_cdc_chunks_exactly_matches_batch(spark, tmp_path):
    """cdc_chunks batch===stream equivalence (the r4-verdict curation-
    operator streaming-parity item): the operator is stateless narrow
    expressions with event-time threaded via ``carry``, so the SAME
    function run under readStream with a watermark must emit EXACTLY the
    batch output — every column, every row, across micro-batch
    boundaries (maxFilesPerTrigger=1 forces multiple batches)."""
    from hbase_packet_inspector_spark.operators.text import cdc_chunks
    import datetime as dt
    import time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    body = "the quick brown fox jumps over the lazy dog again and again " * 6
    src = str(tmp_path / "cdceq")
    schema = "doc_id long, ts timestamp, text string"
    first = spark.createDataFrame(
        [(0, t0, body + "unique tail zero"),
         (1, t0 + dt.timedelta(seconds=30), body + "fresh ending words")],
        schema,
    )
    second = spark.createDataFrame(
        [(2, t0 + dt.timedelta(seconds=90), "completely unrelated document"),
         (3, t0 + dt.timedelta(seconds=120), "")],  # empty doc: no chunks
        schema,
    )
    first.coalesce(1).write.parquet(src)
    time.sleep(1.1)  # file source orders micro-batches by mod time
    second.coalesce(1).write.mode("append").parquet(src)

    reader = (
        spark.readStream.schema(first.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out: list = []
    q = (
        cdc_chunks(reader.withWatermark("ts", "10 minutes"), carry=("ts",))
        .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()

    batch = cdc_chunks(
        first.unionByName(second), carry=("ts",)
    ).collect()

    def key(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    assert len(batch) > 0
    assert key(out) == key(batch)


def test_stream_quality_drift_matches_batch_windows(spark, tmp_path):
    """Windowed curation telemetry batch===stream: quality_drift under
    readStream with a watermark must emit exactly the batch rollup for
    every CLOSED window (append mode, one emission per window). The
    far-future sentinel closes all real windows; its own window stays
    open and is the only row the stream may omit."""
    import datetime as dt

    from hbase_packet_inspector_spark.operators.text import quality_drift

    t0 = dt.datetime(2024, 1, 1, 8, 30, 0)
    good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega zero")
    rows = [
        (0, good, t0),                                  # hour 8: quality 2
        (1, "the the the", t0 + dt.timedelta(minutes=5)),  # hour 8: low
        (2, good, t0 + dt.timedelta(hours=1)),          # hour 9
        (3, "short", t0 + dt.timedelta(hours=1, minutes=10)),  # hour 9
        (9, good, t0 + dt.timedelta(days=7)),           # watermark sentinel
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, ts timestamp")
    out = _replay(
        spark, df,
        lambda s: quality_drift(s, window="1 hour", watermark="30 minutes"),
        str(tmp_path / "qd"),
    )
    batch = {
        r.window_start: r
        for r in quality_drift(df, window="1 hour").collect()
        if r.window_start < t0 + dt.timedelta(days=1)
    }
    got = {r.window_start: r for r in out}
    assert set(got) == set(batch) and len(batch) == 2
    for k, want in batch.items():
        have = got[k]
        assert (have.n_docs, have.avg_quality, have.low_quality_frac) == \
            (want.n_docs, want.avg_quality, want.low_quality_frac)
    h8 = batch[dt.datetime(2024, 1, 1, 8, 0, 0)]
    assert (h8.n_docs, h8.avg_quality, h8.low_quality_frac) == (2, 1.0, 0.5)


def test_stream_quality_gate_exactly_matches_batch(spark, tmp_path):
    """Curation quality gate batch===stream equivalence: quality_features
    is pure column expressions (no shuffle, no state), so the SAME
    operator applied under readStream must emit exactly the batch rows —
    the property that lets an ingest firehose run the identical gate the
    batch curation pipeline was calibrated on."""
    from hbase_packet_inspector_spark.operators.text import quality_features

    rows = [
        (0, "the cat sat on the mat and then the dog sat on the cat "
            "while a bird watched the whole scene from above the door"),
        (1, "short doc"),
        (2, "zz qq xx"),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "n_chars", F.length("text")
    )
    out = _replay(
        spark, df, lambda s: quality_features(s), str(tmp_path / "qg")
    )
    batch = quality_features(df).collect()

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    assert len(batch) == 3
    assert key(out) == key(batch)


def test_stream_extract_links_exactly_matches_batch(spark, tmp_path):
    """extract_links is regexp_extract_all + explode — stateless, so the
    crawl-drop ingest can grow the link graph (host_pagerank's input)
    incrementally with the same operator the batch graph was built
    with."""
    from hbase_packet_inspector_spark.operators.web import extract_links

    rows = [
        ("http://me.com/a",
         '<a href="https://x.com/1">x</a><a href="http://y.com/2">y</a>'),
        ("http://me.com/b", '<a href="/rel">rel only</a>'),
        ("http://other.com/c", "<a href='HTTP://ME.COM:80/back'>b</a>"),
    ]
    df = spark.createDataFrame(rows, "url string, body string")
    out = _replay(spark, df, lambda s: extract_links(s),
                  str(tmp_path / "lx"))
    batch = extract_links(df).collect()

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    assert len(batch) == 3  # two absolute links + the back-link
    assert key(out) == key(batch)


def test_stream_html_extract_exactly_matches_batch(spark, tmp_path):
    """html_to_text is a straight-line regexp_replace chain — stateless,
    so the SAME operator under readStream must emit exactly the batch
    rows: the crawl-drop ingest can clean HTML on arrival with the
    chain the batch curation was calibrated on."""
    from hbase_packet_inspector_spark.operators.web import html_to_text

    rows = [
        (0, "<html><body><script>var x=1<2;</script><p>a b</p></body></html>"),
        (1, "<p>plain</p><!-- c --><div>tail &amp; end</div>"),
        (2, "no markup at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, body string")
    out = _replay(spark, df, lambda s: html_to_text(s), str(tmp_path / "hx"))
    batch = html_to_text(df).collect()

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    assert len(batch) == 3
    assert key(out) == key(batch)


def test_stream_mixture_gate_exactly_matches_batch(spark, tmp_path):
    """Mixture-schedule execution batch===stream equivalence: the keep
    rule (mixture_keep) is a broadcast schedule dim + an in-row salted
    hash — NO state, so the SAME operator under readStream must keep
    exactly the batch rows. This is the deployment shape: the schedule
    is calibrated once in batch (mixture_schedule over the weights) and
    the ingest firehose applies it per arrival."""
    from hbase_packet_inspector_spark.operators import sampling as SA

    rows = [
        (i, "big" if i % 2 == 0 else "small",
         ("w " * (5 if i % 2 == 0 else 60)).strip())
        for i in range(40)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    schedule = SA.mixture_schedule(
        SA.source_mixture_weights(docs, temperature=2.0, token_budget=600),
        token_budget=600,
    )
    out = _replay(
        spark, docs,
        lambda s: SA.mixture_keep(s, schedule),
        str(tmp_path / "mx"),
    )
    batch = SA.mixture_keep(docs, schedule).collect()

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    assert 0 < len(batch) < 40  # the rate actually gates something
    assert key(out) == key(batch)


def test_stream_multimodal_decode_matches_batch(spark, tmp_path):
    """The multimodal Arrow stages (decode_ppm, ahash_ppm) are stateless
    mapInPandas — they run unchanged under readStream and must emit
    exactly the batch rows: the streaming-ingest form of the image
    pipeline (decode/fingerprint on arrival, batch probe later)."""
    from hbase_packet_inspector_spark.operators import multimodal as M

    src = str(tmp_path / "media")
    media = M.synthesize_ppm(spark, 24)
    media.where("media_id < 12").coalesce(1).write.parquet(src)
    media.where("media_id >= 12").coalesce(1).write.mode(
        "append").parquet(src)
    reader = (
        spark.readStream.schema(media.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    def key(rows):
        return sorted(tuple(str(x) for x in r) for r in rows)

    for tag, stage in (("ahash", M.ahash_ppm), ("decode", M.decode_ppm)):
        out: list = []
        q = (
            stage(reader)
            .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{src}/_ck_{tag}")
            .start()
        )
        q.awaitTermination()
        batch = stage(media).collect()
        assert len(batch) == 24 and key(out) == key(batch)


def test_streaming_image_gate_foreachbatch(spark, tmp_path):
    """The multimodal ingest gate: micro-batches of arriving images
    probed against the persisted aHash index under foreachBatch —
    flagged pairs across all batches equal the one-shot probe, however
    arrivals are batched. Build the index once, gate the firehose."""
    from hbase_packet_inspector_spark.operators import multimodal as M

    corpus = M.synthesize_ppm(spark, 8)
    M.save_ahash_index(corpus, str(tmp_path / "gidx"), table="t_ahash_s",
                       buckets=4)
    idx = M.load_ahash_index(spark, "t_ahash_s")

    arrivals = M.synthesize_ppm_variants(spark, 8).where(
        "media_id >= 8")  # variants of the corpus, ids 8..15
    src = str(tmp_path / "imgs")
    arrivals.repartition(3, "media_id").write.parquet(src)

    flagged: list = []

    def gate(b, _i):
        pairs, sigs = M.probe_ahash_index(idx, b, return_persisted=True)
        flagged.extend(pairs.collect())
        sigs.unpersist()

    q = (
        spark.readStream.schema(arrivals.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(gate)
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()

    got = {(r.d_new, r.d_old, r.hamming) for r in flagged}
    one, sigs = M.probe_ahash_index(idx, arrivals, return_persisted=True)
    want = {(r.d_new, r.d_old, r.hamming) for r in one.collect()}
    sigs.unpersist()
    assert got == want and len(got) > 0
    spark.sql("DROP TABLE IF EXISTS t_ahash_s")


def test_stream_host_drift_matches_batch_windows(spark, tmp_path):
    """Per-host windowed telemetry batch===stream: host_drift under
    readStream with a watermark emits exactly the batch rollup for every
    closed (window, host) group — the quality_drift discipline with the
    host dimension added."""
    import datetime as dt

    from hbase_packet_inspector_spark.operators.web import host_drift

    t0 = dt.datetime(2024, 1, 1, 8, 30, 0)
    good = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi "
            "psi omega zero")
    rows = [
        ("http://A.com/x", good, t0),
        ("http://a.com:80/y", "the the the", t0 + dt.timedelta(minutes=5)),
        ("http://b.com/z", good, t0 + dt.timedelta(minutes=10)),
        ("http://a.com/w", good, t0 + dt.timedelta(hours=1)),
        ("http://z.com/s", good, t0 + dt.timedelta(days=7)),  # sentinel
    ]
    df = spark.createDataFrame(rows, "url string, text string, ts timestamp")
    out = _replay(
        spark, df,
        lambda s: host_drift(s, window="1 hour", watermark="30 minutes"),
        str(tmp_path / "hd"),
    )
    batch = {
        (r.window_start, r.host): r
        for r in host_drift(df, window="1 hour").collect()
        if r.window_start < t0 + dt.timedelta(days=1)
    }
    got = {(r.window_start, r.host): r for r in out}
    assert set(got) == set(batch) and len(batch) == 3
    k8a = (dt.datetime(2024, 1, 1, 8, 0, 0), "a.com")
    assert batch[k8a].n_pages == 2  # case + :80 spellings fold into a.com
    assert batch[k8a].low_quality_frac == 0.5
    for k, want in batch.items():
        have = got[k]
        assert (have.n_pages, have.avg_quality, have.low_quality_frac) == \
            (want.n_pages, want.avg_quality, want.low_quality_frac)


def test_stream_anchor_and_robots_exactly_match_batch(spark, tmp_path):
    """extract_anchor_texts and robots_gate are stateless column chains —
    the crawl ingest can mine anchors and apply compliance verdicts per
    arrival with exactly the operators the batch loop was calibrated on."""
    from hbase_packet_inspector_spark.operators.web import (
        extract_anchor_texts,
        parse_robots,
        robots_gate,
    )

    pages = [
        ("http://me.com/a",
         '<a href="https://x.com/1">first <b>link</b></a>'
         '<a href="http://y.com/2"></a>'),
        ("http://other.com/c", "<a href='HTTP://ME.COM:80/back'>back</a>"),
    ]
    df = spark.createDataFrame(pages, "url string, body string")
    out = _replay(spark, df, lambda s: extract_anchor_texts(s),
                  str(tmp_path / "ax"))
    batch = extract_anchor_texts(df).collect()

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    assert len(batch) == 3
    assert key(out) == key(batch)

    # robots_gate aggregates (the per-URL bool fold), so streaming runs
    # it PER MICRO-BATCH under foreachBatch — the ingest-gate deployment
    # shape — which must agree with one batch pass over the same URLs
    rules = parse_robots(spark.createDataFrame(
        [("x.com", "User-agent: *\nDisallow: /1\n")],
        "host string, robots_txt string",
    ))
    urls = spark.createDataFrame(
        [("https://x.com/1",), ("https://x.com/ok",), ("http://y.com/2",)],
        "url string",
    )
    src = str(tmp_path / "rx")
    urls.repartition(3).write.parquet(src)
    out2: list = []
    q = (
        spark.readStream.schema(urls.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.foreachBatch(
            lambda b, _i: out2.extend(robots_gate(b, rules).collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()
    batch2 = robots_gate(urls, rules).collect()
    assert key(out2) == key(batch2)
    assert {r.url: r.blocked for r in batch2} == {
        "https://x.com/1": True, "https://x.com/ok": False,
        "http://y.com/2": False,
    }


def test_stream_quality_rulesets_exactly_match_batch(spark, tmp_path):
    """gopher_quality_flags and c4_quality_flags are stateless in-row
    column chains — the published quality gates apply per arrival under
    readStream with exactly the batch semantics (the quality_drift
    contract, extended to the rule-set gates)."""
    from hbase_packet_inspector_spark.operators.text import (
        c4_quality_flags,
        gopher_quality_flags,
    )

    docs = spark.createDataFrame(
        [(0, "the data " + "word " * 60 + "have to of"),
         (1, "- a\n" * 10 + "the of " + "word " * 60),
         (2, "good long sentence number one.\n"
             "another fine long sentence here!\n"
             "third one is right here today?"),
         (3, "enable javascript for this long content.\nshort.")],
        "doc_id long, text string",
    )

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    out_g = _replay(spark, docs, gopher_quality_flags,
                    str(tmp_path / "gq"))
    assert key(out_g) == key(gopher_quality_flags(docs).collect())
    out_c = _replay(spark, docs, c4_quality_flags,
                    str(tmp_path / "cq"))
    assert key(out_c) == key(c4_quality_flags(docs).collect())


def test_stream_code_quality_exactly_matches_batch(spark, tmp_path):
    """code_quality_flags (the Stack/SantaCoder gate) is the same
    stateless in-row chain — per-arrival streaming verdicts match the
    batch operator exactly, including the rule-firing variants."""
    from hbase_packet_inspector_spark.operators.text import (
        code_quality_flags,
    )

    docs = spark.createDataFrame(
        [(0, "def f():\n    return 1\n# fine"),
         (1, "def g():\n" + "y" * 1500),
         (2, "@#$% " * 10 + "!!"),
         (3, '<?xml version="1.0"?>\n<a>generated</a>')],
        "doc_id long, text string",
    )

    def key(rs):
        return sorted(tuple(str(x) for x in r) for r in rs)

    out = _replay(spark, docs, code_quality_flags, str(tmp_path / "sq"))
    assert key(out) == key(code_quality_flags(docs).collect())


def test_run_crawl_gate_stream_end_to_end(spark, tmp_path):
    """The streamed compliance deployment: three frontier micro-batches
    gated against a CRLF robots snapshot with an Allow exception; the
    union of per-batch decisions equals one batch robots_gate_rfc pass,
    plans cover exactly the allowed rows with per-cycle slots from 0 and
    the declared (or default) delay, and a re-run after the drain
    processes nothing new (checkpoint idempotency)."""
    import os

    from hbase_packet_inspector_spark.operators.web import (
        parse_robots_rules,
        robots_gate_rfc,
    )
    from hbase_packet_inspector_spark.streaming.crawl import (
        run_crawl_gate_stream,
    )

    robots = spark.createDataFrame(
        [("a.com", "User-agent: *\r\nDisallow: /d\r\nAllow: /d/keep\r\n"
                   "Crawl-delay: 2\r\n"),
         ("b.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    )
    robots_dir = str(tmp_path / "robots")
    robots.write.parquet(robots_dir)
    urls = [(f"http://a.com/d/{i}",) for i in range(3)] \
        + [(f"http://a.com/d/keep/{i}",) for i in range(4)] \
        + [("http://b.com/x",), ("http://nores.com/y",)]
    urls_df = spark.createDataFrame(urls, "url string")
    urls_dir = str(tmp_path / "urls")
    urls_df.repartition(3).write.parquet(urls_dir)
    out = str(tmp_path / "out")

    run_crawl_gate_stream(spark, urls_dir, robots_dir, out,
                          default_delay=0.5, max_files_per_trigger=1)

    dec = spark.read.parquet(f"{out}/decisions")
    batch = robots_gate_rfc(urls_df, parse_robots_rules(robots))
    assert {(r.url, r.blocked) for r in dec.collect()} == \
        {(r.url, r.blocked) for r in batch.collect()}
    n_batches = len([d for d in os.listdir(f"{out}/decisions")
                     if d.startswith("batch_id=")])
    assert n_batches == 3  # maxFilesPerTrigger=1 over 3 files

    plan = spark.read.parquet(f"{out}/plan").collect()
    allowed = {r.url for r in batch.collect() if not r.blocked}
    assert {r.url for r in plan} == allowed
    for r in plan:
        assert r.crawl_delay == (2.0 if r.host == "a.com" else 0.5)
        assert r.fetch_at_s == round(r.slot * r.crawl_delay, 6)
    # slots restart per micro-batch (a batch is one fetch cycle)
    per_cycle = {}
    for d in os.listdir(f"{out}/plan"):
        if not d.startswith("batch_id="):
            continue
        rows = spark.read.parquet(f"{out}/plan/{d}").collect()
        for host in {r.host for r in rows}:
            slots = sorted(r.slot for r in rows if r.host == host)
            assert slots == list(range(len(slots)))

    # drained stream: a second run must add nothing
    run_crawl_gate_stream(spark, urls_dir, robots_dir, out,
                          default_delay=0.5, max_files_per_trigger=1)
    assert spark.read.parquet(f"{out}/decisions").count() == dec.count()


def test_robots_tables_snapshot_refresh(spark, tmp_path):
    """RobotsTables re-derives its standing frames only when the
    snapshot directory's file set changes: unchanged listing -> no
    re-derive (refresh() False), an appended robots parquet ->
    refresh() True with the new host's rules present."""
    from hbase_packet_inspector_spark.streaming.crawl import RobotsTables

    robots_dir = str(tmp_path / "robots")
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /d\nCrawl-delay: 2\n")],
        "host string, robots_txt string",
    ).write.parquet(robots_dir)
    t = RobotsTables(spark, robots_dir)
    assert {r.host for r in t.rules.collect()} == {"a.com"}
    assert t.refresh() is False   # nothing changed

    spark.createDataFrame(
        [("c.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    ).write.mode("append").parquet(robots_dir)
    assert t.refresh() is True
    assert {r.host for r in t.rules.collect()} == {"a.com", "c.com"}
    assert {r.host for r in t.delays.collect()} == {"a.com"}


def test_run_crawl_gate_stream_empty_start_and_robots_refresh(
        spark, tmp_path):
    """Deployment hardening: the stream comes up against an EMPTY drop
    directory (explicit url_schema, no eager-read crash), a robots
    parquet appended between drains changes the NEXT batch's verdicts
    with the checkpoint kept, and gate='wildcards' honors a wildcard
    Allow the conservative gate would drop."""
    import os

    from hbase_packet_inspector_spark.streaming.crawl import (
        run_crawl_gate_stream,
    )

    robots_dir = str(tmp_path / "robots")
    spark.createDataFrame(
        [("a.com", "User-agent: *\nDisallow: /d\nAllow: /d/keep*\n")],
        "host string, robots_txt string",
    ).write.parquet(robots_dir)
    urls_dir = str(tmp_path / "urls")
    os.makedirs(urls_dir)
    out = str(tmp_path / "out")

    # empty drop dir: must start, drain nothing, and stop cleanly
    run_crawl_gate_stream(spark, urls_dir, robots_dir, out,
                          url_schema="url string", gate="wildcards")
    assert not os.path.isdir(f"{out}/decisions")

    spark.createDataFrame(
        [("http://a.com/d/1",), ("http://a.com/d/keep7",),
         ("http://nores.com/y",)], "url string",
    ).coalesce(1).write.mode("append").parquet(urls_dir)
    run_crawl_gate_stream(spark, urls_dir, robots_dir, out,
                          url_schema="url string", gate="wildcards")
    dec = {r.url: r.blocked
           for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec == {
        "http://a.com/d/1": True,
        "http://a.com/d/keep7": False,   # wildcard Allow honored
        "http://nores.com/y": False,
    }

    # robots snapshot gains a host between batches: the later batch's
    # verdicts must reflect it, checkpoint untouched
    spark.createDataFrame(
        [("c.com", "User-agent: *\nDisallow: /\n")],
        "host string, robots_txt string",
    ).write.mode("append").parquet(robots_dir)
    spark.createDataFrame(
        [("http://c.com/z",), ("http://a.com/d/keep8",)], "url string",
    ).coalesce(1).write.mode("append").parquet(urls_dir)
    run_crawl_gate_stream(spark, urls_dir, robots_dir, out,
                          url_schema="url string", gate="wildcards")
    dec2 = {r.url: r.blocked
            for r in spark.read.parquet(f"{out}/decisions").collect()}
    assert dec2["http://c.com/z"] is True      # new snapshot applied
    assert dec2["http://a.com/d/keep8"] is False
    assert len(dec2) == 5                       # old batches untouched


def test_run_recrawl_stream_waves(spark, tmp_path):
    """The streamed freshness loop: each sitemap wave re-prioritizes
    the standing frontier independently (batch body === the
    oracle-verified recrawl_priority), a fresher second wave RAISES
    the host's blended priority, the standing frontier re-reads per
    batch, and a drained re-run adds nothing."""
    import os

    from hbase_packet_inspector_spark.operators.web import (
        recrawl_priority,
        sitemap_to_urls,
    )
    from hbase_packet_inspector_spark.streaming.crawl import (
        run_recrawl_stream,
    )

    frontier_path = str(tmp_path / "frontier")
    spark.createDataFrame(
        [("a.com", 0.4, "known"), ("b.com", 0.2, "new")],
        "host string, priority double, status string",
    ).write.parquet(frontier_path)

    def wave(lastmod_a: str):
        return [
            ("http://a.com/sm.xml",
             f"<urlset><url><loc>http://a.com/1</loc>"
             f"<lastmod>{lastmod_a}</lastmod></url>"
             f"<url><loc>http://a.com/2</loc></url></urlset>"),
        ]

    sm_dir = str(tmp_path / "sitemaps")
    os.makedirs(sm_dir)
    out = str(tmp_path / "out")
    # empty start: no crash, nothing written
    run_recrawl_stream(spark, sm_dir, frontier_path, out,
                       asof_date="2024-03-15")
    assert not os.path.isdir(f"{out}/priorities")

    # wave 0: stale lastmod -> no boost
    spark.createDataFrame(wave("2023-01-01"),
                          "sitemap_url string, body string") \
        .coalesce(1).write.mode("append").parquet(sm_dir)
    run_recrawl_stream(spark, sm_dir, frontier_path, out,
                       asof_date="2024-03-15")
    p0 = {r.host: r for r in spark.read.parquet(
        f"{out}/priorities/batch_id=0").collect()}
    assert p0["a.com"].fresh_share == 0.0
    assert p0["a.com"].recrawl_priority == 0.4
    assert p0["b.com"].recrawl_priority == 0.2   # no sitemap: unchanged

    # wave 1: fresh lastmod -> boost; matches the batch operator exactly
    w1 = spark.createDataFrame(wave("2024-03-14"),
                               "sitemap_url string, body string")
    w1.coalesce(1).write.mode("append").parquet(sm_dir)
    run_recrawl_stream(spark, sm_dir, frontier_path, out,
                       asof_date="2024-03-15")
    p1 = {r.host: r for r in spark.read.parquet(
        f"{out}/priorities/batch_id=1").collect()}
    assert p1["a.com"].fresh_share == 0.5
    assert p1["a.com"].recrawl_priority == round(0.4 * 1.25, 6)
    batch = {r.host: r for r in recrawl_priority(
        spark.read.parquet(frontier_path), sitemap_to_urls(w1),
        asof_date="2024-03-15").collect()}
    assert {h: (r.fresh_share, r.recrawl_priority)
            for h, r in p1.items()} == \
        {h: (r.fresh_share, r.recrawl_priority) for h, r in batch.items()}

    # drained: nothing new
    run_recrawl_stream(spark, sm_dir, frontier_path, out,
                       asof_date="2024-03-15")
    assert len([d for d in os.listdir(f"{out}/priorities")
                if d.startswith("batch_id=")]) == 2


def test_stream_scd2_matches_batch_closed_versions(spark, tmp_path):
    """Streaming SCD2 emits exactly the batch operator's CLOSED versions,
    with state surviving micro-batch boundaries (a version opened in
    batch 1 closes in batch 3) and (ts, seq) ties ordered by seq."""
    from hbase_packet_inspector_spark.operators.asof import scd2_build
    from hbase_packet_inspector_spark.streaming.pipeline import stream_scd2
    import time

    src = str(tmp_path / "scd2")
    batches = [
        # user 1 opens A; user 2 opens X and flips to Y within the batch
        [(1, 10, "A", 100), (2, 10, "X", 200), (2, 20, "Y", 201)],
        # user 1 extends A (no transition)
        [(1, 30, "A", 102)],
        # user 1 flips to B (closes the version opened in batch 1);
        # user 3 has a same-ts pair ordered by seq: B then A
        [(1, 40, "B", 103), (3, 50, "B", 300), (3, 50, "A", 301)],
    ]
    schema = "user_id long, ts long, attr string, event_id long"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)
        time.sleep(1.1)  # distinct mtimes => stable file order
    out: list = []
    q = (
        stream_scd2(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            key_col="user_id", attr_col="attr", ts_col="ts",
            seq_col="event_id")
        .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()

    all_rows = [r for b in batches for r in b]
    batch_closed = {
        (r["user_id"], r["version"], r["attr"], r["valid_from_epoch"],
         r["valid_to_epoch"])
        for r in scd2_build(
            spark.createDataFrame(all_rows, schema),
            key_col="user_id", attr_col="attr", ts_col="ts",
            seq_col="event_id").collect()
        if not r["is_current"]
    }
    stream_closed = {
        (r["user_id"], r["version"], r["attr"], r["valid_from_epoch"],
         r["valid_to_epoch"])
        for r in out
    }
    assert stream_closed == batch_closed
    # the boundary-spanning close is present: user 1's A closed at 40
    assert (1, 1, "A", 10, 40) in stream_closed
    # user 3's tie pair: B (seq 300) closed by A (seq 301) at ts 50
    assert (3, 1, "B", 50, 50) in stream_closed


def test_stream_cms_build_matches_batch(spark, tmp_path):
    """cms_build streams as written (posexplode + groupBy count): the
    complete-mode snapshot after replaying all micro-batches equals the
    batch sketch over the same rows — and its state is bounded at
    depth*width counters no matter how long the stream runs."""
    from hbase_packet_inspector_spark.operators.sketch import cms_build
    import time

    src = str(tmp_path / "cms_stream")
    batches = [
        [(i % 7,) for i in range(50)],
        [(i % 5,) for i in range(40)],
        [(99,)] * 10,  # a new hot key arriving late
    ]
    for rows in batches:
        spark.createDataFrame(rows, "user_id long").coalesce(1).write.mode(
            "append").parquet(src)
        time.sleep(1.1)
    snapshots: list = []
    q = (
        cms_build(
            spark.readStream.schema("user_id long")
            .option("maxFilesPerTrigger", 1).parquet(src),
            "user_id", width=16, depth=3)
        .writeStream.outputMode("complete")
        .foreachBatch(lambda b, _i: snapshots.append(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()
    assert len(snapshots) >= 2  # state really crossed micro-batches
    final = {(r["seed"], r["bucket"]): r["n"] for r in snapshots[-1]}
    all_rows = [r for b in batches for r in b]
    batch = {
        (r["seed"], r["bucket"]): r["n"]
        for r in cms_build(
            spark.createDataFrame(all_rows, "user_id long"),
            "user_id", width=16, depth=3).collect()
    }
    assert final == batch
    assert len(final) <= 3 * 16  # the fixed-size state bound


def test_stream_correlate_evicts_idle_connection_state(spark, tmp_path):
    """Idle-connection lifecycle (reference trim-state, core.clj:285-296,
    at the KEY level): once the event-time watermark passes a
    connection's latest packet + TTL, its whole state ROW must be
    removed — proven via the state-store metrics in the query progress
    (numRowsRemoved fires; the final batch's numRowsTotal counts only
    the live connection) with correlation outputs unaffected. Eviction
    is the live-mode OPT-IN (explicit watermark; the default None keeps
    replay-safe unbounded state)."""
    from hbase_packet_inspector_spark.streaming.pipeline import (
        stream_correlate,
    )
    import time

    src = str(tmp_path / "ev")
    # batch 1: connection 40000 — one matched get at t0
    b1 = [fx._ev(0, 0, True, 1, "get", table=fx.TABLE, region=fx.REGION,
                 row="a"),
          fx._ev(1, 50, False, 1, None, cells=1)]
    # batch 2: connection 40001, 10 minutes later — closing this batch
    # advances the watermark (600 s - 2 min delay = 480 s) past
    # connection 40000's timeout (0.05 s + 120 s TTL)
    b2 = [fx._ev(10, 600_000, True, 2, "get", table=fx.TABLE,
                 region=fx.REGION, row="b", port=40001),
          fx._ev(11, 600_050, False, 2, None, cells=1, port=40001)]
    # batch 3: any further traffic — the timed-out key fires HERE
    b3 = [fx._ev(20, 601_000, True, 3, "get", table=fx.TABLE,
                 region=fx.REGION, row="c", port=40001),
          fx._ev(21, 601_050, False, 3, None, cells=1, port=40001)]
    fx.to_df(spark, b1).coalesce(1).write.parquet(src)
    for part in (b2, b3):
        time.sleep(1.1)  # file source orders micro-batches by mod time
        fx.to_df(spark, part).coalesce(1).write.mode("append").parquet(src)

    events = (spark.readStream.schema(fx.RPC_EVENT_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out: list = []
    q = (
        stream_correlate(events, watermark="2 minutes")
        .writeStream.foreachBatch(lambda df, _id: out.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # correlation itself unaffected: every response matched its request
    responses = [r for r in out if not r.inbound]
    assert len(responses) == 3
    assert all(r.elapsed is not None and r.method == "get"
               for r in responses)

    progs = [p for p in q.recentProgress if p.get("stateOperators")]
    assert len(progs) >= 3
    removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                  for p in progs)
    assert removed >= 1, "idle connection's state row was never removed"
    # after the last batch only the live connection (40001) holds state
    assert progs[-1]["stateOperators"][0]["numRowsTotal"] == 1
    # mid-stream both connections held state (the row existed to remove)
    assert max(p["stateOperators"][0]["numRowsTotal"] for p in progs) == 2


def test_stream_scd2_idle_retirement_flushes_open_version(spark, tmp_path):
    """Opt-in idle-key retirement for streaming SCD2: with idle_ttl_s
    set, a key quiet past the TTL in event time has its OPEN version
    flushed (valid_to_epoch NULL marks it final-at-retirement) and its
    state row dropped; closed-version semantics are unchanged."""
    from hbase_packet_inspector_spark.streaming.pipeline import stream_scd2
    import time

    src = str(tmp_path / "scd2_ttl")
    schema = "user_id long, ts long, attr string, event_id long"
    batches = [
        # user 1: A then B (closes A); then goes quiet forever
        [(1, 10, "A", 100), (1, 20, "B", 101)],
        # user 2 arrives 10 min later: watermark -> 610 - 10 = 600,
        # past user 1's retirement point 20 + 60
        [(2, 610, "X", 200)],
        # one more batch so the timed-out key fires
        [(2, 620, "Y", 201)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append").parquet(src)
        time.sleep(1.1)
    out: list = []
    q = (
        stream_scd2(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(src),
            key_col="user_id", attr_col="attr", ts_col="ts",
            seq_col="event_id", idle_ttl_s=60, watermark="10 seconds")
        .writeStream.foreachBatch(lambda b, _i: out.extend(b.collect()))
        .trigger(availableNow=True)
        .option("checkpointLocation", src + "/_ck")
        .start()
    )
    q.awaitTermination()

    rows = {(r["user_id"], r["version"], r["attr"], r["valid_from_epoch"],
             r["valid_to_epoch"]) for r in out}
    assert (1, 1, "A", 10, 20) in rows          # normal close unchanged
    assert (1, 2, "B", 20, None) in rows        # retirement flush
    # user 2's X->Y close also flows; its open Y stays in state (live)
    assert (2, 1, "X", 610, 620) in rows
    assert not any(r[0] == 2 and r[4] is None for r in rows)
    progs = [p for p in q.recentProgress if p.get("stateOperators")]
    assert sum(p["stateOperators"][0].get("numRowsRemoved", 0)
               for p in progs) >= 1
    assert progs[-1]["stateOperators"][0]["numRowsTotal"] == 1


def test_unbounded_state_warning_once(spark, tmp_path, workload):
    """watermark=None on a STREAMING frame warns exactly once per
    process that idle-connection state is never evicted (the r10
    default change from '2 minutes' — live deployments must opt in);
    batch frames and explicit watermarks never warn."""
    import warnings as _w

    from hbase_packet_inspector_spark.streaming import pipeline as sp

    src = str(tmp_path / "events")
    fx.to_df(spark, workload).write.parquet(src)
    stream = spark.readStream.schema(fx.RPC_EVENT_SCHEMA).parquet(src)

    sp._WARNED_UNBOUNDED_STATE = False
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        sp.stream_correlate(stream)           # plan-only: no query start
        first = [c for c in caught if "never evicted" in str(c.message)]
        sp.stream_correlate(stream)           # second call: silent
        again = [c for c in caught if "never evicted" in str(c.message)]
    assert len(first) == 1 and len(again) == 1

    sp._WARNED_UNBOUNDED_STATE = False
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        sp.stream_correlate(stream, watermark="2 minutes")
        batch = spark.read.schema(fx.RPC_EVENT_SCHEMA).parquet(src)
        sp.stream_correlate(batch)            # batch frame: replay path
    assert not [c for c in caught if "never evicted" in str(c.message)]


def test_stream_correlate_state_plateaus_under_ephemeral_churn(
        spark, tmp_path):
    """Scaled-down twin of tools/probe_stream_state.py (the 1M-connection
    probe recorded in SCALE.md): 6 micro-batches of 200 FRESH
    connections each, spaced 300 s in event time with watermark=2min,
    must hold numRowsTotal at a ~2-batch plateau (current batch + the
    previous one awaiting its timeout sweep) — NOT grow with total
    connections seen. This is the bounded-state property that lets the
    correlator survive millions of short-lived TCP connections live."""
    import time

    from hbase_packet_inspector_spark.streaming.pipeline import (
        stream_correlate,
    )

    n_batches, conns = 6, 200
    src = str(tmp_path / "churn")
    eid = 0
    for b in range(n_batches):
        rows = []
        for c in range(conns):
            port = 40000 + b * conns + c
            base = b * 300_000
            rows.append(fx._ev(eid, base, True, 1, "get", table=fx.TABLE,
                               region=fx.REGION, row="k", port=port))
            rows.append(fx._ev(eid + 1, base + 50, False, 1, None,
                               cells=1, port=port))
            eid += 2
        fx.to_df(spark, rows).coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.05)  # file source orders micro-batches by mod time

    matched = []
    q = (
        stream_correlate(
            spark.readStream.schema(fx.RPC_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src),
            watermark="2 minutes",
        )
        .writeStream.foreachBatch(
            lambda df, _id: matched.append(
                df.where(~df.inbound & df.elapsed.isNotNull()).count()))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # correlation unaffected by the churn: every response matched
    assert sum(matched) == n_batches * conns

    progs = [p for p in q.recentProgress if p.get("stateOperators")]
    totals = [p["stateOperators"][0]["numRowsTotal"] for p in progs]
    removed = sum(p["stateOperators"][0].get("numRowsRemoved", 0)
                  for p in progs)
    # plateau: peak is ~2 batches of connections, never the 1200 total
    assert max(totals) <= 2 * conns
    assert totals[-1] <= 2 * conns
    # every batch except the last two had its connections swept
    assert removed >= (n_batches - 2) * conns
