"""TCP reassembly tests mirroring the reference's framing semantics
(core_test.clj fragmentation/Nagle coverage via deferredFlush, core.clj:86-100)."""

import datetime as dt
import struct

from hbase_packet_inspector_spark.operators.reassembly import reassemble
from hbase_packet_inspector_spark.schema import TCP_CHUNK_SCHEMA

T0 = dt.datetime(2024, 1, 1)


def chunk(eid, ms, data, client="10.0.0.7", port=40000):
    return {
        "event_id": eid, "ts": T0 + dt.timedelta(milliseconds=ms),
        "client": client, "port": port, "server": "10.0.0.1",
        "src_port": port, "dst_port": 16020, "data": data,
    }


def frame(payload: bytes) -> bytes:
    return struct.pack(">i", len(payload)) + payload


def run(spark, chunks):
    df = spark.createDataFrame(chunks, TCP_CHUNK_SCHEMA)
    return sorted(
        reassemble(df).collect(), key=lambda r: (r.client, r.port, r.msg_seq)
    )


def test_single_message(spark):
    rows = run(spark, [chunk(0, 0, frame(b"hello"))])
    assert len(rows) == 1 and rows[0].data == b"hello"


def test_fragmented_message(spark):
    f = frame(b"A" * 10)
    rows = run(spark, [chunk(0, 0, f[:3]), chunk(1, 5, f[3:8]), chunk(2, 9, f[8:])])
    assert len(rows) == 1
    assert rows[0].data == b"A" * 10
    # completion timestamp = last fragment's packet ts
    assert rows[0].ts == T0 + dt.timedelta(milliseconds=9)


def test_multi_message_per_packet(spark):
    # B5: Nagle coalescing — one packet carries 3 messages
    data = frame(b"one") + frame(b"two") + frame(b"three")
    rows = run(spark, [chunk(0, 0, data)])
    assert [r.data for r in rows] == [b"one", b"two", b"three"]
    assert [r.msg_seq for r in rows] == [0, 1, 2]


def test_message_spanning_and_coalesced(spark):
    # packet1: msg1 + half of msg2; packet2: rest of msg2 + msg3
    m1, m2, m3 = frame(b"aa"), frame(b"bbbb"), frame(b"cc")
    p1 = m1 + m2[:4]
    p2 = m2[4:] + m3
    rows = run(spark, [chunk(0, 0, p1), chunk(1, 5, p2)])
    assert [r.data for r in rows] == [b"aa", b"bbbb", b"cc"]


def test_invalid_length_drops_connection_buffer(spark):
    # mid-stream fragment without header: huge/negative length => discard
    bad = struct.pack(">i", -5) + b"garbage"
    rows = run(spark, [chunk(0, 0, bad), chunk(1, 5, frame(b"ok"))])
    # after the reset, the next well-formed frame parses
    assert [r.data for r in rows] == [b"ok"]


def test_connections_isolated(spark):
    rows = run(
        spark,
        [
            chunk(0, 0, frame(b"c1"), port=40000),
            chunk(1, 0, frame(b"c2"), port=40001),
        ],
    )
    assert {(r.port, r.data) for r in rows} == {(40000, b"c1"), (40001, b"c2")}


def test_group_frames_each_direction_alone():
    """One (client, port) group holds both directions, interleaved, with a
    segment that merges two messages and starts a third: every direction
    frames against its own buffer and numbers its own msg_seq, exactly as
    when it is framed alone."""
    import pandas as pd

    from hbase_packet_inspector_spark.operators.reassembly import (
        _reassemble_group,
    )

    req = frame(b"get-1") + frame(b"get-2") + frame(b"multi-3" * 40)
    res = frame(b"r1" * 30) + frame(b"r2") + frame(b"r3")
    # (ms, chunk); the merged segment: get-1 and get-2 whole plus the
    # head of multi-3, whose tail arrives after two response segments
    inbound = [(0, req[:30]), (7, req[30:])]
    outbound = [(2, res[:20]), (4, res[20:70]), (9, res[70:])]
    rows = [dict(chunk(i, ms, d), src_port=40000, dst_port=16020)
            for i, (ms, d) in enumerate(inbound)]
    rows += [dict(chunk(10 + i, ms, d), src_port=16020, dst_port=40000)
             for i, (ms, d) in enumerate(outbound)]

    def framed(chunks):
        out = _reassemble_group(pd.DataFrame(chunks).sort_values("ts"))
        return sorted(
            (r.inbound, r.msg_seq, r.ts, r.server, r.data)
            for r in out.itertuples())

    both = framed(rows)
    assert both == sorted(framed(rows[:2]) + framed(rows[2:]))
    assert [m[4] for m in both if m[0]] == [b"get-1", b"get-2", b"multi-3" * 40]
    assert [m[4] for m in both if not m[0]] == [b"r1" * 30, b"r2", b"r3"]
    assert [m[1] for m in both] == [0, 1, 2, 0, 1, 2]
