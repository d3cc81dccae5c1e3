"""Pcap file-mode tests: binary capture bytes -> packets -> chunks ->
reassembled messages -> rpc_events -> the 4 SQL views, mirroring the
reference's end-to-end fixture tests (core_test.clj:248-377) with a
synthesized capture instead of dev-resources/*.pcap."""

import json
import struct

from hbase_packet_inspector_spark.engine import Engine
from hbase_packet_inspector_spark.sources import pcap as P

CLIENT = "10.0.0.7"
SERVER = "10.0.0.1"
CPORT = 40123
SPORT = 16020


def frame(obj: dict) -> bytes:
    body = json.dumps(obj).encode()
    return struct.pack(">i", len(body)) + body


def req(call_id, method="get", **kw):
    return frame({"call_id": call_id, "method": method, "table": "t1", **kw})


def res(call_id, elapsed_src=None, **kw):
    return frame({"call_id": call_id, **kw})


def write_capture(tmp_path, packets, **kwargs):
    p = tmp_path / "cap.pcap"
    p.write_bytes(P.build_pcap(packets, **kwargs))
    return str(p)


def test_packet_decode(spark, tmp_path):
    path = write_capture(
        tmp_path,
        [
            (1000.0, CLIENT, CPORT, SERVER, SPORT, b"abc"),
            (1000.5, SERVER, SPORT, CLIENT, CPORT, b"defg"),
            # non-monitored traffic is decoded here, filtered later
            (1001.0, "10.0.0.9", 5555, "10.0.0.10", 80, b"x"),
        ],
    )
    rows = P.read_pcap(spark, path).orderBy("pkt_index").collect()
    assert [(r.src_addr, r.src_port, r.dst_port, r.length) for r in rows] == [
        (CLIENT, CPORT, SPORT, 3),
        (SERVER, SPORT, CPORT, 4),
        ("10.0.0.9", 5555, 80, 1),
    ]
    assert rows[0].data == b"abc"
    assert rows[0].ts.microsecond == 0 and rows[1].ts.microsecond == 500000


def test_raw_ip_and_nanos_variants(spark, tmp_path):
    path = write_capture(
        tmp_path,
        [(1000.0, CLIENT, CPORT, SERVER, SPORT, b"zz")],
        linktype=P.LINKTYPE_RAW_IP,
        nanos=True,
    )
    rows = P.read_pcap(spark, path).collect()
    assert len(rows) == 1 and rows[0].data == b"zz"


def test_port_filter_and_direction(spark, tmp_path):
    path = write_capture(
        tmp_path,
        [
            (1000.0, CLIENT, CPORT, SERVER, SPORT, b"req"),
            (1000.5, SERVER, SPORT, CLIENT, CPORT, b"res"),
            (1001.0, "10.0.0.9", 5555, "10.0.0.10", 80, b"skip"),
        ],
    )
    chunks = P.packets_to_chunks(P.read_pcap(spark, path)).collect()
    assert len(chunks) == 2  # B2: non-HBase ports dropped
    assert all(c.client == CLIENT and c.port == CPORT and c.server == SERVER
               for c in chunks)


def test_pcap_to_sql_end_to_end(spark, tmp_path):
    # two request/response pairs; the response to call 1 is fragmented
    # across two packets and call 2's request shares a packet with call 1's
    # (Nagle), exercising B4/B5 on real framing
    r2 = res(2, cells=1)
    packets = [
        (1000.0, CLIENT, CPORT, SERVER, SPORT, req(1, "get", row="r1")),
        (1000.2, CLIENT, CPORT, SERVER, SPORT, req(2, "put", cells=2, durability="use_default")),
        (1000.6, SERVER, SPORT, CLIENT, CPORT, res(1, cells=3)[:7]),
        (1000.8, SERVER, SPORT, CLIENT, CPORT, res(1, cells=3)[7:] + r2[:5]),
        (1001.0, SERVER, SPORT, CLIENT, CPORT, r2[5:]),
    ]
    eng = Engine(spark).load_pcap(write_capture(tmp_path, packets), decode="json")
    eng.register_tables()

    reqs = {r.call_id: r for r in eng.sql("SELECT * FROM requests").collect()}
    assert set(reqs) == {1, 2}
    assert reqs[1].method == "get" and reqs[1].row == "r1"
    assert reqs[2].method == "put" and reqs[2].cells == 2

    resp = {r.call_id: r for r in eng.sql(
        "SELECT * FROM responses ORDER BY call_id").collect()}
    assert set(resp) == {1, 2}
    # correlation fills method from the request; elapsed = res.ts - req.ts
    assert resp[1].method == "get" and resp[1].cells == 3
    assert resp[1].elapsed == 800  # 1000.8 (completion packet) - 1000.0
    assert resp[2].method == "put"
    assert resp[2].elapsed == 800  # 1001.0 - 1000.2


def test_volume_reassembly_end_to_end(spark, tmp_path):
    """Thousands of packets over 50 interleaved connections with deterministic
    random fragmentation/coalescing: every framed message must come back,
    per connection, in order (the reference's deferredFlush workload shape
    at 5x the packet count, core_test.clj:314-316)."""
    import random
    import struct as st

    from hbase_packet_inspector_spark.operators.reassembly import reassemble

    rng = random.Random(42)
    packets = []
    expected = {}
    t = 1_000.0
    for conn in range(50):
        cport = 40_000 + conn
        n_msgs = rng.randint(20, 60)
        msgs = [
            f"conn{conn}-msg{i}".encode() * rng.randint(1, 4)
            for i in range(n_msgs)
        ]
        expected[cport] = msgs
        stream = b"".join(st.pack(">i", len(m)) + m for m in msgs)
        # fragment aggressively: one cut every ~10-25 bytes, so most
        # messages span several packets and most packets carry partial
        # frames
        cuts = sorted(rng.sample(range(1, len(stream)), min(len(stream) - 1,
                      max(1, len(stream) // rng.randint(10, 25)))))
        prev = 0
        for c in cuts + [len(stream)]:
            packets.append((t, CLIENT, cport, SERVER, SPORT, stream[prev:c]))
            t += 0.001
            prev = c
    rng.shuffle(packets)  # interleave connections; ts still orders each one
    packets.sort(key=lambda p: p[0])
    assert len(packets) > 3_000

    path = tmp_path / "vol.pcap"
    path.write_bytes(P.build_pcap(packets))
    msgs = reassemble(
        P.packets_to_chunks(P.read_pcap(spark, str(path)))
    ).collect()
    got = {}
    for r in sorted(msgs, key=lambda r: (r.port, r.msg_seq)):
        got.setdefault(r.port, []).append(r.data)
    assert got == expected


def test_pcapng_matches_classic_pcap(spark, tmp_path):
    """The pcapng container must decode to EXACTLY the classic-pcap
    packet rows for the same packets (µs and ns timestamp resolutions,
    Ethernet and raw-IP link types)."""
    pkts = [
        (1000.000123, CLIENT, CPORT, SERVER, SPORT, b"abc"),
        (1000.5, SERVER, SPORT, CLIENT, CPORT, b"defg"),
        (1001.0, "10.0.0.9", 5555, "10.0.0.10", 80, b"x"),
    ]
    for lt in (P.LINKTYPE_ETHERNET, P.LINKTYPE_RAW_IP):
        for nanos in (False, True):
            d = tmp_path / f"lt{lt}_n{nanos}"
            d.mkdir()
            (d / "a.pcap").write_bytes(
                P.build_pcap(pkts, linktype=lt, nanos=nanos))
            (d / "b.pcapng").write_bytes(
                P.build_pcapng(pkts, linktype=lt, nanos=nanos))
            rows = P.read_pcap(spark, str(d / "*")).collect()
            classic = sorted(
                (tuple(r.asDict(True).items()) for r in rows
                 if r.path.endswith("a.pcap")))
            ng = sorted(
                (tuple(r.asDict(True).items()) for r in rows
                 if r.path.endswith("b.pcapng")))
            strip = lambda t: tuple(kv for kv in t if kv[0] != "path")
            assert [strip(t) for t in ng] == [strip(t) for t in classic]
            assert len(ng) == 3


def test_pcapng_reference_fixture_reencapsulation(spark, tmp_path):
    """hbase_pcap_decode invariants on a pcapng RE-CAPTURE of a
    reference fixture: parse one of the reference's real HBase pcaps,
    re-serialize its packet stream as pcapng, and require the FULL
    pipeline (reassembly -> protobuf decode -> correlate -> tables) to
    produce identical requests/responses tables from both containers."""
    import os
    import pytest
    fix = "/root/reference/dev-resources/randomRead.pcap"
    if not os.path.exists(fix):
        pytest.skip("reference pcap fixtures not present")
    blob = open(fix, "rb").read()
    pkts = list(P._parse_capture_bytes("f", blob))
    assert pkts, "fixture parsed empty"
    # re-encapsulate the decoded packet stream (raw-IP framing: the
    # tuple form carries no MACs) at µs resolution
    tuples = [
        (p["ts"].timestamp(), p["src_addr"], p["src_port"],
         p["dst_addr"], p["dst_port"], p["data"])
        for p in pkts
    ]
    ng = tmp_path / "re.pcapng"
    ng.write_bytes(P.build_pcapng(tuples, linktype=P.LINKTYPE_RAW_IP))

    def table_sets(path):
        eng = Engine(spark).load_pcap(path, ports=(16201,))
        t = eng.register_tables().tables
        return {
            name: sorted(
                tuple((k, str(v)) for k, v in sorted(r.asDict(True).items())
                      if k != "event_id")
                for r in t[name].collect())
            for name in ("requests", "responses")
        }

    assert table_sets(str(ng)) == table_sets(fix)


def test_pcapng_garbage_never_raises():
    """Truncations and bit-flips of a valid pcapng file parse to a
    (possibly empty) packet list, never an exception — the classic
    parser's error-tolerance contract extended to the block walker."""
    pkts = [(1000.0 + i, CLIENT, CPORT + i, SERVER, SPORT, bytes([65 + i]) * 8)
            for i in range(4)]
    blob = P.build_pcapng(pkts)
    full = list(P._parse_capture_bytes("p", blob))
    assert len(full) == 4
    for cut in range(0, len(blob), 7):
        list(P._parse_capture_bytes("p", blob[:cut]))
    for pos in range(0, len(blob), 11):
        mutated = bytearray(blob)
        mutated[pos] ^= 0xFF
        list(P._parse_capture_bytes("p", bytes(mutated)))


def test_pcapng_spb_respects_idb_snaplen():
    """Simple Packet Block truncation (r10 ADVICE): captured length is
    min(original length, IDB snaplen) per the pcapng spec — bounding by
    the block body alone would sweep up to 3 alignment padding bytes
    into a snaplen-truncated frame's TCP payload. Build an SPB whose
    snaplen cuts mid-payload at a non-4-aligned point and assert the
    padding stays out."""
    import struct

    payload = b"ABCDEFGH"                      # 8 payload bytes
    frame = P._tcp_frame(CLIENT, CPORT, SERVER, SPORT, payload,
                         P.LINKTYPE_ETHERNET)  # 54 header + 8 = 62
    snaplen = len(frame) - 4                   # 58: cuts payload to 4

    def block(btype, body):
        pad = (-len(body)) % 4
        blen = 12 + len(body) + pad
        return (struct.pack("<II", btype, blen) + body + b"\x00" * pad
                + struct.pack("<I", blen))

    blob = block(P.PCAPNG_SHB, struct.pack("<IHHq", P.PCAPNG_BOM, 1, 0, -1))
    blob += block(P.PCAPNG_IDB,
                  struct.pack("<HHI", P.LINKTYPE_ETHERNET, 0, snaplen))
    # SPB: orig length = full frame, body carries only snaplen bytes
    # (+ 2 alignment pad bytes the parser must NOT count as capture)
    blob += block(P.PCAPNG_SPB,
                  struct.pack("<I", len(frame)) + frame[:snaplen])
    rows = list(P._parse_capture_bytes("p", blob))
    assert len(rows) == 1
    assert bytes(rows[0]["data"]) == payload[:4]  # not payload[:4]+b"\0\0"


def test_classic_pcap_ts_fraction_is_exact():
    """Sub-second fractions convert with integer math: through a float,
    249 µs read as 248 and 256229000 ns as 256228 µs."""
    import pandas as pd

    pkt = [(1000.0, CLIENT, CPORT, SERVER, SPORT, b"x")]
    for nanos, frac, want_us in ((False, 249, 249),
                                 (True, 256_229_000, 256_229)):
        blob = bytearray(P.build_pcap(pkt, nanos=nanos))
        struct.pack_into("<I", blob, 24 + 4, frac)  # first record's ts_frac
        (row,) = P._parse_capture_bytes("p", bytes(blob))
        assert row["ts"] == pd.Timestamp(1000, unit="s") + pd.Timedelta(
            want_us, unit="us")
