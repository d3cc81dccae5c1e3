"""File mode on an HBase RPC protobuf capture, built in-repo by the
benchmark's seeded traffic model (``perfbench.traffic``): the fused
framing + decode pass ``Engine.load_pcap`` runs must give exactly the rows
of the layered ``reassemble`` -> ``decode_hbase_frames`` composition, and
the four tables must equal the model's."""

import struct

import pytest

from hbase_packet_inspector_spark.engine import Engine
from hbase_packet_inspector_spark.operators.reassembly import reassemble
from hbase_packet_inspector_spark.sources import pcap as P
from hbase_packet_inspector_spark.sources.hbase_decode import decode_hbase_frames
from perfbench import checks, traffic

PORTS = (traffic.SERVER_PORT,)


@pytest.fixture(scope="module")
def model():
    return traffic.build(5, 80, conns=8)


def _packets(path: str) -> list[tuple]:
    """One capture file as ``build_pcap`` tuples, ts in µs (exact)."""
    with open(path, "rb") as f:
        blob = f.read()
    return [
        (p["ts"].value // 1000, p["src_addr"], p["src_port"],
         p["dst_addr"], p["dst_port"], p["data"])
        for p in P._parse_capture_bytes(path, blob)
    ]


def _write(path, packets) -> None:
    path.write_bytes(P.build_pcap([(us / 1e6, *rest) for us, *rest in packets]))


def _layered(spark, path: str):
    chunks = P.packets_to_chunks(P.read_pcap(spark, path), PORTS)
    return decode_hbase_frames(reassemble(chunks))


def _multiset(df) -> list[str]:
    return sorted(repr(sorted(r.asDict(recursive=True).items()))
                  for r in df.collect())


@pytest.fixture(scope="module")
def captures(model, tmp_path_factory):
    """Three captures of one model: one classic pcap per RegionServer as
    the benchmark writes them; a rotated copy that cuts each server's
    packets into two files mid-capture, so every connection spans both;
    and a copy where one response's length prefix is invalid (B14)."""
    root = tmp_path_factory.mktemp("hbase_capture")
    paths = traffic.write_pcaps(model, str(root / "plain"))
    rotated, broken = root / "rotated", root / "broken"
    rotated.mkdir()
    broken.mkdir()
    conn = model.conns[0]
    corrupted = False
    for i, path in enumerate(paths):
        pkts = _packets(path)
        half = len(pkts) // 2
        _write(rotated / f"rs{i:02d}-a.pcap", pkts[:half])
        _write(rotated / f"rs{i:02d}-b.pcap", pkts[half:])
        for j, (us, src, sport, dst, dport, data) in enumerate(pkts):
            (n,) = struct.unpack_from(">i", data, 0)
            if (not corrupted and (dst, dport) == (conn.client, conn.port)
                    and 4 + n == len(data)):
                # one whole response in one segment: drop exactly it
                pkts[j] = (us, src, sport, dst, dport, b"\xff" * 4 + data[4:])
                corrupted = True
        _write(broken / f"rs{i:02d}.pcap", pkts)
    assert corrupted
    return {"plain": str(root / "plain" / "*.pcap"),
            "rotated": str(rotated / "*.pcap"),
            "broken": str(broken / "*.pcap")}


@pytest.mark.parametrize("name", ["plain", "rotated", "broken"])
def test_fused_decode_equals_layered(spark, captures, name):
    fused = Engine(spark).load_pcap(captures[name], ports=PORTS)._events
    got = _multiset(fused)
    assert got and got == _multiset(_layered(spark, captures[name]))


def test_broken_direction_keeps_other_direction(spark, model, captures):
    """B14 on one direction of one connection: that direction loses the
    corrupted response, the requests on the same connection all decode."""
    conn = model.conns[0]

    def events(name):
        ev = Engine(spark).load_pcap(captures[name], ports=PORTS)._events
        rows = ev.where((ev.client == conn.client) & (ev.port == conn.port))
        return {d: sorted(repr(sorted(kv for kv in r.asDict(True).items()
                                      if kv[0] != "event_id"))
                          for r in rows.where(ev.inbound == d).collect())
                for d in (True, False)}

    plain, broken = events("plain"), events("broken")
    assert broken[True] == plain[True]
    assert len(broken[False]) == len(plain[False]) - 1
    assert set(broken[False]) < set(plain[False])


@pytest.mark.parametrize("name", ["plain", "rotated"])
def test_register_tables_match_model(spark, model, captures, tmp_path, name):
    eng = Engine(spark).load_pcap(captures[name], ports=PORTS).register_tables()
    for table, df in eng.tables.items():
        df.write.parquet(str(tmp_path / table))
    got = checks.read_tables(str(tmp_path))
    assert all(got.values())
    assert checks.diff_tables(got, model.tables) == []


def test_load_pcap_plan_fuses_framing_and_decode(spark, captures):
    """One grouped Python stage and one shuffle fewer than the layered
    composition."""
    def shape(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("FlatMapGroupsInPandas"), plan.count("Exchange ")

    fused = Engine(spark).load_pcap(captures["plain"], ports=PORTS)._events
    (f_groups, f_exchanges), (l_groups, l_exchanges) = (
        shape(fused), shape(_layered(spark, captures["plain"])))
    assert (f_groups, l_groups) == (1, 2)
    assert f_exchanges == l_exchanges - 1
