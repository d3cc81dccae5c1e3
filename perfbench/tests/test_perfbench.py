"""The benchmark's own checks: its inputs are reproducible, its encoder is
the exact inverse of the engine's decoder, and a tiny seed runs every
workload end to end against its ground truth.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import filecmp
import os

import pytest

from hbase_packet_inspector_spark.sources import hbase_wire as W
from perfbench import checks, probes, traffic, workloads


def _write_all(model: traffic.Model, root: str) -> list[str]:
    traffic.write_pcaps(model, os.path.join(root, "pcap"))
    traffic.write_events(model, os.path.join(root, "events"))
    traffic.write_stream_parts(model, os.path.join(root, "parts"), 3)
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs)


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    files = _write_all(traffic.build(3, 300), a)
    assert files == _write_all(traffic.build(3, 300), b)
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert not mismatch and not errors
    _write_all(traffic.build(4, 300), c)
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch


def _decoded(parsed: dict) -> dict:
    """The decoder's output in the model's shape: no None values, child
    structs reduced to the fields the wire carries."""
    out = {k: v for k, v in parsed.items() if v is not None}
    if "actions" in out:
        out["actions"] = [{k: a.get(k) for k in
                           ("method", "table", "region", "row", "cells",
                            "durability")} for a in out["actions"]]
    if "results" in out:
        out["results"] = [{k: r.get(k) for k in ("cells", "error")}
                          for r in out["results"]]
    return out


def test_frames_round_trip():
    model = traffic.build(5, 1500)
    pending: dict = {}
    kinds = set()
    for conn in model.conns:
        for _, inbound, group in conn.sends:
            for msg in group:
                assert int.from_bytes(msg.frame[:4], "big") == len(msg.frame) - 4
                key = (conn.client, conn.port, msg.decoded["call_id"])
                if inbound:
                    got = W.parse_request_frame(msg.frame[4:])
                    pending[key] = got["method"]
                else:
                    got = W.parse_response_frame(msg.frame[4:], pending.get(key))
                want = {k: v for k, v in msg.decoded.items() if v is not None}
                assert _decoded(got) == want
                kinds.add((inbound, got["method"], "error" in want))
    assert {(True, m, False) for m in ("get", "put", "multi", "open-scanner",
                                       "next-rows", "close-scanner")} <= kinds
    assert {(False, "get", True), (False, "unknown", False)} <= kinds


def test_capture_shape():
    model = traffic.build(6, 400)
    keys = [(c.client, c.port) for c in model.conns]
    assert len(keys) == len(set(keys))
    packets = traffic.capture_packets(model)
    payloads = [len(f) - 54 for pk in packets.values() for _, f in pk]
    assert max(payloads) == traffic.MSS
    assert sum(len(g) > 1 for c in model.conns for _, _, g in c.sends) > 0
    truth = checks.summary(model.tables)
    assert truth["responses"]["unknown"][0] == 2


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_tiny_seed_end_to_end(name, tmp_path):
    w = workloads.WORKLOADS[name](21, str(tmp_path), rpcs=150, cpus=2)
    w.prepare()
    w.start()
    p = w.run_pass(traced=False)
    assert p.failed == 0, p.info["bad"]
    assert len(p.ops_ms) == w.ops_per_pass


def test_stream_probe_matches_its_model(tmp_path):
    w = workloads.TableSql(22, str(tmp_path), rpcs=150, cpus=2)
    w.stream_rpcs = 120
    w.prepare()
    w.start()
    with probes.ProcTree() as tree:
        w.tree = tree
        met = w.stream_probe()
    assert w.probe_checks["streaming"] == []
    assert met["streaming.batches"] == w.stream_files
    assert met["streaming.input_rows"] == len(w.stream_model.events)


def test_exact_check_catches_one_wrong_cell():
    model = traffic.build(7, 200)
    want = model.tables
    got = {t: [dict(r) for r in rows] for t, rows in want.items()}
    assert checks.diff_tables(got, want) == []
    got["requests"][5]["row"] = "row-x"
    got["results"][0]["error"] = "boom"
    assert checks.diff_tables(got, want) == ["requests", "results"]


def test_truncated_ts_is_tolerated_only_at_one_microsecond():
    model = traffic.build(8, 200)
    want = model.tables
    got = {t: [dict(r) for r in rows] for t, rows in want.items()}
    got["requests"][3]["ts"] -= 1
    fixed, cut = checks.snap_truncated_ts(got, want)
    assert cut == 1 and checks.diff_tables(fixed, want) == []
    got["requests"][3]["ts"] -= 1
    fixed, cut = checks.snap_truncated_ts(got, want)
    assert cut == 0 and checks.diff_tables(fixed, want) == ["requests"]
