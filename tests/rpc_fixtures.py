"""Deterministic synthetic rpc_events workloads (FIXTURES.md §3).

These mirror the reference's end-to-end pcap fixtures (hbase pe workloads,
reference dev-resources/generate-fixtures.sh:32-72 and
test/hbase_packet_inspector/core_test.clj:248-377): known record counts and
cell math so tests can assert the same workload invariants.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession

from hbase_packet_inspector_spark.schema import RPC_EVENT_SCHEMA

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)
CLIENT = "10.0.0.7"
SERVER = "10.0.0.1"
TABLE = "TestTable"
REGION = "a" * 32


def _ms(offset_ms: int) -> dt.datetime:
    return T0 + dt.timedelta(milliseconds=offset_ms)


def _ev(event_id, ts_ms, inbound, call_id, method, *, port=40000, size=100,
        table=None, region=None, row=None, stoprow=None, cells=None,
        durability=None, scanner=None, caching=None, error=None,
        actions=None, results=None, client=CLIENT, server=SERVER):
    return {
        "event_id": event_id, "ts": _ms(ts_ms), "inbound": inbound,
        "client": client, "port": port, "server": server, "call_id": call_id,
        "method": method, "size": size, "table": table, "region": region,
        "row": row, "stoprow": stoprow, "cells": cells,
        "durability": durability, "scanner": scanner, "caching": caching,
        "error": error, "actions": actions, "results": results,
    }


def _action(method, cells=1, row="row", durability="use_default"):
    return {"method": method, "table": TABLE, "region": REGION, "row": row,
            "cells": cells, "durability": durability}


def _result(cells=1, error=None):
    return {"method": None, "table": None, "region": None, "row": None,
            "cells": cells, "durability": None, "error": error}


def sequential_write() -> list[dict]:
    """1 multi of 100 puts (1 cell each, >100KB) + its response
    (core_test.clj:269-282)."""
    acts = [_action("put", cells=1, row=f"row{i:04d}") for i in range(100)]
    return [
        _ev(0, 0, True, 1, "multi", size=110_000, actions=acts),
        _ev(1, 35, False, 1, None, size=200,
            results=[_result(cells=1) for _ in range(100)]),
    ]


def random_read() -> list[dict]:
    """5 multi request/response pairs of 20 gets each
    (core_test.clj:284-300)."""
    out, eid = [], 0
    for i in range(5):
        acts = [_action("get", cells=None, row=f"row{i}_{j}", durability=None)
                for j in range(20)]
        out.append(_ev(eid, i * 100, True, 10 + i, "multi",
                       size=21_000, actions=acts))
        out.append(_ev(eid + 1, i * 100 + 12, False, 10 + i, None,
                       size=21_000,
                       results=[_result(cells=1) for _ in range(20)]))
        eid += 2
    return out


def scan() -> list[dict]:
    """open-scanner -> 5 next-rows (20 cells each) -> close; next-rows must
    inherit the table via scanner state (core_test.clj:302-312)."""
    sid = 77
    out = [
        _ev(0, 0, True, 30, "open-scanner", table=TABLE, region=REGION,
            row="startrow", stoprow="stoprow", caching=20),
        _ev(1, 10, False, 30, None, scanner=sid),
    ]
    eid, cid = 2, 31
    for i in range(5):
        out.append(_ev(eid, 20 + i * 50, True, cid, "next-rows", scanner=sid))
        out.append(_ev(eid + 1, 30 + i * 50, False, cid, None, scanner=sid,
                       cells=20, size=21_000))
        eid, cid = eid + 2, cid + 1
    out.append(_ev(eid, 300, True, cid, "close-scanner", scanner=sid))
    out.append(_ev(eid + 1, 310, False, cid, None, scanner=sid))
    return out


def increments(n: int = 100, method: str = "increment") -> list[dict]:
    """n request/response pairs of one mutation method
    (core_test.clj:327-338; deferredFlush uses n=2000, :314-316)."""
    out = []
    for i in range(n):
        out.append(_ev(2 * i, i * 10, True, 100 + i, method, table=TABLE,
                       region=REGION, row=f"r{i}", cells=1,
                       durability="use_default"))
        out.append(_ev(2 * i + 1, i * 10 + 3, False, 100 + i, None, cells=1))
    return out


def small_scan() -> list[dict]:
    """2 small-scans totalling 200 cells on their responses
    (core_test.clj:318-325)."""
    return [
        _ev(0, 0, True, 50, "small-scan", table="t", row="a", stoprow="z",
            caching=100),
        _ev(1, 10, False, 50, None, cells=100),
        _ev(2, 100, True, 51, "small-scan", table="t", row="a", stoprow="z",
            caching=100),
        _ev(3, 110, False, 51, None, cells=100),
    ]


def unknown_response() -> list[dict]:
    """Response with no stored request => method 'unknown', row still
    emitted (hbase_test.clj:147-154)."""
    return [_ev(0, 0, False, 999, None, cells=3)]


def ttl_expiry() -> list[dict]:
    """Request then response 121s later: state expired => 'unknown', no
    elapsed (core.clj:69-72, 285-296)."""
    return [
        _ev(0, 0, True, 60, "get", table=TABLE, region=REGION, row="k"),
        _ev(1, 121_000, False, 60, None, cells=1),
    ]


def call_id_reuse() -> list[dict]:
    """Same call_id used twice on one connection: each response must match
    its own (nearest prior) request — the as-of caveat of SURVEY.md §2 B6."""
    return [
        _ev(0, 0, True, 7, "get", table=TABLE, region=REGION, row="a"),
        _ev(1, 10, False, 7, None, cells=1),
        _ev(2, 5_000, True, 7, "put", table=TABLE, region=REGION, row="b",
            cells=2, durability="use_default"),
        _ev(3, 5_020, False, 7, None, cells=None),
    ]


def overwritten_request() -> list[dict]:
    """Two requests then one response on the same key: the response matches
    the LATEST request (hash-map overwrite, core.clj:195-207); a following
    second response finds deleted state => unknown."""
    return [
        _ev(0, 0, True, 8, "get", table=TABLE, region=REGION, row="a"),
        _ev(1, 100, True, 8, "put", table=TABLE, region=REGION, row="b",
            cells=2, durability="use_default"),
        _ev(2, 200, False, 8, None, cells=None),
        _ev(3, 300, False, 8, None, cells=None),
    ]


def single_action_multi() -> list[dict]:
    """1-action multi is promoted to look like the plain op (D2,
    core.clj:266-267) and yields NO child rows."""
    return [
        _ev(0, 0, True, 9, "multi", actions=[_action("put", cells=3, row="x")]),
        _ev(1, 10, False, 9, None, results=[_result(cells=3)]),
    ]


def to_df(spark: SparkSession, rows: list[dict]) -> DataFrame:
    return spark.createDataFrame(rows, RPC_EVENT_SCHEMA)
