"""Seeded HBase RegionServer traffic model and its three input forms.

One model, drawn from ``random.Random(seed)``, is written as
- classic-pcap captures, one file per RegionServer (file mode),
- one ``RPC_EVENT_SCHEMA`` parquet file (events mode),
- time-ordered parquet part files for the streaming file replay,
and yields the rows the four tables must hold, from which the ground
truth and the expected query results are derived.

Traffic: each TCP connection has its own client ip:port and talks to one
server. It runs Get, Mutate(put), Multi (2-50 actions) and Scan sessions
(open, next-rows, close) one after another, sometimes pipelining a burst
of small Gets that share one segment per direction. A few Get/put
responses are exceptions, some multi results carry one. The capture also
holds one response with no request and one Get answered after the
correlation TTL. Payloads are cut into segments of at most 1448 bytes.

The method mix, scan-session shape, caching, rows per scan response,
multi put share and response latency follow the reference's real capture
(see ``OP_WEIGHTS`` and the constants beside it). These are assumptions,
not measured anywhere: the share of pipelined Get bursts (the reference's
deferredFlush fixture has many messages per packet, but no rate), the
exception rates (2% of Get/put, 3% of multi results), multi sizes of 2-50
actions (the fixture has 20 and 100), 1-5 qualifiers per Get and 0-12
cells per Get response, 1-4 values of 8-96 bytes per put (the fixture
writes one 1000-byte cell, which would make capture bytes rather than
decode the bulk of the work), and the think time between calls.

The decoded view of every message (what the engine's decoder must
extract) is built here from the model, not by calling the engine.
"""

from __future__ import annotations

import os
import random
import struct
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from . import wire

BASE_US = 1_700_000_000 * 1_000_000
SERVER_PORT = 16020
MSS = 1448
TTL_MS = 120_000
TABLES = ("usertable", "orders", "events", "profile")
GET_ERROR = "org.apache.hadoop.hbase.NotServingRegionException"
RESULT_ERROR = "org.apache.hadoop.hbase.RegionTooBusyException"
ORPHAN_CALL_ID = 999_999

# Derived from the reference's real HBase 1.2.6 capture of its `hbase pe`
# fixtures (tests/fixtures/hbase_capture; scale in BASELINE.md): its 67
# requests make up 14 scan sessions, 6 multi, 4 get and 4 put calls (its 4
# small-scan and 3 open-region calls have no encoder here); 18 next-rows
# over 14 sessions; scanner caching 20; the cells of its next-rows
# responses; the elapsed ms of its 67 responses; its multi actions are half
# puts (one 100-put batch, five 20-get batches).
OP_WEIGHTS = (("scan", 14), ("multi", 6), ("get", 4), ("put", 4),
              ("burst", 2))  # the burst weight is assumed; see the docstring
NEXT_ROWS_PER_SESSION = (0, 1, 1, 1, 2, 2, 2)  # mean 9/7 = 18/14
CACHING = 20
FIXTURE_NEXT_ROWS_CELLS = (0,) * 6 + (8,) * 5 + (20,) * 5 + (2, 4)
FIXTURE_ELAPSED_MS = ((0,) * 2 + (1,) * 24 + (2,) * 15 + (3,) * 10
                      + (4, 4, 5, 7, 7, 8, 10, 11, 11, 12, 17, 18, 28, 59,
                         67, 98))
MULTI_PUT_SHARE = 0.5
_DURABILITY = {0: "use_default", 1: "skip_wal", 2: "async_wal",
               3: "sync_wal", 4: "fsync_wal"}

_ACTION = pa.struct([("method", pa.string()), ("table", pa.string()),
                     ("region", pa.string()), ("row", pa.string()),
                     ("cells", pa.int32()), ("durability", pa.string())])
_RESULT = pa.struct(list(_ACTION) + [pa.field("error", pa.string())])
EVENT_SCHEMA = pa.schema([
    pa.field("event_id", pa.int64(), False),
    pa.field("ts", pa.timestamp("us", tz="UTC"), False),
    pa.field("inbound", pa.bool_(), False),
    pa.field("client", pa.string(), False),
    pa.field("port", pa.int32(), False),
    pa.field("server", pa.string(), False),
    pa.field("call_id", pa.int32(), False),
    ("method", pa.string()),
    pa.field("size", pa.int32(), False),
    ("table", pa.string()), ("region", pa.string()), ("row", pa.string()),
    ("stoprow", pa.string()), ("cells", pa.int32()),
    ("durability", pa.string()), ("scanner", pa.int64()),
    ("caching", pa.int32()), ("error", pa.string()),
    ("actions", pa.list_(_ACTION)), ("results", pa.list_(_RESULT)),
])
_DECODED = [f.name for f in EVENT_SCHEMA][7:]
# request fields a matched response inherits and no response carries itself
_REQ_ONLY = ("row", "stoprow", "durability")


@dataclass
class Msg:
    """One RPC message in one direction: completion time (µs), the framed
    bytes (with length prefix) and the decoder's view of them."""
    ts: int
    inbound: bool
    frame: bytes
    decoded: dict


@dataclass
class Conn:
    client: str
    port: int
    server: str
    sends: list = field(default_factory=list)  # (ts, inbound, [Msg]) per segment group


@dataclass
class Model:
    conns: list
    events: list          # RPC_EVENT_SCHEMA dicts, event_id = global time order
    tables: dict          # expected rows of the four tables

    @property
    def servers(self) -> list[str]:
        return sorted({c.server for c in self.conns})


class _Builder:
    """Draws one seeded model; every random choice goes through ``rng``."""

    def __init__(self, seed: int, servers: int):
        self.rng = random.Random(seed)
        self.servers = [f"10.0.0.{i + 1}" for i in range(servers)]
        self.regions = {
            t: [(f"{t},r{k:02d},1600000000000.{self.rng.getrandbits(128):032x}."
                 .encode()) for k in range(4)]
            for t in TABLES
        }
        self.scanner_ids: set[int] = set()
        self.requests: list[dict] = []
        self.responses: list[dict] = []
        self.actions: list[dict] = []
        self.results: list[dict] = []

    # -- helpers -----------------------------------------------------------

    @staticmethod
    def _region_fields(name: bytes) -> tuple[str, str]:
        table = name.split(b",", 1)[0].decode()
        return table, name.rsplit(b".", 2)[-2].decode()

    def _row(self) -> bytes:
        return b"row-%06d" % self.rng.randrange(1_000_000)

    def _values(self) -> list[bytes]:
        return [b"v" * self.rng.randint(8, 96)
                for _ in range(self.rng.randint(1, 4))]

    def _latency_us(self) -> int:
        return (self.rng.choice(FIXTURE_ELAPSED_MS) * 1000
                + self.rng.randrange(1, 1000))

    def _rpc(self, conn: Conn, t: int, call_id: int, method: str, param: bytes,
             req_view: dict, body: bytes | None, resp_view: dict,
             row: dict, error: str | None = None,
             resp_delay_us: int | None = None) -> int:
        """One request/response pair on ``conn`` at ``t``; records the
        expected request/response rows. Returns the response time."""
        req = Msg(t, True, wire.request_frame(call_id, method, param),
                  {"call_id": call_id, **req_view})
        t_resp = t + (resp_delay_us or self._latency_us())
        resp = Msg(t_resp, False, wire.response_frame(call_id, body, error),
                   {"call_id": call_id, **resp_view,
                    **({"error": error} if error else {})})
        conn.sends.append((t, True, [req]))
        conn.sends.append((t_resp, False, [resp]))
        self._record(conn, req, resp, row)
        return t_resp

    def _record(self, conn: Conn, req: Msg | None, resp: Msg | None,
                row: dict) -> None:
        key = {"client": conn.client, "port": conn.port,
               "call_id": (req or resp).decoded["call_id"]}
        matched = (req is not None and resp is not None
                   and resp.ts // 1000 - req.ts // 1000 <= TTL_MS)
        if req is not None:
            self.requests.append({
                **key, "server": conn.server, "method": row["method"],
                "table": row["table"], "region": row["region"],
                **{c: row.get(c) for c in _REQ_ONLY},
                "cells": row["req_cells"], "batch": len(row.get("actions", ())),
                "size": len(req.frame) - 4, "ts": req.ts})
            for a in row.get("actions", ()):
                self.actions.append({**key, **a})
        if resp is not None:
            if matched:
                self.responses.append({
                    **key, "server": conn.server, "method": row["method"],
                    "table": row.get("resp_table", row["table"]),
                    "region": row.get("resp_region", row["region"]),
                    **{c: row.get(c) for c in _REQ_ONLY},
                    "cells": row["resp_cells"], "batch": len(row.get("actions", ())),
                    "size": len(resp.frame) - 4, "ts": resp.ts,
                    "elapsed": resp.ts // 1000 - req.ts // 1000,
                    "error": resp.decoded.get("error")})
                for a, (cells, err) in zip(row.get("actions", ()),
                                           row.get("results", ())):
                    self.results.append({**key, **a, "cells": cells, "error": err})
            else:
                self.responses.append({
                    **key, "server": conn.server, "method": "unknown",
                    "table": None, "region": None,
                    **{c: None for c in _REQ_ONLY},
                    "cells": resp.decoded.get("cells") or 0, "batch": 0,
                    "size": len(resp.frame) - 4, "ts": resp.ts,
                    "elapsed": None, "error": resp.decoded.get("error")})

    # -- RPC kinds ---------------------------------------------------------

    def get(self, conn: Conn, t: int, cid: int, late: bool = False) -> int:
        rg = self.rng.choice(self.regions[self.rng.choice(TABLES)])
        table, region = self._region_fields(rg)
        row = self._row()
        q = self.rng.randint(1, 5)
        k = self.rng.randint(0, 12)
        err = GET_ERROR if (not late and self.rng.random() < 0.02) else None
        return self._rpc(
            conn, t, cid, "Get", wire.get_request(rg, row, q),
            {"method": "get", "table": table, "region": region,
             "row": row.decode(), "cells": q},
            None if err else wire.get_response(k),
            {"method": "get", **({} if err else {"cells": k})},
            {"method": "get", "table": table, "region": region,
             "row": row.decode(), "req_cells": q, "resp_cells": q if err else k},
            error=err,
            resp_delay_us=(TTL_MS + 1_000) * 1000 if late else None)

    def put(self, conn: Conn, t: int, cid: int) -> int:
        rg = self.rng.choice(self.regions[self.rng.choice(TABLES)])
        table, region = self._region_fields(rg)
        row, values = self._row(), self._values()
        dur = self.rng.choice((0, 0, 0, 1, 3))
        err = GET_ERROR if self.rng.random() < 0.02 else None
        return self._rpc(
            conn, t, cid, "Mutate", wire.mutate_request(rg, row, values, dur),
            {"method": "put", "table": table, "region": region,
             "row": row.decode(), "cells": len(values),
             "durability": _DURABILITY[dur]},
            None if err else wire.mutate_response(), {"method": "put"},
            {"method": "put", "table": table, "region": region,
             "row": row.decode(), "durability": _DURABILITY[dur],
             "req_cells": len(values), "resp_cells": len(values)},
            error=err)

    def multi(self, conn: Conn, t: int, cid: int) -> int:
        table = self.rng.choice(TABLES)
        n = self.rng.randint(2, 50)
        regions = self.rng.sample(self.regions[table], self.rng.randint(1, 3))
        groups: list[tuple[bytes, list]] = [(rg, []) for rg in regions]
        for i in range(n):
            groups[i % len(groups)][1].append(None)
        enc_groups, actions, results, res_groups = [], [], [], []
        for rg, slots in groups:
            _, region = self._region_fields(rg)
            enc, res = [], []
            for _ in slots:
                row = self._row()
                if self.rng.random() < MULTI_PUT_SHARE:
                    values = self._values()
                    dur = self.rng.choice((0, 0, 1))
                    enc.append(wire.action_put(row, values, dur))
                    actions.append({"method": "put", "table": table,
                                    "region": region, "row": row.decode(),
                                    "cells": len(values),
                                    "durability": _DURABILITY[dur]})
                else:
                    enc.append(wire.action_get(row))
                    actions.append({"method": "get", "table": table,
                                    "region": region, "row": row.decode(),
                                    "cells": None, "durability": None})
                if self.rng.random() < 0.03:
                    res.append((None, RESULT_ERROR))
                else:
                    res.append((self.rng.randint(0, 6), None))
            enc_groups.append((rg, enc))
            res_groups.append(res)
            results.extend(res)
        resp_cells = sum(c for c, _ in results if c is not None)
        return self._rpc(
            conn, t, cid, "Multi", wire.multi_request(enc_groups),
            {"method": "multi", "table": table, "actions": actions},
            wire.multi_response(res_groups),
            {"method": "multi", "cells": resp_cells,
             "results": [{"cells": c, "error": e} for c, e in results]},
            {"method": "multi", "table": table, "region": None,
             "req_cells": sum(a["cells"] or 0 for a in actions),
             "resp_cells": resp_cells, "actions": actions, "results": results})

    def scan_session(self, conn: Conn, t: int, cid: int) -> tuple[int, int]:
        rg = self.rng.choice(self.regions[self.rng.choice(TABLES)])
        table, region = self._region_fields(rg)
        sid = self.rng.getrandbits(62)
        while sid in self.scanner_ids:
            sid = self.rng.getrandbits(62)
        self.scanner_ids.add(sid)
        caching = CACHING
        start = self._row()

        def cells_per_result() -> list[int]:
            """Rows of one cell each, as many as a fixture next-rows."""
            return [1] * self.rng.choice(FIXTURE_NEXT_ROWS_CELLS)

        cpr: list[int] = []  # the fixture's open-scanner responses hold no rows
        t = self._rpc(
            conn, t, cid, "Scan",
            wire.scan_open_request(rg, start, start + b"~", caching),
            {"method": "open-scanner", "table": table, "region": region,
             "row": start.decode(), "stoprow": start.decode() + "~",
             "caching": caching},
            wire.scan_response(cpr, sid),
            {"method": "open-scanner", "scanner": sid, "cells": sum(cpr)},
            {"method": "open-scanner", "table": table, "region": region,
             "row": start.decode(), "stoprow": start.decode() + "~",
             "req_cells": 0, "resp_cells": sum(cpr)})
        for _ in range(self.rng.choice(NEXT_ROWS_PER_SESSION)):
            cid += 1
            t += self.rng.randint(100, 5_000)
            cpr = cells_per_result()
            t = self._rpc(
                conn, t, cid, "Scan", wire.scan_next_request(sid, caching),
                {"method": "next-rows", "scanner": sid},
                wire.scan_response(cpr, sid),
                {"method": "next-rows", "scanner": sid, "cells": sum(cpr)},
                {"method": "next-rows", "table": table, "region": region,
                 "req_cells": 0, "resp_cells": sum(cpr)})
        cid += 1
        t += self.rng.randint(100, 5_000)
        t = self._rpc(
            conn, t, cid, "Scan", wire.scan_close_request(sid),
            {"method": "close-scanner", "scanner": sid},
            wire.scan_response([], None),
            {"method": "close-scanner", "cells": 0},
            {"method": "close-scanner", "table": table, "region": region,
             "req_cells": 0, "resp_cells": 0,
             "resp_table": None, "resp_region": None})
        return t, cid

    def get_burst(self, conn: Conn, t: int, cid: int) -> tuple[int, int]:
        """2-3 pipelined small Gets: requests share one segment, and so do
        their responses."""
        n = self.rng.randint(2, 3)
        lat = self._latency_us()
        reqs, resps = [], []
        for i in range(n):
            rg = self.rng.choice(self.regions[self.rng.choice(TABLES)])
            table, region = self._region_fields(rg)
            row = self._row()
            q, k = self.rng.randint(1, 3), self.rng.randint(0, 8)
            req = Msg(t, True, wire.request_frame(cid + i, "Get",
                                                  wire.get_request(rg, row, q)),
                      {"call_id": cid + i, "method": "get", "table": table,
                       "region": region, "row": row.decode(), "cells": q})
            resp = Msg(t + lat, False,
                       wire.response_frame(cid + i, wire.get_response(k)),
                       {"call_id": cid + i, "method": "get", "cells": k})
            reqs.append(req)
            resps.append(resp)
            self._record(conn, req, resp,
                         {"method": "get", "table": table, "region": region,
                          "row": row.decode(), "req_cells": q, "resp_cells": k})
        conn.sends.append((t, True, reqs))
        conn.sends.append((t + lat, False, resps))
        return t + lat, cid + n - 1

    def orphan_response(self, conn: Conn, t: int) -> None:
        resp = Msg(t, False, wire.response_frame(ORPHAN_CALL_ID,
                                                 wire.get_response(3)),
                   {"call_id": ORPHAN_CALL_ID, "method": "unknown"})
        conn.sends.append((t, False, [resp]))
        self._record(conn, None, resp, {})

    # -- whole capture -----------------------------------------------------

    def connection(self, c: int, rpcs: int, span_us: int) -> Conn:
        conn = Conn(f"10.1.{c // 200}.{c % 200 + 1}", 40_000 + c,
                    self.servers[c % len(self.servers)])
        t = BASE_US + self.rng.randrange(span_us // 4)
        cid = 0
        kinds, weights = zip(*OP_WEIGHTS)
        while cid < rpcs:
            cid += 1
            kind = self.rng.choices(kinds, weights)[0]
            if kind == "get":
                t = self.get(conn, t, cid)
            elif kind == "put":
                t = self.put(conn, t, cid)
            elif kind == "multi":
                t = self.multi(conn, t, cid)
            elif kind == "scan":
                t, cid = self.scan_session(conn, t, cid)
            else:
                t, cid = self.get_burst(conn, t, cid)
            t += self.rng.randint(100, 2 * span_us // max(rpcs, 1))
        return conn


def build(seed: int, rpcs: int, servers: int = 4, conns: int = 32,
          span_s: int = 20) -> Model:
    """Draw the model: about ``rpcs`` request/response pairs spread over
    ``conns`` connections to ``servers`` RegionServers."""
    b = _Builder(seed, servers)
    per_conn = max(1, rpcs // conns)
    all_conns = [b.connection(c, per_conn, span_s * 1_000_000)
                 for c in range(conns)]
    # the two correlation edge cases, on the last connection after its traffic
    last = all_conns[-1]
    t_end = max(ts for ts, _, _ in last.sends) + 1_000
    b.orphan_response(last, t_end)
    b.get(last, t_end + 1_000, 900_000, late=True)

    msgs = []
    for ci, conn in enumerate(all_conns):
        for ts, inbound, group in conn.sends:
            for m in group:
                msgs.append((m.ts, not inbound, ci, len(msgs), conn, m))
    msgs.sort(key=lambda x: x[:4])
    events = []
    for eid, (_, _, _, _, conn, m) in enumerate(msgs):
        ev = {c: m.decoded.get(c) for c in _DECODED}
        ev.update(event_id=eid, ts=m.ts, inbound=m.inbound,
                  client=conn.client, port=conn.port, server=conn.server,
                  call_id=m.decoded["call_id"], size=len(m.frame) - 4)
        if ev["actions"] is not None:
            ev["actions"] = [dict(a) for a in ev["actions"]]
        if ev["results"] is not None:
            ev["results"] = [{"method": None, "table": None, "region": None,
                              "row": None, "durability": None, **r}
                             for r in ev["results"]]
        events.append(ev)
    tables = {"requests": b.requests, "responses": b.responses,
              "actions": b.actions, "results": b.results}
    return Model(all_conns, events, tables)


# -- writers ---------------------------------------------------------------

def _ip(addr: str) -> bytes:
    return bytes(int(x) for x in addr.split("."))


def _frame(src: str, sport: int, dst: str, dport: int, payload: bytes) -> bytes:
    tcp = struct.pack(">HHIIBBHHH", sport, dport, 0, 0, 5 << 4, 0x18, 65535, 0, 0)
    ip = struct.pack(">BBHHHBBH", 0x45, 0, 40 + len(payload), 0, 0, 64, 6, 0)
    return (b"\x02" * 6 + b"\x04" * 6 + b"\x08\x00" + ip + _ip(src) + _ip(dst)
            + tcp + payload)


def capture_packets(model: Model) -> dict[str, list[tuple[int, bytes]]]:
    """server -> [(ts_us, ethernet frame)] in capture order. A segment
    group is cut into MSS-sized segments; the last one carries the
    group's completion time, earlier ones precede it by 1 µs each."""
    out: dict[str, list[tuple[int, int, bytes]]] = {s: [] for s in model.servers}
    for conn in model.conns:
        for ts, inbound, group in conn.sends:
            payload = b"".join(m.frame for m in group)
            segs = [payload[i:i + MSS] for i in range(0, len(payload), MSS)]
            if inbound:
                ends = (conn.client, conn.port, conn.server, SERVER_PORT)
            else:
                ends = (conn.server, SERVER_PORT, conn.client, conn.port)
            for i, seg in enumerate(segs):
                out[conn.server].append(
                    (ts - (len(segs) - 1 - i), len(out[conn.server]),
                     _frame(*ends, seg)))
    return {s: [(ts, f) for ts, _, f in sorted(pk)] for s, pk in out.items()}


def write_pcaps(model: Model, out_dir: str) -> list[str]:
    """One classic-pcap (µs, Ethernet) file per RegionServer."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, (server, packets) in enumerate(sorted(capture_packets(model).items())):
        buf = bytearray(struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1))
        for ts, frame in packets:
            buf += struct.pack("<IIII", ts // 1_000_000, ts % 1_000_000,
                               len(frame), len(frame))
            buf += frame
        path = os.path.join(out_dir, f"rs{i:02d}.pcap")
        with open(path, "wb") as f:
            f.write(buf)
        paths.append(path)
    return paths


def _event_table(events: list[dict]) -> pa.Table:
    return pa.Table.from_pylist(events, schema=EVENT_SCHEMA)


def write_events(model: Model, out_dir: str) -> str:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(_event_table(model.events),
                   os.path.join(out_dir, "part-00000.parquet"))
    return out_dir


def write_stream_parts(model: Model, out_dir: str, files: int) -> str:
    """Time-ordered part files of near-equal event counts; modification
    times increase with the index so the file source replays in order."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(model.events)
    mtime = 1_700_000_000
    for i in range(files):
        chunk = model.events[i * n // files:(i + 1) * n // files]
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(_event_table(chunk), path)
        os.utime(path, (mtime + i, mtime + i))
    return out_dir
