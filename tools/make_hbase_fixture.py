"""Build the committed HBase RPC captures and their model tables.

Writes ``tests/fixtures/hbase_pcap/`` (or OUT_DIR):

- one classic-pcap capture per FIXTURES.md §3 scenario, the workloads of
  the reference's ``hbase pe`` fixtures (core_test.clj:248-377) plus its
  two correlation edge cases, encoded as HBase 1.x RPC protobuf frames on
  port 16020 (``perfbench.wire`` and the few shapes it lacks, below);
- ``requests/``, ``responses/``, ``actions/`` and ``results/``: the rows
  the four tables must hold, one parquet file each, written from the
  scenario model (``perfbench.traffic``'s bookkeeping).

The model is never the engine's decode: this module does not import
``hbase_packet_inspector_spark``. The tables are the DuckDB oracle of
``hbase_pcap_decode``/``hbase_pcap_tables`` and the expected rows of
``tests/test_hbase_pcap.py``.

    python tools/make_hbase_fixture.py [OUT_DIR]

Every run writes the same bytes.
"""

from __future__ import annotations

import hashlib
import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import traffic, wire
from perfbench.wire import f_bytes, f_varint

OUT_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "fixtures", "hbase_pcap",
)
SEED = 6
SERVER = "10.0.0.1"
SCENARIO_GAP_US = 10_000_000  # scenario k starts k * 10 s into the capture

# core_test.clj:263-267 (the `hbase pe` options the fixtures ran with)
TABLE = b"TestTable"
RECORD_COUNT = 100
RECORD_SIZE = 1000
BATCH_GET = 20
CACHING = 20
FAMILY, QUALIFIER = b"info", b"0"
CELL_TS_MS = 1_600_000_000_000

APPEND, INCREMENT, PUT, DELETE = 0, 1, 2, 3  # MutationProto.MutationType
_METHOD = {APPEND: "append", INCREMENT: "increment", PUT: "put",
           DELETE: "delete"}

# the four tables' columns, as in the engine's schema.py (not imported:
# the model must not depend on the code it checks)
_REQUEST = ("ts client port call_id server method size batch table region "
            "row stoprow cells durability").split()
_ACTION = "client port call_id method table region row cells durability".split()
COLUMNS = {"requests": _REQUEST, "responses": _REQUEST + ["error", "elapsed"],
           "actions": _ACTION, "results": _ACTION + ["error"]}
_INTS = {"port", "call_id", "size", "batch", "cells", "elapsed"}


# -- shapes perfbench.wire does not encode -----------------------------------

def pe_row(i: int) -> bytes:
    """PerformanceEvaluation.format: the 26-digit zero-padded row key."""
    return b"%026d" % i


def region_name(table: bytes, start: bytes, region_id: int) -> bytes:
    """``<table>,<start>,<id>.<md5 of that prefix>.``, HBase's encoding."""
    prefix = b"%s,%s,%d" % (table, start, region_id)
    return prefix + b"." + hashlib.md5(prefix).hexdigest().encode() + b"."


def mutation(row: bytes, mtype: int, value: bytes | None) -> bytes:
    """MutationProto(1 row, 2 mutate_type, 3 ColumnValue(1 family,
    2 QualifierValue(1 qualifier, 2 value | 4 delete_type))). With
    ``value=None`` a put's one cell rides in the cell block and the proto
    carries 8 associated_cell_count=1 instead."""
    out = f_bytes(1, row) + f_varint(2, mtype)
    if value is None:
        return out + f_varint(8, 1)
    qv = f_bytes(1, QUALIFIER) + (
        f_varint(4, 0) if mtype == DELETE else f_bytes(2, value))
    return out + f_bytes(3, f_bytes(1, FAMILY) + f_bytes(2, qv))


def condition(row: bytes, value: bytes) -> bytes:
    """Condition(1 row, 2 family, 3 qualifier, 4 compare_type=EQUAL,
    5 Comparator(1 name, 2 serialized BinaryComparator))."""
    comparator = (f_bytes(1, b"org.apache.hadoop.hbase.filter.BinaryComparator")
                  + f_bytes(2, f_bytes(1, f_bytes(1, value))))
    return (f_bytes(1, row) + f_bytes(2, FAMILY) + f_bytes(3, QUALIFIER)
            + f_varint(4, 2) + f_bytes(5, comparator))


def mutate_request(region: bytes, mut: bytes, cond: bytes | None = None) -> bytes:
    """MutateRequest(1 region, 2 mutation, 3 condition)."""
    out = f_bytes(1, wire.region_spec(region)) + f_bytes(2, mut)
    return out + (f_bytes(3, cond) if cond is not None else b"")


def small_scan_request(region: bytes, start: bytes, stop: bytes,
                       caching: int) -> bytes:
    """An open and a close in one ScanRequest (1 region, 2 Scan, 4
    number_of_rows, 5 close_scanner=true): no scanner id."""
    return wire.scan_open_request(region, start, stop, caching) + f_varint(5, 1)


def cell_block(rows: list[bytes], value: bytes) -> bytes:
    """KeyValueCodec cells, one per row: a 4-byte length, then key length,
    value length, row, family, qualifier, timestamp, type=Put, value."""
    out = b""
    for row in rows:
        key = (struct.pack(">h", len(row)) + row + bytes([len(FAMILY)])
               + FAMILY + QUALIFIER + struct.pack(">qB", CELL_TS_MS, 4))
        kv = struct.pack(">ii", len(key), len(value)) + key + value
        out += struct.pack(">i", len(kv)) + kv
    return out


def _with_cells(header: bytes, body: bytes, cells: bytes) -> bytes:
    """The delimited header and body, then the cell block, behind the
    4-byte frame length."""
    frame = wire.delimited(header) + wire.delimited(body) + cells
    return struct.pack(">i", len(frame)) + frame


def request_frame(call_id: int, method: str, param: bytes,
                  cells: bytes = b"") -> bytes:
    """wire.request_frame with an optional cell block (RequestHeader 5)."""
    if not cells:
        return wire.request_frame(call_id, method, param)
    header = (f_varint(1, call_id) + f_bytes(3, method.encode()) + f_varint(4, 1)
              + f_bytes(5, f_varint(1, len(cells))))
    return _with_cells(header, param, cells)


def response_frame(call_id: int, body: bytes, cells: bytes = b"") -> bytes:
    """wire.response_frame with an optional cell block (ResponseHeader 3)."""
    if not cells:
        return wire.response_frame(call_id, body)
    header = f_varint(1, call_id) + f_bytes(3, f_varint(1, len(cells)))
    return _with_cells(header, body, cells)


# -- the scenarios -----------------------------------------------------------

class _Fixtures(traffic._Builder):
    """The §3 scenarios, one connection each; ``_record`` keeps the rows
    the four tables must hold."""

    def __init__(self):
        super().__init__(SEED, servers=1)
        split = pe_row(RECORD_COUNT // 2)
        self.test_regions = ((b"", region_name(TABLE, b"", 1600000000000)),
                             (split, region_name(TABLE, split, 1600000000001)))

    def _record(self, conn, req, resp, row):
        """A one-action multi is reported as its action, without child
        rows (FIXTURES.md §2: children only when batch > 1)."""
        n_actions, n_results = len(self.actions), len(self.results)
        super()._record(conn, req, resp, row)
        if len(row.get("actions", ())) == 1:
            del self.actions[n_actions:], self.results[n_results:]

    def region_of(self, row: bytes) -> bytes:
        return [name for start, name in self.test_regions if row >= start][-1]

    def call(self, conn: traffic.Conn, t: int, *calls: tuple) -> int:
        """Request/response pairs (call_id, request frame, response frame,
        expected row) on ``conn`` at ``t``, pipelined: the requests go out
        in one send, the responses in another. Returns the time the next
        call starts."""
        lat = self._latency_us()
        reqs, resps = [], []
        for cid, req, resp, row in calls:
            reqs.append(traffic.Msg(t, True, req, {"call_id": cid}))
            resps.append(traffic.Msg(t + lat, False, resp, {"call_id": cid}))
            self._record(conn, reqs[-1], resps[-1], row)
        for msgs in (reqs, resps):
            # several messages share one segment, so each completes at t
            assert len(msgs) == 1 or sum(len(m.frame) for m in msgs) <= traffic.MSS
        conn.sends += [(t, True, reqs), (t + lat, False, resps)]
        return t + lat + self.rng.randint(100, 2_000)

    def _multi(self, conn, t, call_id, actions, results, cells=b"",
               resp_cells=b"", cond=None):
        """One Multi of ``actions`` [(row, encoded Action, method, cells)],
        grouped per region in row order; ``results`` [(cells, error)]
        answer them by position."""
        groups: dict[bytes, list] = {}
        for a in actions:
            groups.setdefault(self.region_of(a[0]), []).append(a)
        acts = [{"method": method, "table": TABLE.decode(),
                 "region": self._region_fields(rg)[1], "row": row.decode(),
                 "cells": n, "durability": None if method == "get"
                 else "use_default"}
                for rg, group in groups.items() for row, _, method, n in group]
        param = wire.multi_request(
            [(rg, [a[1] for a in group]) for rg, group in groups.items()])
        body = wire.multi_response([results])
        if cond is not None:  # checkAndMutate: 3 condition, 2 processed
            param, body = param + f_bytes(3, cond), body + f_varint(2, 1)
        # a one-action multi is reported as its action
        single = acts[0] if len(acts) == 1 else {}
        return self.call(conn, t, (
            call_id, request_frame(call_id, "Multi", param, cells),
            response_frame(call_id, body, resp_cells),
            {"method": single.get("method", "multi"), "table": TABLE.decode(),
             "region": single.get("region"), "row": single.get("row"),
             "durability": single.get("durability"),
             "req_cells": sum(a["cells"] or 0 for a in acts),
             "resp_cells": sum(c or 0 for c, _ in results),
             "actions": acts, "results": results}))

    def sequential_write(self, conn, t):
        """core_test.clj:269-282: one multi of 100 puts of one 1000-byte
        cell each, the cells in the request's cell block."""
        rows = [pe_row(i) for i in range(RECORD_COUNT)]
        self._multi(
            conn, t, 1,
            [(r, f_bytes(2, mutation(r, PUT, None)), "put", 1) for r in rows],
            [(0, None)] * RECORD_COUNT,
            cells=cell_block(rows, b"v" * RECORD_SIZE))

    def random_read(self, conn, t):
        """core_test.clj:284-300: 5 multis of 20 gets, each result one
        cell in the response's cell block."""
        for cid in range(1, RECORD_COUNT // BATCH_GET + 1):
            rows = [pe_row(self.rng.randrange(RECORD_COUNT))
                    for _ in range(BATCH_GET)]
            t = self._multi(
                conn, t, cid,
                [(r, wire.action_get(r), "get", None) for r in rows],
                [(1, None)] * BATCH_GET,
                resp_cells=cell_block(rows, b"v" * RECORD_SIZE))

    def scan(self, conn, t):
        """core_test.clj:302-312: open-scanner, 5 next-rows of 20 one-cell
        rows (cells in the cell block), close; one scanner id."""
        rg = self.test_regions[0][1]
        table, region = self._region_fields(rg)
        sid = 0x5CA_0000_0001
        start, stop = pe_row(0), pe_row(RECORD_COUNT)
        t = self.call(conn, t, (
            1, request_frame(1, "Scan", wire.scan_open_request(
                rg, start, stop, CACHING)),
            response_frame(1, wire.scan_response([], sid)),
            {"method": "open-scanner", "table": table, "region": region,
             "row": start.decode(), "stoprow": stop.decode(),
             "req_cells": 0, "resp_cells": 0}))
        for i in range(RECORD_COUNT // CACHING):
            rows = [pe_row(i * CACHING + j) for j in range(CACHING)]
            t = self.call(conn, t, (
                2 + i,
                request_frame(2 + i, "Scan", wire.scan_next_request(sid, CACHING)),
                response_frame(2 + i, wire.scan_response([1] * CACHING, sid),
                               cell_block(rows, b"v" * RECORD_SIZE)),
                {"method": "next-rows", "table": table, "region": region,
                 "req_cells": 0, "resp_cells": CACHING}))
        cid = 2 + RECORD_COUNT // CACHING
        self.call(conn, t, (
            cid, request_frame(cid, "Scan", wire.scan_close_request(sid)),
            response_frame(cid, wire.scan_response([], None)),
            {"method": "close-scanner", "table": table, "region": region,
             "req_cells": 0, "resp_cells": 0,
             "resp_table": None, "resp_region": None}))

    def small_scan(self, conn, t):
        """core_test.clj:318-325: small scans of table 't', 200 cells in
        all (10 scans of 20 one-cell rows)."""
        rg = region_name(b"t", b"", 1600000000002)
        table, region = self._region_fields(rg)
        for cid in range(1, 11):
            start, stop = b"r%03d" % (cid * 20), b"r%03d" % (cid * 20 + 20)
            rows = [b"r%03d" % (cid * 20 + j) for j in range(20)]
            t = self.call(conn, t, (
                cid, request_frame(cid, "Scan",
                                   small_scan_request(rg, start, stop, 20)),
                response_frame(cid, wire.scan_response([1] * 20, None),
                               cell_block(rows, b"x")),
                {"method": "small-scan", "table": table, "region": region,
                 "row": start.decode(), "stoprow": stop.decode(),
                 "req_cells": 0, "resp_cells": 20}))

    def _mutate(self, cid: int, row: bytes, mtype: int,
                cond: bool = False) -> tuple:
        """One Mutate of one cell, as a ``call`` tuple."""
        rg = self.region_of(row)
        table, region = self._region_fields(rg)
        value = struct.pack(">q", 1) if mtype == INCREMENT else b"v" * 16
        param = mutate_request(rg, mutation(row, mtype, value),
                               condition(row, value) if cond else None)
        return (cid, request_frame(cid, "Mutate", param),
                response_frame(cid, wire.mutate_response()),
                {"method": ("check-and-" if cond else "") + _METHOD[mtype],
                 "table": table, "region": region, "row": row.decode(),
                 "durability": "use_default", "req_cells": 1, "resp_cells": 1})

    def mutates(self, conn, t, mtype, cond=False):
        """core_test.clj:327-340: 100 Mutate calls of one cell."""
        for cid in range(1, RECORD_COUNT + 1):
            t = self.call(conn, t, self._mutate(cid, pe_row(cid - 1), mtype, cond))

    def check_and_mutate(self, conn, t):
        """RowMutations of one put under a condition: a one-action Multi
        with MultiRequest.condition, reported as check-and-put."""
        for cid in range(1, RECORD_COUNT + 1):
            row, value = pe_row(cid - 1), b"v" * 16
            t = self._multi(
                conn, t, cid,
                [(row, f_bytes(2, mutation(row, PUT, value)),
                  "check-and-put", 1)],
                [(0, None)], cond=condition(row, value))

    def deferred_flush(self, conn, t):
        """core_test.clj:314-316: 1000 pipelined increments, 8 requests to
        a segment and 8 responses to a segment."""
        for first in range(1, 1001, 8):
            t = self.call(conn, t, *[
                self._mutate(cid, pe_row(cid % RECORD_COUNT), INCREMENT)
                for cid in range(first, first + 8)])

    def unknown_response(self, conn, t):
        """hbase_test.clj:147-154: a response to no request."""
        self.orphan_response(conn, t)

    def ttl_expiry(self, conn, t):
        """core.clj:69-72: a Get answered after the 120 s TTL."""
        self.get(conn, t, 1, late=True)


SCENARIOS = {
    "sequentialWrite": _Fixtures.sequential_write,
    "randomRead": _Fixtures.random_read,
    "scan": _Fixtures.scan,
    "smallScan": _Fixtures.small_scan,
    "increment": lambda b, conn, t: b.mutates(conn, t, INCREMENT),
    "append": lambda b, conn, t: b.mutates(conn, t, APPEND),
    "checkAndPut": lambda b, conn, t: b.mutates(conn, t, PUT, cond=True),
    "checkAndMutate": _Fixtures.check_and_mutate,
    "checkAndDelete": lambda b, conn, t: b.mutates(conn, t, DELETE, cond=True),
    "deferredFlush": _Fixtures.deferred_flush,
    "unknownResponse": _Fixtures.unknown_response,
    "ttlExpiry": _Fixtures.ttl_expiry,  # last: its response ends the capture
}


def build() -> tuple[dict[str, traffic.Model], dict[str, list[dict]]]:
    """Scenario name -> its one-connection model, and the four tables'
    rows over all scenarios (``ts`` in epoch µs)."""
    b = _Fixtures()
    captures = {}
    for k, (name, scenario) in enumerate(SCENARIOS.items()):
        conn = traffic.Conn(f"10.1.0.{k + 1}", 50_000 + k, SERVER)
        scenario(b, conn, traffic.BASE_US + k * SCENARIO_GAP_US)
        captures[name] = traffic.Model([conn], [], {})
    return captures, {"requests": b.requests, "responses": b.responses,
                      "actions": b.actions, "results": b.results}


def write(out_dir: str = OUT_DIR) -> None:
    captures, tables = build()
    os.makedirs(out_dir, exist_ok=True)
    for name, model in captures.items():
        (path,) = traffic.write_pcaps(model, out_dir)
        os.replace(path, os.path.join(out_dir, f"{name}.pcap"))
    for name, rows in tables.items():
        tbl = pa.Table.from_pylist(rows, schema=pa.schema([
            (c, pa.int64() if c == "ts" else pa.int32() if c in _INTS
             else pa.string()) for c in COLUMNS[name]]))
        if "ts" in tbl.column_names:
            tbl = tbl.set_column(0, "ts", tbl["ts"].cast(
                pa.timestamp("us", tz="UTC")))
        os.makedirs(os.path.join(out_dir, name), exist_ok=True)
        pq.write_table(tbl, os.path.join(out_dir, name, "model.parquet"))


if __name__ == "__main__":
    write(sys.argv[1] if len(sys.argv) > 1 else OUT_DIR)
