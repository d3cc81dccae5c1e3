"""Pure-Python decoder for the HBase RPC protobuf messages the reference
parses (hbase.clj:110-245, C1-C13) — no google.protobuf dependency.

The protobuf WIRE FORMAT is tiny and public (varint tags, four wire types);
the message shapes are the public Apache HBase 1.x protos (RPC.proto /
Client.proto / HBase.proto). This module implements just enough of both to
extract what the reference extracts: method names, call ids, regions, rows,
cell counts, scanner ids, durability, batch actions/results, and errors.
Everything here is plain bytes-in/dict-out (unit-testable without Spark);
``hbase_decode`` wraps it in the Arrow-batched per-connection operator.

Frame layout (RPC v2, reference core.clj:226-254): a 4-byte big-endian
length (stripped by reassembly), then a varint-delimited RequestHeader /
ResponseHeader, then an optional varint-delimited param/response message,
then an optional cell block (ignored — cell COUNTS ride in the messages).
"""

from __future__ import annotations

import re

from ..functions.scalar import _parse_region_name_py, _to_string_binary_py

_METHOD_RE = re.compile(r"^[a-zA-Z]+$")

# enum name tables from the public MutationProto (Client.proto); the
# reference keywordizes the enum names (hbase.clj:154-169) — underscores
# survive, so USE_DEFAULT -> "use_default"
_MUTATION_TYPES = {0: "append", 1: "increment", 2: "put", 3: "delete"}
_DURABILITIES = {0: "use_default", 1: "skip_wal", 2: "async_wal",
                 3: "sync_wal", 4: "fsync_wal"}


class WireError(ValueError):
    """Malformed protobuf bytes (the InvalidProtocolBufferException analog)."""


def _uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(buf) or shift > 63:
            raise WireError("truncated varint")
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not (b & 0x80):
            return result, pos
        shift += 7


def fields(buf: bytes) -> dict[int, list]:
    """Parse one message's wire fields: {field_no: [value, ...]} in order.
    Varint/fixed fields yield ints, length-delimited fields yield bytes.
    Groups (wire types 3/4) don't occur in these protos -> WireError."""
    if not isinstance(buf, bytes):
        # a varint where a sub-message belongs (see _first)
        raise WireError("expected a length-delimited message")
    out: dict[int, list] = {}
    pos = 0
    n = len(buf)
    while pos < n:
        tag, pos = _uvarint(buf, pos)
        fno, wt = tag >> 3, tag & 7
        if fno == 0:
            raise WireError("field number 0")
        if wt == 0:
            val, pos = _uvarint(buf, pos)
        elif wt == 1:
            if pos + 8 > n:
                raise WireError("truncated fixed64")
            val = int.from_bytes(buf[pos:pos + 8], "little")
            pos += 8
        elif wt == 5:
            if pos + 4 > n:
                raise WireError("truncated fixed32")
            val = int.from_bytes(buf[pos:pos + 4], "little")
            pos += 4
        elif wt == 2:
            ln, pos = _uvarint(buf, pos)
            if pos + ln > n:
                raise WireError("truncated bytes")
            val = buf[pos:pos + ln]
            pos += ln
        else:
            raise WireError(f"unsupported wire type {wt}")
        out.setdefault(fno, []).append(val)
    return out


def delimited(buf: bytes, pos: int) -> tuple[bytes, int]:
    """varint length + that many bytes (the parseDelimitedFrom framing)."""
    ln, pos = _uvarint(buf, pos)
    if pos + ln > len(buf):
        raise WireError("truncated delimited message")
    return buf[pos:pos + ln], pos + ln


def _first(d: dict[int, list], fno: int, kind: type = int):
    """Field ``fno``'s first value, or None. A value of the other wire kind
    (a varint where bytes belong, or bytes where a number belongs) is
    invalid framing, not a value to pass on."""
    v = d.get(fno)
    if not v:
        return None
    if not isinstance(v[0], kind):
        raise WireError(f"field {fno}: expected {kind.__name__}")
    return v[0]


def _varints(values: list) -> list[int]:
    """A repeated uint32/uint64 field: accepts both unpacked (ints) and
    packed (one bytes blob of concatenated varints) encodings."""
    out: list[int] = []
    for v in values:
        if isinstance(v, int):
            out.append(v)
        else:
            pos = 0
            while pos < len(v):
                x, pos = _uvarint(v, pos)
                out.append(x)
    return out


def _region(d: dict[int, list], fno: int = 1) -> dict:
    """RegionSpecifier (HBase.proto: 1 type, 2 value) -> {table, region}
    via the reference's region-name decode (hbase.clj:101-108)."""
    spec = _first(d, fno, bytes)
    if spec is None:
        return {}
    value = _first(fields(spec), 2, bytes)
    if value is None:
        return {}
    parsed = _parse_region_name_py(bytes(value))
    return {"table": parsed[0], "region": parsed[1]}


# --- request bodies (hbase.clj:110-205) --------------------------------------

def parse_get_request(buf: bytes) -> dict:
    """GetRequest(1 region, 2 get); Get(1 row, 2 column[]); Column
    (1 family, 2 qualifier[]). cells = total qualifier count
    (hbase.clj:110-120)."""
    d = fields(buf)
    out = _region(d)
    get = _first(d, 2, bytes)
    if get is not None:
        g = fields(get)
        row = _first(g, 1, bytes)
        if row is not None:
            out["row"] = _to_string_binary_py(bytes(row))
        out["cells"] = sum(
            len(fields(col).get(2, [])) for col in g.get(2, [])
        )
    return out


def parse_scan_request(buf: bytes) -> dict:
    """ScanRequest(1 region, 2 scan, 3 scanner_id, 4 number_of_rows,
    5 close_scanner); Scan(3 start_row, 4 stop_row, 17 caching). Method
    classification per hbase.clj:122-145: open/close flags -> small-scan /
    open-scanner / close-scanner / next-rows."""
    d = fields(buf)
    open_ = 3 not in d
    close = bool(_first(d, 5) or 0)
    method = ("small-scan" if (open_ and close) else
              "open-scanner" if open_ else
              "close-scanner" if close else "next-rows")
    # reference getScannerId defaults to 0 when absent, but the field is
    # internal correlation state (no public-table column) — None when absent
    # keeps the downstream (server, scanner) windows off the fake-0 bucket
    out = {"method": method, "scanner": _first(d, 3)}
    if method in ("open-scanner", "small-scan"):
        out.update(_region(d))
        scan = _first(d, 2, bytes)
        if scan is not None:
            s = fields(scan)
            out["caching"] = _first(s, 17)
            row = _first(s, 3, bytes)
            stop = _first(s, 4, bytes)
            out["row"] = _to_string_binary_py(bytes(row)) if row is not None else None
            out["stoprow"] = (
                _to_string_binary_py(bytes(stop)) if stop is not None else None
            )
    return out


def _parse_mutation(buf: bytes, condition: bool) -> dict:
    """MutationProto(1 row, 2 mutate_type, 3 column_value[], 6 durability,
    8 associated_cell_count); ColumnValue(2 qualifier_value[]). cells =
    associated + qualifier-value count; check-and- prefix when the request
    carries a condition (hbase.clj:171-186)."""
    d = fields(buf)
    mtype = _MUTATION_TYPES.get(_first(d, 2) or 0, "put")
    row = _first(d, 1, bytes)
    qv_count = sum(len(fields(cv).get(2, [])) for cv in d.get(3, []))
    return {
        "method": f"check-and-{mtype}" if condition else mtype,
        "row": _to_string_binary_py(bytes(row)) if row is not None else None,
        "cells": (_first(d, 8) or 0) + qv_count,
        "durability": _DURABILITIES.get(_first(d, 6) or 0, "use_default"),
    }


def parse_mutate_request(buf: bytes) -> dict:
    """MutateRequest(1 region, 2 mutation, 3 condition) (hbase.clj:188-194)."""
    d = fields(buf)
    mutation = _first(d, 2, bytes)
    out = _parse_mutation(mutation, 3 in d) if mutation is not None else {}
    out.update(_region(d))
    return out


def parse_multi_request(buf: bytes) -> dict:
    """MultiRequest(1 regionAction[], 3 condition); RegionAction(1 region,
    3 action[]); Action(2 mutation, 3 get). One action dict per Action,
    table = first action's table (hbase.clj:196-213, 237-241)."""
    d = fields(buf)
    condition = 3 in d
    actions = []
    for ra in d.get(1, []):
        r = fields(ra)
        region = _region(r)
        for act in r.get(3, []):
            a = fields(act)
            mutation = _first(a, 2, bytes)
            get = _first(a, 3, bytes)
            if mutation is not None:
                entry = _parse_mutation(mutation, condition)
            elif get is not None:
                row = _first(fields(get), 1, bytes)
                entry = {
                    "method": "get",
                    "row": _to_string_binary_py(bytes(row))
                    if row is not None else None,
                }
            else:
                entry = {}
            entry.update(region)
            actions.append(entry)
    table = next((a["table"] for a in actions if a.get("table")), None)
    return {"table": table, "actions": actions}


def parse_bulk_load_request(buf: bytes) -> dict:
    """BulkLoadHFileRequest(1 region) (hbase.clj:215-218)."""
    return _region(fields(buf))


# --- response bodies (hbase.clj:37-69) ---------------------------------------

def _result_cells(result_buf: bytes) -> int:
    """Result(1 cell[], 2 associated_cell_count): associated + embedded
    (hbase.clj:43-47)."""
    r = fields(result_buf)
    return (_first(r, 2) or 0) + len(r.get(1, []))


def parse_scan_response(buf: bytes) -> dict:
    """ScanResponse(1 cells_per_result[] (packed or not), 2 scanner_id):
    cells = sum (hbase.clj:37-41)."""
    d = fields(buf)
    return {
        "scanner": _first(d, 2),
        "cells": sum(_varints(d.get(1, []))),
    }


def parse_get_response(buf: bytes) -> dict:
    """GetResponse(1 result) (hbase.clj:43-47)."""
    d = fields(buf)
    result = _first(d, 1, bytes)
    return {"cells": _result_cells(result) if result is not None else 0}


def parse_multi_response(buf: bytes) -> dict:
    """MultiResponse(1 regionActionResult[]); RegionActionResult
    (1 resultOrException[]); ResultOrException(2 result, 3 exception
    (NameBytesPair: 1 name)). results keep positional order; cells = sum of
    non-null result cells (hbase.clj:49-69)."""
    d = fields(buf)
    results = []
    for rar in d.get(1, []):
        for roe in fields(rar).get(1, []):
            e = fields(roe)
            result = _first(e, 2, bytes)
            exc = _first(e, 3, bytes)
            error = None
            if exc is not None:
                name = _first(fields(exc), 1, bytes)
                error = name.decode("utf-8", "replace") if name is not None else None
            results.append({
                "cells": _result_cells(result) if result is not None else None,
                "error": error,
            })
    cells = sum(r["cells"] for r in results if r["cells"] is not None)
    return {"cells": cells, "results": results}


# --- headers + frame dispatch (hbase.clj:208-245, RPC.proto) -----------------

def parse_request_frame(data: bytes) -> dict | None:
    """One inbound frame: varint-delimited RequestHeader(1 call_id,
    3 method_name, 4 request_param) + delimited param. Returns the event
    dict or raises WireError; a non-alphabetic method name is invalid
    framing (hbase.clj:222-228) -> WireError."""
    header, pos = delimited(data, 0)
    h = fields(header)
    name = _first(h, 3, bytes)
    if name is None:
        raise WireError("no method name")
    name = name.decode("utf-8", "replace")
    if not _METHOD_RE.match(name):
        raise WireError(f"invalid method name {name!r}")
    # CamelCase -> kebab, e.g. BulkLoadHFile -> bulk-load-hfile (E4)
    method = re.sub(r"(?<=[a-z0-9])([A-Z])", r"-\1", name).lower()
    out = {"call_id": _first(h, 1) or 0, "method": method}
    if _first(h, 4):  # has request_param
        param, _ = delimited(data, pos)
        body = {
            "get": parse_get_request,
            "scan": parse_scan_request,
            "mutate": parse_mutate_request,
            "multi": parse_multi_request,
            "bulk-load-h-file": parse_bulk_load_request,
            "bulk-load-hfile": parse_bulk_load_request,
        }.get(method)
        if body is not None:
            out.update(body(param))
    return out


def parse_response_frame(data: bytes, req_method: str | None) -> dict:
    """One outbound frame: delimited ResponseHeader(1 call_id, 2 exception
    (ExceptionResponse: 1 exception_class_name)) + delimited body parsed
    per the REQUEST's method (hbase.clj:71-98) — 'unknown' without one."""
    header, pos = delimited(data, 0)
    h = fields(header)
    out = {"call_id": _first(h, 1) or 0,
           "method": req_method or "unknown"}
    exc = _first(h, 2, bytes)
    if exc is not None:
        name = _first(fields(exc), 1, bytes)
        if name is not None:
            out["error"] = name.decode("utf-8", "replace")
    if req_method in ("open-scanner", "next-rows", "close-scanner",
                      "small-scan", "get", "multi") and pos < len(data):
        body, _ = delimited(data, pos)
        if req_method == "get":
            out.update(parse_get_response(body))
        elif req_method == "multi":
            out.update(parse_multi_response(body))
        else:
            out.update(parse_scan_response(body))
    return out
