"""HBase RPC protobuf encoder: the inverse of the engine's wire decoder,
private to the benchmark so its inputs never depend on the code it measures.

Only the message shapes the traffic model sends are encoded (public
Apache HBase 1.x RPC.proto / Client.proto / HBase.proto field numbers).
Each function returns the protobuf bytes of one message; ``request_frame``
and ``response_frame`` add the RPC v2 framing (4-byte big-endian length,
varint-delimited header, varint-delimited body).
"""

from __future__ import annotations

import struct


def varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def f_varint(fno: int, v: int) -> bytes:
    return varint(fno << 3) + varint(v)


def f_bytes(fno: int, b: bytes) -> bytes:
    return varint((fno << 3) | 2) + varint(len(b)) + b


def delimited(b: bytes) -> bytes:
    return varint(len(b)) + b


def region_spec(region_name: bytes) -> bytes:
    """RegionSpecifier(1 type=REGION_NAME, 2 value)."""
    return f_varint(1, 1) + f_bytes(2, region_name)


def get_request(region: bytes, row: bytes, qualifiers: int) -> bytes:
    """GetRequest(1 region, 2 Get(1 row, 2 Column(1 family, 2 qualifier[])))."""
    col = f_bytes(1, b"f") + b"".join(
        f_bytes(2, b"q%d" % i) for i in range(qualifiers))
    return f_bytes(1, region_spec(region)) + f_bytes(
        2, f_bytes(1, row) + f_bytes(2, col))


def result(cells: int) -> bytes:
    """Result(2 associated_cell_count)."""
    return f_varint(2, cells)


def get_response(cells: int) -> bytes:
    return f_bytes(1, result(cells))


def mutation(row: bytes, values: list[bytes], durability: int) -> bytes:
    """MutationProto(1 row, 2 mutate_type=PUT, 3 ColumnValue(1 family,
    2 QualifierValue(1 qualifier, 2 value)[]), 6 durability)."""
    qvs = b"".join(
        f_bytes(2, f_bytes(1, b"c%d" % i) + f_bytes(2, v))
        for i, v in enumerate(values))
    out = f_bytes(1, row) + f_varint(2, 2) + f_bytes(3, f_bytes(1, b"f") + qvs)
    if durability:
        out += f_varint(6, durability)
    return out


def mutate_request(region: bytes, row: bytes, values: list[bytes],
                   durability: int) -> bytes:
    return f_bytes(1, region_spec(region)) + f_bytes(
        2, mutation(row, values, durability))


def mutate_response() -> bytes:
    """MutateResponse(2 processed=true)."""
    return f_varint(2, 1)


def multi_request(region_actions: list[tuple[bytes, list[bytes]]]) -> bytes:
    """MultiRequest(1 RegionAction(1 region, 3 Action(1 index, 2 mutation |
    3 get)[])[]); ``region_actions`` holds encoded Action bodies."""
    out = b""
    idx = 0
    for region, actions in region_actions:
        body = f_bytes(1, region_spec(region))
        for a in actions:
            body += f_bytes(3, f_varint(1, idx) + a)
            idx += 1
        out += f_bytes(1, body)
    return out


def action_put(row: bytes, values: list[bytes], durability: int) -> bytes:
    return f_bytes(2, mutation(row, values, durability))


def action_get(row: bytes) -> bytes:
    return f_bytes(3, f_bytes(1, row))


def multi_response(region_results: list[list[tuple[int | None, str | None]]]) -> bytes:
    """MultiResponse(1 RegionActionResult(1 ResultOrException(1 index,
    2 result | 3 exception NameBytesPair(1 name))[])[]); each entry is
    (cells, None) or (None, exception class name)."""
    out = b""
    idx = 0
    for results in region_results:
        body = b""
        for cells, error in results:
            roe = f_varint(1, idx)
            if error is None:
                roe += f_bytes(2, result(cells))
            else:
                roe += f_bytes(3, f_bytes(1, error.encode()))
            body += f_bytes(1, roe)
            idx += 1
        out += f_bytes(1, body)
    return out


def scan_open_request(region: bytes, start: bytes, stop: bytes,
                      caching: int) -> bytes:
    """ScanRequest(1 region, 2 Scan(3 start_row, 4 stop_row, 17 caching),
    4 number_of_rows)."""
    scan = f_bytes(3, start) + f_bytes(4, stop) + f_varint(17, caching)
    return f_bytes(1, region_spec(region)) + f_bytes(2, scan) + f_varint(4, caching)


def scan_next_request(scanner: int, rows: int) -> bytes:
    """ScanRequest(3 scanner_id, 4 number_of_rows)."""
    return f_varint(3, scanner) + f_varint(4, rows)


def scan_close_request(scanner: int) -> bytes:
    """ScanRequest(3 scanner_id, 5 close_scanner=true)."""
    return f_varint(3, scanner) + f_varint(5, 1)


def scan_response(cells_per_result: list[int], scanner: int | None) -> bytes:
    """ScanResponse(1 cells_per_result (packed), 2 scanner_id)."""
    out = b""
    if cells_per_result:
        out += f_bytes(1, b"".join(varint(c) for c in cells_per_result))
    if scanner is not None:
        out += f_varint(2, scanner)
    return out


def request_frame(call_id: int, method: str, param: bytes) -> bytes:
    """Length-prefixed RequestHeader(1 call_id, 3 method_name,
    4 request_param=true) + delimited param."""
    header = f_varint(1, call_id) + f_bytes(3, method.encode()) + f_varint(4, 1)
    frame = delimited(header) + delimited(param)
    return struct.pack(">i", len(frame)) + frame


def response_frame(call_id: int, body: bytes | None,
                   exception: str | None = None) -> bytes:
    """Length-prefixed ResponseHeader(1 call_id, 2 ExceptionResponse
    (1 exception_class_name)) + optional delimited body."""
    header = f_varint(1, call_id)
    if exception is not None:
        header += f_bytes(2, f_bytes(1, exception.encode()))
    frame = delimited(header) + (delimited(body) if body is not None else b"")
    return struct.pack(">i", len(frame)) + frame
