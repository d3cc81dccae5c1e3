"""Property-based tests (hypothesis) on the pure-Python operator cores.

The reference's tests are example-based (SURVEY.md §5); these go further on
the imperative edges where Spark can't help with correctness: arbitrary TCP
fragmentation/coalescing must not change reassembly output, and the pcap
writer/parser must round-trip arbitrary packets. Pure functions only — no
Spark jobs — so hypothesis can run hundreds of cases in seconds.
"""

import struct

import pandas as pd
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hbase_packet_inspector_spark.operators.reassembly import _reassemble_group
from hbase_packet_inspector_spark.sources.pcap import (
    LINKTYPE_ETHERNET,
    LINKTYPE_RAW_IP,
    _parse_pcap_bytes,
    build_pcap,
)
from hbase_packet_inspector_spark.functions.scalar import _to_string_binary_py


# --- reassembly: fragmentation invariance ----------------------------------

messages = st.lists(st.binary(min_size=1, max_size=64), min_size=1, max_size=8)


def fragment(stream: bytes, cuts: list[int]) -> list[bytes]:
    points = sorted({c % (len(stream) + 1) for c in cuts}) if cuts else []
    chunks, prev = [], 0
    for p in points:
        if p > prev:
            chunks.append(stream[prev:p])
            prev = p
    if prev < len(stream):
        chunks.append(stream[prev:])
    return chunks or [stream]


@given(messages, st.lists(st.integers(min_value=0, max_value=10_000), max_size=12))
@settings(max_examples=200, deadline=None)
def test_reassembly_invariant_under_fragmentation(msgs, cuts):
    """However the framed byte stream is cut into packets, reassembly yields
    exactly the original messages, in order (B4/B5)."""
    stream = b"".join(struct.pack(">i", len(m)) + m for m in msgs)
    chunks = fragment(stream, cuts)
    pdf = pd.DataFrame(
        {
            "event_id": range(len(chunks)),
            "ts": pd.to_datetime([1_700_000_000 + i for i in range(len(chunks))], unit="s"),
            "client": "c",
            "port": 40000,
            "server": "s",
            "src_port": 40000,
            "dst_port": 16020,
            "data": chunks,
        }
    )
    out = _reassemble_group(pdf)
    assert list(out["data"]) == msgs
    assert list(out["msg_seq"]) == list(range(len(msgs)))
    assert bool(out["inbound"].iloc[0]) is True


@given(st.binary(min_size=5, max_size=64))
@settings(max_examples=50, deadline=None)
def test_reassembly_drops_invalid_framing(garbage):
    """A stream whose 4-byte prefix is not a valid length never emits a
    message longer than the buffer and never raises (B3/B14)."""
    pdf = pd.DataFrame(
        {
            "event_id": [0],
            "ts": pd.to_datetime([1_700_000_000], unit="s"),
            "client": "c",
            "port": 40000,
            "server": "s",
            "src_port": 16020,
            "dst_port": 40000,
            "data": [garbage],
        }
    )
    out = _reassemble_group(pdf)
    (n,) = struct.unpack_from(">i", garbage, 0)
    if not (0 < n < 256 * 1024 * 1024):
        assert len(out) == 0  # framing rejected, buffer dropped
    for m in out["data"]:
        assert len(m) <= len(garbage) - 4


# --- pcap writer/parser round-trip -----------------------------------------

ip_octet = st.integers(min_value=0, max_value=255)
ips = st.tuples(ip_octet, ip_octet, ip_octet, ip_octet).map(
    lambda t: ".".join(map(str, t))
)
ports = st.integers(min_value=1, max_value=65535)
packets = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2**31 - 1),  # ts seconds
        ips, ports, ips, ports,
        st.binary(min_size=1, max_size=128),
    ),
    min_size=1,
    max_size=10,
)


@given(packets, st.sampled_from([LINKTYPE_ETHERNET, LINKTYPE_RAW_IP]),
       st.booleans())
@settings(max_examples=100, deadline=None)
def test_pcap_roundtrip(pkts, linktype, nanos):
    pkts = [(float(ts), s, sp, d, dp, data) for ts, s, sp, d, dp, data in pkts]
    blob = build_pcap(pkts, linktype=linktype, nanos=nanos)
    parsed = list(_parse_pcap_bytes("p", blob))
    assert len(parsed) == len(pkts)
    for got, (ts, src, sport, dst, dport, data) in zip(parsed, pkts):
        assert (got["src_addr"], got["src_port"]) == (src, sport)
        assert (got["dst_addr"], got["dst_port"]) == (dst, dport)
        assert got["data"] == data
        assert abs(got["ts"].timestamp() - ts) < 1e-3


@given(st.binary(max_size=256))
@settings(max_examples=200, deadline=None)
def test_pcap_parser_never_raises_on_garbage(blob):
    list(_parse_pcap_bytes("p", blob))  # must not raise, may yield nothing


# --- toStringBinary (C9/E1) -------------------------------------------------

@given(st.binary(max_size=128))
@settings(max_examples=200, deadline=None)
def test_to_string_binary_spec(data):
    """Printable ASCII passes through; everything else becomes \\xNN — the
    reference's escaping contract (hbase_test.clj:40-43)."""
    s = _to_string_binary_py(data)
    assert s == "".join(
        chr(b) if 32 <= b < 127 else f"\\x{b:02X}" for b in data
    )
    # like HBase's toStringBinary, the escape format is NOT injective for
    # inputs containing a literal backslash; for backslash-free inputs the
    # escaped form must decode back to the original bytes
    if b"\\" not in data:
        out, i = bytearray(), 0
        while i < len(s):
            if s[i] == "\\" and i + 3 < len(s) and s[i + 1] == "x":
                out.append(int(s[i + 2 : i + 4], 16))
                i += 4
            else:
                out.append(ord(s[i]))
                i += 1
        assert bytes(out) == data


# --- HBase protobuf wire decoder (sources.hbase_wire) ------------------------

@given(st.binary(max_size=200))
@example(b"\x07\x08\x00\x18\x00\x80\x01\x00")  # method name as a varint
@example(b"\x02\x08\x01\x02\x08\x01")  # multi result list as a varint
@settings(max_examples=300, deadline=None)
def test_wire_parser_never_raises_unexpected(blob):
    # garbage bytes either parse or raise WireError — nothing else escapes
    from hbase_packet_inspector_spark.sources import hbase_wire as W

    for fn in (W.fields, W.parse_request_frame,
               lambda b: W.parse_response_frame(b, "multi")):
        try:
            fn(blob)
        except W.WireError:
            pass


def test_wire_varint_and_packed():
    from hbase_packet_inspector_spark.sources import hbase_wire as W

    # field 1 varint 300; field 2 packed varints [1, 2, 300]
    msg = bytes([0x08, 0xAC, 0x02, 0x12, 0x04, 0x01, 0x02, 0xAC, 0x02])
    d = W.fields(msg)
    assert d[1] == [300]
    assert W._varints(d[2]) == [1, 2, 300]
    # unpacked form of the same repeated field merges identically
    unpacked = bytes([0x10, 0x01, 0x10, 0x02, 0x10, 0xAC, 0x02])
    assert W._varints(W.fields(unpacked)[2]) == [1, 2, 300]


# --- WARC record parser (sources.warc) ---------------------------------------

@given(st.binary(max_size=300))
@settings(max_examples=300, deadline=None)
def test_warc_parser_never_raises_on_garbage(blob):
    """Arbitrary bytes yield zero or more complete records, never an
    exception — the drop-malformed-tails contract a crawl reader needs."""
    from hbase_packet_inspector_spark.sources.warc import parse_warc_bytes

    for rec in parse_warc_bytes("mem", blob):
        assert rec["content_length"] == len(rec["payload"])


_warc_payloads = st.lists(st.binary(max_size=80), min_size=1, max_size=5)
_warc_uris = st.lists(
    st.text(alphabet="abcdefghij.:/", min_size=1, max_size=20),
    min_size=1, max_size=5,
)


@given(_warc_payloads, _warc_uris, st.booleans())
@settings(max_examples=200, deadline=None)
def test_warc_roundtrip_generated_records(payloads, uris, gzip_members):
    """Generated archives round-trip: every record's type, id, URI,
    length, and exact payload bytes come back, in order — for both the
    plain and the per-record-gzip-member (Common Crawl) layouts."""
    import gzip as _gz

    from hbase_packet_inspector_spark.sources.warc import (
        _read_blob, parse_warc_bytes,
    )

    recs = []
    for i, p in enumerate(payloads):
        uri = uris[i % len(uris)]
        head = (
            f"WARC/1.0\r\nWARC-Type: resource\r\n"
            f"WARC-Record-ID: <urn:uuid:r{i}>\r\n"
            f"WARC-Date: 2017-03-01T12:00:0{i % 10}Z\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"Content-Type: application/octet-stream\r\n"
            f"Content-Length: {len(p)}\r\n\r\n"
        ).encode()
        recs.append(head + p + b"\r\n\r\n")
    blob = (
        b"".join(_gz.compress(r) for r in recs) if gzip_members
        else b"".join(recs)
    )
    if gzip_members:
        import os
        import tempfile
        fd, path = tempfile.mkstemp(suffix=".warc.gz")
        try:
            with os.fdopen(fd, "wb") as f:
                f.write(blob)
            raw = _read_blob(path)
        finally:
            os.unlink(path)
    else:
        raw = blob
    out = list(parse_warc_bytes("mem", raw))
    assert len(out) == len(payloads)
    for i, (rec, p) in enumerate(zip(out, payloads)):
        assert rec["record_id"] == f"<urn:uuid:r{i}>"
        assert rec["warc_type"] == "resource"
        assert rec["payload"] == p and rec["content_length"] == len(p)
        assert rec["target_uri"] == uris[i % len(uris)]


# --- multimodal codecs (operators.multimodal) --------------------------------

_dims = st.tuples(st.integers(1, 6), st.integers(1, 5))


@given(_dims, st.binary(min_size=90, max_size=90), _dims)
@settings(max_examples=200, deadline=None)
def test_ppm_resize_identity_and_index_mapping(dims, raster, out_dims):
    """Resize to the SAME dims is the identity; any resize obeys the
    nearest-neighbor floor mapping pixel for pixel."""
    from hbase_packet_inspector_spark.operators.multimodal import (
        decode_ppm_bytes, resize_ppm_bytes,
    )

    w, h = dims
    payload = b"P6\n%d %d\n255\n" % (w, h) + raster[: w * h * 3]
    _, _, src = decode_ppm_bytes(payload)
    same, enc = resize_ppm_bytes(payload, w, h)
    assert (same == src).all()
    w2, h2 = out_dims
    out, enc2 = resize_ppm_bytes(payload, w2, h2)
    for y in range(h2):
        for x in range(w2):
            assert (out[y, x] == src[y * h // h2, x * w // w2]).all()
    # the re-encoded payload decodes back to the resized raster
    _, _, back = decode_ppm_bytes(enc2)
    assert (back == out).all()


@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=40),
       st.integers(1, 5))
@settings(max_examples=200, deadline=None)
def test_wav_encode_decode_roundtrip_and_decimation(samples, factor):
    import numpy as np

    from hbase_packet_inspector_spark.operators.multimodal import (
        decode_wav_bytes, encode_wav_bytes,
    )

    s = np.array(samples, dtype="<i2")
    sr, back = decode_wav_bytes(encode_wav_bytes(s, 8000))
    assert sr == 8000 and (back == s).all()
    kept = s[::factor]
    sr2, back2 = decode_wav_bytes(encode_wav_bytes(kept, 8000 // factor))
    assert sr2 == 8000 // factor and (back2 == kept).all()


@given(st.lists(st.integers(-32768, 32767), min_size=1, max_size=60),
       st.integers(1, 2048))
@settings(max_examples=200, deadline=None)
def test_trim_silence_partition_and_roundtrip(samples, threshold):
    """trim_head + n_kept + trim_tail == n; the kept span's endpoints are
    loud, the trimmed margins quiet; the re-encoded payload decodes to
    exactly the kept span."""
    import numpy as np

    from hbase_packet_inspector_spark.operators.multimodal import (
        decode_wav_bytes, encode_wav_bytes, trim_silence_bytes,
    )

    s = np.array(samples, dtype="<i2")
    n, k, head, tail, mean_amp, payload = trim_silence_bytes(
        encode_wav_bytes(s, 8000), threshold)
    assert n == len(s) and head + k + tail == n
    sr, back = decode_wav_bytes(payload)
    assert sr == 8000 and (back == s[head:n - tail]).all()
    assert all(abs(int(x)) < threshold for x in s[:head])
    assert all(abs(int(x)) < threshold for x in s[n - tail:])
    if k:
        assert abs(int(s[head])) >= threshold
        assert abs(int(s[n - tail - 1])) >= threshold
        assert mean_amp == round(
            float(s[head:n - tail].astype(np.int64).sum()) / k, 6)
    else:
        assert mean_amp is None and head == n and tail == 0


@given(_dims, st.binary(min_size=90, max_size=90),
       st.integers(0, 40), st.sampled_from([4, 8]))
@settings(max_examples=200, deadline=None)
def test_ahash_invariant_under_uniform_brightness_shift(dims, raster,
                                                        shift, grid):
    """aHash thresholds each cell against the image's own mean, so a
    uniform (unclipped) brightness shift or 2x gain never changes the
    hash — the perceptual-hash property; and the hash fits grid*grid
    bits as a signed 64-bit pattern."""
    import numpy as np

    from hbase_packet_inspector_spark.operators.multimodal import (
        ahash_ppm_bytes,
    )

    w, h = dims
    base = np.frombuffer(raster[: w * h * 3], dtype=np.uint8) % 100
    pay = lambda a: (b"P6\n%d %d\n255\n" % (w, h)) + bytes(a)  # noqa: E731
    h0 = ahash_ppm_bytes(pay(base.astype(np.uint8)), grid)
    if grid * grid < 64:
        assert 0 <= h0 < (1 << grid * grid)
    else:
        assert -(1 << 63) <= h0 < (1 << 63)
    shifted = (base.astype(np.int32) + shift).astype(np.uint8)  # <= 139
    assert ahash_ppm_bytes(pay(shifted), grid) == h0
    doubled = (base.astype(np.int32) * 2).astype(np.uint8)  # <= 198
    assert ahash_ppm_bytes(pay(doubled), grid) == h0


# --- pcapng: block walker totality ----------------------------------------

from hbase_packet_inspector_spark.sources.pcap import (  # noqa: E402
    _parse_capture_bytes,
    build_pcapng,
)


@given(st.binary(max_size=512))
@settings(max_examples=200, deadline=None)
def test_pcapng_walker_total_on_garbage(blob):
    """Arbitrary bytes after an SHB magic (and without one) must parse to
    a list, never raise — the classic parser's garbage contract extended
    to the pcapng block walker."""
    list(_parse_capture_bytes("p", b"\x0a\x0d\x0d\x0a" + blob))
    list(_parse_capture_bytes("p", blob))


@given(
    st.lists(st.binary(min_size=1, max_size=32), min_size=1, max_size=5),
    st.integers(min_value=0, max_value=10_000),
)
@settings(max_examples=100, deadline=None)
def test_pcapng_truncation_never_raises_and_prefix_parses(payloads, cut):
    """Every truncation of a valid pcapng file yields a PREFIX of the
    full packet list (truncated trailing block dropped, never mangled)."""
    pkts = [
        (1_700_000_000.0 + i, "10.0.0.7", 40000 + i, "10.0.0.1", 16020, p)
        for i, p in enumerate(payloads)
    ]
    blob = build_pcapng(pkts)
    full = [r["data"] for r in _parse_capture_bytes("p", blob)]
    assert full == list(payloads)
    part = [r["data"]
            for r in _parse_capture_bytes("p", blob[: cut % (len(blob) + 1)])]
    assert part == full[: len(part)]
