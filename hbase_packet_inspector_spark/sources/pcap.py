"""Pcap file source — the batch analog of the reference's file mode
(``hpi dump.pcap``; reference pcap.clj:35-55, core.clj:416-420).

Spark has no native pcap reader, so this is the one genuinely imperative
edge adapter (SURVEY.md §2 A3/A4, §7 Phase 4): ``spark.read.format
("binaryFile")`` brings each capture file in as one row, and an
Arrow-batched ``mapInPandas`` walks the classic-pcap framing to emit one
row per IPv4/TCP payload packet. Everything downstream (direction tagging,
port filter, reassembly, decode, correlation) is the same column logic the
parquet fixtures use.

Scale shape: pcap files don't split (packet records are sequentially
framed, like gzip), so parallelism = number of files — which is how
captures arrive from a fleet anyway (one file per host per rotation
interval). A 100 TB corpus of ~1 GB rotated captures distributes evenly;
`binaryFile` prunes on path globs and the per-file work is a single pass.

Format notes (all public: the libpcap file format):
- global header: magic(4) ver(2+2) thiszone(4) sigfigs(4) snaplen(4)
  network(4); magic 0xa1b2c3d4 = microsecond ts, 0xa1b23c4d = nanosecond,
  either endianness.
- per packet: ts_sec(4) ts_frac(4) incl_len(4) orig_len(4) + data.
- link types handled: 1 (Ethernet, incl. 802.1Q VLAN tag skip) and
  101 (raw IP). Non-IPv4/non-TCP/empty-payload packets are dropped, as in
  the reference (pcap.clj:44-55 returns nil for those).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator
from typing import Sequence

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MAGIC_US = 0xA1B2C3D4
MAGIC_NS = 0xA1B23C4D

LINKTYPE_ETHERNET = 1
LINKTYPE_RAW_IP = 101

PACKET_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("pkt_index", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("src_addr", T.StringType()),
        T.StructField("src_port", T.IntegerType()),
        T.StructField("dst_addr", T.StringType()),
        T.StructField("dst_port", T.IntegerType()),
        T.StructField("length", T.IntegerType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def _frame_to_row(path: str, pkt_idx: int, ts: "pd.Timestamp",
                  linktype: int, frame: bytes) -> dict | None:
    """Link frame -> packet row (PACKET_SCHEMA), or None for anything
    that isn't an IPv4/TCP packet with payload (reference pcap.clj:44-55
    returns nil for those). Shared by the classic-pcap and pcapng
    walkers — the two container formats frame identical link data."""
    # link layer -> IP offset
    if linktype == LINKTYPE_ETHERNET:
        if len(frame) < 14:
            return None
        ethertype = struct.unpack_from(">H", frame, 12)[0]
        ip_off = 14
        if ethertype == 0x8100 and len(frame) >= 18:  # 802.1Q VLAN
            ethertype = struct.unpack_from(">H", frame, 16)[0]
            ip_off = 18
        if ethertype != 0x0800:  # IPv4 only (reference pcap.clj:44-49)
            return None
    elif linktype == LINKTYPE_RAW_IP:
        ip_off = 0
    else:
        return None

    if len(frame) < ip_off + 20:
        return None
    ver_ihl = frame[ip_off]
    if ver_ihl >> 4 != 4:
        return None
    ihl = (ver_ihl & 0x0F) * 4
    proto = frame[ip_off + 9]
    if proto != 6:  # TCP only
        return None
    src_ip = ".".join(str(b) for b in frame[ip_off + 12 : ip_off + 16])
    dst_ip = ".".join(str(b) for b in frame[ip_off + 16 : ip_off + 20])

    tcp_off = ip_off + ihl
    if len(frame) < tcp_off + 20:
        return None
    src_port, dst_port = struct.unpack_from(">HH", frame, tcp_off)
    data_off = tcp_off + ((frame[tcp_off + 12] >> 4) * 4)
    payload = frame[data_off:]
    if not payload:  # drop no-payload packets (pcap.clj:50-55)
        return None
    return {
        "path": path,
        "pkt_index": pkt_idx,
        "ts": ts,
        "src_addr": src_ip,
        "src_port": src_port,
        "dst_addr": dst_ip,
        "dst_port": dst_port,
        "length": len(payload),
        "data": payload,
    }


def _parse_pcap_bytes(path: str, blob: bytes) -> Iterator[dict]:
    """Yield one dict per IPv4/TCP payload packet in a classic-pcap blob."""
    if len(blob) < 24:
        return
    magic_le = struct.unpack_from("<I", blob, 0)[0]
    magic_be = struct.unpack_from(">I", blob, 0)[0]
    if magic_le in (MAGIC_US, MAGIC_NS):
        end, magic = "<", magic_le
    elif magic_be in (MAGIC_US, MAGIC_NS):
        end, magic = ">", magic_be
    else:
        return  # not a classic-pcap file
    ns = magic == MAGIC_NS
    linktype = struct.unpack_from(end + "I", blob, 20)[0]

    off = 24
    idx = 0
    n = len(blob)
    while off + 16 <= n:
        ts_sec, ts_frac, incl, _orig = struct.unpack_from(end + "IIII", blob, off)
        off += 16
        if incl <= 0 or off + incl > n:
            break  # truncated capture tail
        frame = blob[off : off + incl]
        off += incl
        pkt_idx = idx
        idx += 1

        # truncate to whole microseconds: Spark timestamps are µs and the
        # Arrow serializer REFUSES a lossy ns -> µs cast, so a nanosecond
        # capture (magic 0xa1b23c4d) would otherwise abort the decode stage.
        # Integer math: a float round trip reads e.g. 249 µs as 248.
        frac_us = ts_frac // 1000 if ns else ts_frac
        ts = pd.Timestamp(ts_sec, unit="s") + pd.Timedelta(frac_us, unit="us")
        row = _frame_to_row(path, pkt_idx, ts, linktype, frame)
        if row is not None:
            yield row


# pcapng block types (the published pcapng spec, opsawg-pcapng)
PCAPNG_SHB = 0x0A0D0D0A   # Section Header Block (also the file magic)
PCAPNG_IDB = 0x00000001   # Interface Description Block
PCAPNG_PB = 0x00000002    # (obsolete) Packet Block
PCAPNG_SPB = 0x00000003   # Simple Packet Block
PCAPNG_EPB = 0x00000006   # Enhanced Packet Block
PCAPNG_BOM = 0x1A2B3C4D   # SHB byte-order magic


def _parse_pcapng_bytes(path: str, blob: bytes) -> Iterator[dict]:
    """Yield one dict per IPv4/TCP payload packet in a pcapng blob.

    Block walker over SHB/IDB/EPB (+ obsolete PB, SPB): endianness is
    per-SECTION (re-read from each SHB's byte-order magic), interfaces
    accumulate per section and carry (linktype, ts units-per-second from
    the if_tsresol option, default 10^-6). Unknown block types skip by
    their total length; any malformed length/truncated tail stops the
    walk (same garbage-never-raises posture as the classic parser —
    modern tcpdump writes pcapng by default on several distros, so the
    file mode must accept both containers)."""
    n = len(blob)
    off = 0
    idx = 0
    end: str | None = None
    ifaces: list[tuple[int, int, int]] = []  # (linktype, units_per_sec, snaplen)
    while off + 12 <= n:
        if struct.unpack_from("<I", blob, off)[0] == PCAPNG_SHB:
            # SHB: endianness comes from its byte-order magic
            bom = struct.unpack_from("<I", blob, off + 8)[0]
            if bom == PCAPNG_BOM:
                end = "<"
            elif bom == struct.unpack(">I", struct.pack("<I", PCAPNG_BOM))[0]:
                end = ">"
            else:
                return  # corrupt section header
            ifaces = []  # interface ids are section-scoped
        if end is None:
            return  # first block must be an SHB
        btype, blen = struct.unpack_from(end + "II", blob, off)
        if blen < 12 or blen % 4 != 0 or off + blen > n:
            return  # malformed or truncated block
        body = blob[off + 8 : off + blen - 4]
        off += blen

        if btype == PCAPNG_IDB:
            if len(body) < 8:
                continue
            linktype = struct.unpack_from(end + "H", body, 0)[0]
            snaplen = struct.unpack_from(end + "I", body, 4)[0]
            units = 1_000_000  # spec default: 10^-6 s
            o = 8
            while o + 4 <= len(body):  # options walk
                code, olen = struct.unpack_from(end + "HH", body, o)
                if code == 0:  # opt_endofopt
                    break
                if code == 9 and olen == 1 and o + 5 <= len(body):
                    v = body[o + 4]  # if_tsresol
                    units = 2 ** (v & 0x7F) if v & 0x80 else 10 ** v
                o += 4 + ((olen + 3) // 4) * 4
            ifaces.append((linktype, units, snaplen))
            continue

        if btype in (PCAPNG_EPB, PCAPNG_PB):
            if len(body) < 20:
                continue
            if btype == PCAPNG_EPB:
                iid, tsh, tsl, capl = struct.unpack_from(end + "IIII", body, 0)
            else:  # obsolete PB: iface(2) drops(2) then the same layout
                iid = struct.unpack_from(end + "H", body, 0)[0]
                tsh, tsl, capl = struct.unpack_from(end + "III", body, 4)
            if iid >= len(ifaces) or capl > len(body) - 20:
                continue
            linktype, units, _snap = ifaces[iid]
            ts_units = (tsh << 32) | tsl
            ts = pd.Timestamp(ts_units * 1_000_000 // units, unit="us")
            row = _frame_to_row(path, idx, ts, linktype,
                                bytes(body[20 : 20 + capl]))
            idx += 1
            if row is not None:
                yield row
            continue

        if btype == PCAPNG_SPB:
            if len(body) < 4 or not ifaces:
                continue
            origl = struct.unpack_from(end + "I", body, 0)[0]
            linktype, _units, snaplen = ifaces[0]  # SPB: always iface 0
            # Captured length is min(origl, snaplen) per the spec; the
            # body-length bound alone would include up to 3 alignment
            # padding bytes in a snaplen-truncated frame, inflating the
            # TCP payload with garbage.  snaplen 0 means "no limit".
            capl = min(origl, len(body) - 4)
            if snaplen:
                capl = min(capl, snaplen)
            row = _frame_to_row(path, idx, pd.Timestamp(0, unit="s"),
                                linktype, bytes(body[4 : 4 + capl]))
            idx += 1
            if row is not None:
                yield row
        # any other block type: skipped by its total length above


def _parse_capture_bytes(path: str, blob: bytes) -> Iterator[dict]:
    """Container dispatch: classic pcap (either endianness, µs or ns
    magic) or pcapng (SHB magic) -> the shared packet-row stream."""
    if len(blob) >= 4 and struct.unpack_from("<I", blob, 0)[0] == PCAPNG_SHB:
        yield from _parse_pcapng_bytes(path, blob)
    else:
        yield from _parse_pcap_bytes(path, blob)


def _decode_files(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows: list[dict] = []
        for path, blob in zip(pdf["path"], pdf["content"]):
            rows.extend(_parse_capture_bytes(path, bytes(blob)))
        yield pd.DataFrame(
            rows,
            columns=[f.name for f in PACKET_SCHEMA.fields],
        )


def _glob_files(spark: SparkSession, path: str) -> list[str]:
    """The paths Hadoop's ``globStatus`` matches for ``path``, expanded on
    the driver. Spark's file sources glob the same way, so loading the
    matches reads the same files in the same scan tasks; a lone glob
    string, by contrast, makes the metadata-log probe stat the literal
    pattern and log a FileNotFoundException trace on every read."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    found = fs.globStatus(jpath)
    if not found:  # None for a missing literal path, [] for a dry glob
        raise FileNotFoundError(f"no capture file matches {path}")
    return [st.getPath().toString() for st in found]


def read_pcap(spark: SparkSession, path: str) -> DataFrame:
    """Capture file(s)/glob -> one row per IPv4/TCP payload packet
    (PACKET_SCHEMA). A4 packet->map projection, batch form. Accepts
    both classic pcap and pcapng containers, per file."""
    raw = (spark.read.format("binaryFile")
           .load(_glob_files(spark, path)).select("path", "content"))
    return raw.mapInPandas(_decode_files, PACKET_SCHEMA)


def packets_to_chunks(packets: DataFrame, ports: Sequence[int] = (16020, 60020)) -> DataFrame:
    """Direction tagging + port filter (B1/B2, core.clj:182-191, 221-223):
    keep packets touching the monitored ports, derive (client, port, server)
    from the direction, and emit the reassembly operator's chunk schema.
    Pure column expressions — Catalyst pushes the port filter below the
    projection."""
    inbound = F.col("dst_port").isin(*ports)
    keep = inbound | F.col("src_port").isin(*ports)
    return (
        packets.where(keep)
        .select(
            # per-file packet index orders chunks within a connection; ts
            # breaks ties across files (reassembly sorts by (ts, event_id))
            F.col("pkt_index").alias("event_id"),
            "ts",
            F.when(inbound, F.col("src_addr")).otherwise(F.col("dst_addr")).alias("client"),
            F.when(inbound, F.col("src_port")).otherwise(F.col("dst_port")).alias("port"),
            F.when(inbound, F.col("dst_addr")).otherwise(F.col("src_addr")).alias("server"),
            "src_port",
            "dst_port",
            "data",
        )
    )


# ---------------------------------------------------------------------------
# Writer (test/round-trip utility; also how users can synthesize captures)
# ---------------------------------------------------------------------------

def build_pcap(
    packets: Sequence[tuple[float, str, int, str, int, bytes]],
    *,
    linktype: int = LINKTYPE_ETHERNET,
    nanos: bool = False,
) -> bytes:
    """Serialize (ts_epoch_sec, src_ip, src_port, dst_ip, dst_port, payload)
    tuples into a classic-pcap byte string (Ethernet or raw-IP framing)."""
    magic = MAGIC_NS if nanos else MAGIC_US
    out = bytearray(struct.pack("<IHHiIII", magic, 2, 4, 0, 0, 65535, linktype))
    for ts, src_ip, sport, dst_ip, dport, payload in packets:
        frame = _tcp_frame(src_ip, sport, dst_ip, dport, payload, linktype)
        frac = round((ts - int(ts)) * (1e9 if nanos else 1e6))
        out += struct.pack("<IIII", int(ts), int(frac), len(frame), len(frame))
        out += frame
    return bytes(out)


def _tcp_frame(src_ip: str, sport: int, dst_ip: str, dport: int,
               payload: bytes, linktype: int) -> bytes:
    """Shared frame serializer for the two capture writers (zeroed
    checksums — parsers don't verify them)."""
    ip_src = bytes(int(x) for x in src_ip.split("."))
    ip_dst = bytes(int(x) for x in dst_ip.split("."))
    tcp = struct.pack(">HHIIBBHHH", sport, dport, 0, 0, 5 << 4, 0x18,
                      65535, 0, 0)
    total = 20 + len(tcp) + len(payload)
    ip = (struct.pack(">BBHHHBBH", 0x45, 0, total, 0, 0, 64, 6, 0)
          + ip_src + ip_dst)
    frame = ip + tcp + bytes(payload)
    if linktype == LINKTYPE_ETHERNET:
        frame = (b"\x02" * 6 + b"\x04" * 6
                 + struct.pack(">H", 0x0800) + frame)
    return frame


def build_pcapng(
    packets: Sequence[tuple[float, str, int, str, int, bytes]],
    *,
    linktype: int = LINKTYPE_ETHERNET,
    nanos: bool = False,
) -> bytes:
    """Serialize (ts_epoch_sec, src_ip, src_port, dst_ip, dst_port,
    payload) tuples into a pcapng byte string: one SHB, one IDB (with an
    if_tsresol option when ``nanos``), one EPB per packet — the shape
    tcpdump writes. Test/synthesis twin of :func:`build_pcap`."""
    def block(btype: int, body: bytes) -> bytes:
        pad = (-len(body)) % 4
        blen = 12 + len(body) + pad
        return (struct.pack("<II", btype, blen) + body + b"\x00" * pad
                + struct.pack("<I", blen))

    out = bytearray(block(
        PCAPNG_SHB,
        struct.pack("<IHHq", PCAPNG_BOM, 1, 0, -1),  # section len unknown
    ))
    idb_body = struct.pack("<HHI", linktype, 0, 0)
    if nanos:
        # options: if_tsresol(9) len 1 value 9 (10^-9) + opt_endofopt
        idb_body += struct.pack("<HH", 9, 1) + b"\x09\x00\x00\x00"
        idb_body += struct.pack("<HH", 0, 0)
    out += block(PCAPNG_IDB, idb_body)
    units = 1_000_000_000 if nanos else 1_000_000
    for ts, src_ip, sport, dst_ip, dport, payload in packets:
        frame = _tcp_frame(src_ip, sport, dst_ip, dport, payload, linktype)
        ts_units = round(ts * units)
        body = struct.pack(
            "<IIIII", 0, (ts_units >> 32) & 0xFFFFFFFF,
            ts_units & 0xFFFFFFFF, len(frame), len(frame)) + frame
        out += block(PCAPNG_EPB, body)
    return bytes(out)
