"""TCP stream reassembly + length-prefix framing (SURVEY.md §2 B3/B4/B5/B14).

Reference: per-(client, port) accumulation of payload chunks until the
4-byte big-endian length prefix is satisfied, multiple messages per packet
unrolled, invalid framing discards the connection's buffered state
(core.clj:86-100, 146-150, 192-259).

Spark mapping: the per-connection byte-buffer state machine is imperative by
nature, so it runs in ``applyInPandas`` — grouped by the connection key
``(client, port)``, Arrow-batched, ordered by (ts, event_id) inside each
group, one framing buffer per direction. At scale each group is one TCP
connection (small), and groups distribute freely across executors.
``reassemble`` costs one shuffle, on (client, port). In file mode with the
HBase decoder the group function runs inside the decode's group instead
(``sources.hbase_decode.decode_hbase_chunks``), so framing adds no shuffle
of its own there.
"""

from __future__ import annotations

import struct as _struct

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..schema import MAX_RPC_MESSAGE_BYTES

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("client", T.StringType()),
        T.StructField("port", T.IntegerType()),
        T.StructField("server", T.StringType()),
        T.StructField("inbound", T.BooleanType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("msg_seq", T.LongType()),
        T.StructField("data", T.BinaryType()),
    ]
)


def _valid_length(n: int) -> bool:
    """Framing heuristic (core.clj:86-100): reject non-positive or >256MiB —
    a mid-stream fragment without its header."""
    return 0 < n < MAX_RPC_MESSAGE_BYTES


class _Direction:
    """One direction's framing state: its buffer and next ``msg_seq``."""

    __slots__ = ("server", "inbound", "buf", "seq")

    def __init__(self, server: str, inbound: bool):
        self.server, self.inbound = server, inbound
        self.buf, self.seq = bytearray(), 0


def _reassemble_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Frame one connection's chunks, every direction in the group.

    Each direction (``src_port``) keeps its own buffer and its own
    ``msg_seq``: interleaving the two directions' bytes would corrupt the
    length prefixes. The reference gets this for free by framing each
    packet's payload against its own direction's stream (core.clj:192-194,
    226-254)."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    client = pdf["client"].iloc[0]
    port = int(pdf["port"].iloc[0])
    dirs: dict[int, _Direction] = {}  # src_port -> state
    out_server, out_inbound, out_ts, out_seq, out_data = [], [], [], [], []
    for ts, src_port, server, data in zip(
        pdf["ts"], pdf["src_port"], pdf["server"], pdf["data"]
    ):
        d = dirs.get(src_port)
        if d is None:
            # `port` is the CLIENT's port by construction, so a chunk whose
            # source port equals it was sent by the client — an inbound
            # request. (Same client-side keying as the reference,
            # core.clj:182-191.)
            d = dirs[src_port] = _Direction(server, int(src_port) == port)
        if data is None:
            continue
        buf = d.buf
        buf.extend(data)
        # unroll every complete message in the buffer (B5: one packet may
        # complete several messages; Nagle/asynchbase coalescing)
        while len(buf) >= 4:
            (n,) = _struct.unpack_from(">i", buf, 0)
            if not _valid_length(n):
                # B14: framing lost -> drop this direction's buffered state
                buf.clear()
                break
            if len(buf) < 4 + n:
                break  # B4: expects more fragments
            out_server.append(d.server)
            out_inbound.append(d.inbound)
            out_ts.append(ts)  # completion-packet timestamp (core.clj:226-254)
            out_seq.append(d.seq)
            out_data.append(bytes(buf[4 : 4 + n]))
            d.seq += 1
            del buf[: 4 + n]

    return pd.DataFrame(
        {
            "client": client,
            "port": port,
            "server": out_server,
            "inbound": out_inbound,
            "ts": out_ts,
            "msg_seq": out_seq,
            "data": out_data,
        }
    )


def reassemble(chunks: DataFrame) -> DataFrame:
    """tcp_chunks (schema.TCP_CHUNK_SCHEMA) -> one row per framed message.

    One shuffle on ``(client, port)``: each group is one TCP connection,
    both directions, and ``_reassemble_group`` frames each direction
    against its own buffer. ``Engine.load_pcap(decode="hbase")`` runs the
    same group function fused with the decode
    (``sources.hbase_decode.decode_hbase_chunks``); this layered form feeds
    the JSON decode and ``decode_hbase_frames``.
    """
    return (
        chunks.groupBy("client", "port")
        .applyInPandas(_reassemble_group, MESSAGE_SCHEMA)
    )
