"""Framed HBase RPC bytes -> rpc_events rows: the REAL protobuf decode for
the C1-C13 seam (no google.protobuf — see ``hbase_wire``), validated
end-to-end against the reference's own pcap fixtures
(dev-resources/*.pcap, test/core_test.clj:248-377 invariants).

Response bodies can only be parsed knowing the REQUEST's method
(hbase.clj:71-98: parse-response dispatches on the pending request), so
decode is a per-connection stateful pass — applyInPandas keyed
(client, port), frames ordered by (ts, inbound desc, msg_seq), holding the
same call_id -> request map the reference keeps (request stores/overwrites,
response consumes). The heavyweight derived state (elapsed, scanner
sessions, request-attribute merges) is NOT computed here — the downstream
correlate()/scanner_enrich()/finalize() operators own those semantics; this
pass extracts exactly what the bytes say plus the method dispatch.

Two entry points share that group function:

- ``decode_hbase_chunks`` (what ``Engine.load_pcap`` runs): TCP chunks in,
  one shuffle on (client, port); each group frames its connection
  (``operators.reassembly._reassemble_group``) and decodes the frames in
  the same Python pass, like the reference's one loop per connection
  (``process-hbase-packet``, core.clj:192-259).
- ``decode_hbase_frames``: already framed messages in, one shuffle on
  (client, port) of its own — after ``reassemble`` that is two grouped
  stages and two shuffles.

Malformed frames behave like the reference's catch block
(core.clj:255-259): the frame is dropped, the connection's decode state
survives only through what was already consumed.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame

from ..operators.reassembly import _reassemble_group
from ..schema import ACTION_STRUCT, RESULT_STRUCT, RPC_EVENT_SCHEMA
from . import hbase_wire as W

_EVENT_COLS = [f.name for f in RPC_EVENT_SCHEMA.fields]
_ACTION_FIELDS = [f.name for f in ACTION_STRUCT.fields]
_RESULT_FIELDS = [f.name for f in RESULT_STRUCT.fields]


def _full(d: dict, names: list[str]) -> dict:
    """Struct dicts crossing the Arrow boundary need every field present."""
    return {n: d.get(n) for n in names}


def _decode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    # requests sort before responses at equal timestamps — the capture
    # can stamp both sides of a fast RPC with the same tick
    pdf = pdf.sort_values(
        ["ts", "inbound", "msg_seq"], ascending=[True, False, True],
        kind="mergesort",
    )
    pending: dict[int, str] = {}
    rows = []
    eid = 0
    for r in pdf.itertuples():
        data = bytes(r.data)
        try:
            if r.inbound:
                parsed = W.parse_request_frame(data)
                pending[parsed["call_id"]] = parsed.get("method")
            else:
                header, _ = W.delimited(data, 0)
                call_id = W._first(W.fields(header), 1) or 0
                parsed = W.parse_response_frame(data, pending.pop(call_id, None))
        except W.WireError:
            continue  # invalid frame -> dropped (core.clj:255-259)
        if parsed.get("actions") is not None:
            parsed["actions"] = [_full(a, _ACTION_FIELDS) for a in parsed["actions"]]
        if parsed.get("results") is not None:
            parsed["results"] = [_full(x, _RESULT_FIELDS) for x in parsed["results"]]
        row = {c: None for c in _EVENT_COLS}
        row.update(parsed)
        row.update(
            event_id=eid, ts=r.ts, inbound=bool(r.inbound),
            client=r.client, port=int(r.port), server=r.server,
            size=len(data),
        )
        rows.append(row)
        eid += 1
    return pd.DataFrame(rows, columns=_EVENT_COLS)


def decode_hbase_frames(messages: DataFrame) -> DataFrame:
    """Reassembled framed messages (operators.reassembly.MESSAGE_SCHEMA,
    both directions) -> RPC_EVENT_SCHEMA rows."""
    return (
        messages.groupBy("client", "port")
        .applyInPandas(_decode_group, RPC_EVENT_SCHEMA)
    )


def _frame_and_decode_group(pdf: pd.DataFrame) -> pd.DataFrame:
    return _decode_group(_reassemble_group(pdf))


def decode_hbase_chunks(chunks: DataFrame) -> DataFrame:
    """TCP chunks (schema.TCP_CHUNK_SCHEMA) -> RPC_EVENT_SCHEMA rows:
    framing and decode of each connection in one grouped pass; the same
    rows as ``decode_hbase_frames(reassemble(chunks))`` with one shuffle
    fewer."""
    return (
        chunks.groupBy("client", "port")
        .applyInPandas(_frame_and_decode_group, RPC_EVENT_SCHEMA)
    )
