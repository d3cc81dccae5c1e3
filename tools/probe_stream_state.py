"""Streaming state-bound probe (VERDICT_r11 item 3): drive
``stream_correlate`` with many micro-batches of FRESH ephemeral
connections — default 20 batches x 50k connections = 1M distinct
(client, port) keys — under ``watermark="2 minutes"`` and the RocksDB
state store, recording the state operator's numRowsTotal /
numRowsRemoved / numRowsUpdated and batch wall per micro-batch.

The claim under test (SCALE.md "Ingest"): with the event-time eviction
opt-in, the state-row count PLATEAUS at roughly the connections live
inside one TTL+watermark window (~2 batches here), independent of the
TOTAL connections the stream has seen — the property that lets the
correlator survive millions of short-lived TCP connections in live
mode. Without eviction (watermark=None) numRowsTotal would grow by
conns_per_batch every batch and end at n_batches x conns_per_batch.

Batches are spaced 300 s apart in EVENT time, so closing batch i moves
the watermark (300 s - 120 s allowed lateness = 180 s past batch i-1)
beyond batch i-1's latest packet + 120 s TTL: every batch's connections
time out one batch later. Expected plateau: ~2 x conns_per_batch
(current batch + the previous batch awaiting its timeout sweep).

Usage: python tools/probe_stream_state.py [n_batches] [conns_per_batch]
Results go to stdout; paste the table into SCALE.md.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from hbase_packet_inspector_spark.session import get_spark


def _batch_events(spark, batch_idx: int, conns: int):
    """conns fresh connections for one micro-batch: request + matched
    response 50 ms later, unique (client, port) per connection, event
    time = batch_idx * 300 s. Pure column expressions — the generator
    must not be the bottleneck at 10^5 rows per batch."""
    from hbase_packet_inspector_spark.schema import RPC_EVENT_SCHEMA

    base_ms = batch_idx * 300_000
    c = spark.range(conns).select(
        (F.lit(batch_idx) * conns + F.col("id")).alias("conn"))
    req = c.select(
        (F.col("conn") * 2).alias("event_id"),
        F.timestamp_millis(F.lit(base_ms)).alias("ts"),
        F.lit(True).alias("inbound"),
        F.concat(F.lit("10.0."), F.floor((F.col("conn") % 65536) / 256).cast("int"),
                 F.lit("."), F.col("conn") % 256).alias("client"),
        (F.lit(40000) + F.floor(F.col("conn") / 65536)).cast("int").alias("port"),
        F.lit("server1").alias("server"),
        F.lit(1).alias("call_id"),
        F.lit("get").alias("method"),
        F.lit(100).alias("size"),
        F.lit("t1").alias("table"),
        F.lit("r1").alias("region"),
        F.lit("k").alias("row"),
    )
    resp = c.select(
        (F.col("conn") * 2 + 1).alias("event_id"),
        F.timestamp_millis(F.lit(base_ms + 50)).alias("ts"),
        F.lit(False).alias("inbound"),
        F.concat(F.lit("10.0."), F.floor((F.col("conn") % 65536) / 256).cast("int"),
                 F.lit("."), F.col("conn") % 256).alias("client"),
        (F.lit(40000) + F.floor(F.col("conn") / 65536)).cast("int").alias("port"),
        F.lit("server1").alias("server"),
        F.lit(1).alias("call_id"),
        F.lit(None).cast("string").alias("method"),
        F.lit(120).alias("size"),
        F.lit(None).cast("string").alias("table"),
        F.lit(None).cast("string").alias("region"),
        F.lit(None).cast("string").alias("row"),
    )
    both = req.unionByName(resp)
    # fill the remaining schema columns with typed nulls
    have = set(both.columns)
    for f in RPC_EVENT_SCHEMA.fields:
        if f.name not in have:
            both = both.withColumn(f.name, F.lit(None).cast(f.dataType))
    return both.select([f.name for f in RPC_EVENT_SCHEMA.fields])


def main() -> None:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    conns = int(sys.argv[2]) if len(sys.argv) > 2 else 50_000
    spark = get_spark("stream-state-probe")
    spark.sparkContext.setLogLevel("ERROR")
    # the B11 posture: RocksDB keeps the (bounded) live window off-heap
    # and spills under memory pressure. A runtime SQL conf, read when
    # the query starts.
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    from hbase_packet_inspector_spark.schema import RPC_EVENT_SCHEMA
    from hbase_packet_inspector_spark.streaming.pipeline import (
        stream_correlate,
    )

    work = tempfile.mkdtemp(prefix="stream_state_probe_")
    src = os.path.join(work, "events")
    print(f"generating {n_batches} batches x {conns} connections "
          f"({n_batches * conns} total) under {work}")
    for i in range(n_batches):
        _batch_events(spark, i, conns).coalesce(1).write.mode(
            "append").parquet(src)
        time.sleep(1.05)  # file source orders micro-batches by mod time

    counts: list[int] = []
    t0 = time.perf_counter()
    q = (
        stream_correlate(
            spark.readStream.schema(RPC_EVENT_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src),
            watermark="2 minutes",
        )
        .writeStream.foreachBatch(lambda df, _id: counts.append(df.count()))
        .option("checkpointLocation", os.path.join(work, "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.perf_counter() - t0

    progs = [p for p in q.recentProgress if p.get("stateOperators")]
    print(f"\n== stream_correlate state probe: {n_batches} x {conns} "
          f"ephemeral connections, watermark=2min, RocksDB  "
          f"(total wall {wall:.1f}s)")
    print(f"    {'batch':>5} {'rowsTotal':>10} {'removed':>9} "
          f"{'updated':>9} {'batchMs':>9}")
    peak = 0
    removed_total = 0
    for i, p in enumerate(progs):
        so = p["stateOperators"][0]
        peak = max(peak, so["numRowsTotal"])
        removed_total += so.get("numRowsRemoved", 0)
        print(f"    {i:>5} {so['numRowsTotal']:>10} "
              f"{so.get('numRowsRemoved', 0):>9} "
              f"{so.get('numRowsUpdated', 0):>9} "
              f"{p.get('batchDuration', 0):>9}")
    total_conns = n_batches * conns
    final = progs[-1]["stateOperators"][0]["numRowsTotal"] if progs else -1
    print(f"\n    peak numRowsTotal {peak} vs total connections "
          f"{total_conns} ({peak / max(total_conns, 1):.3f}x)")
    print(f"    removed {removed_total}, final {final}")
    ok = peak <= 2.5 * conns and final <= 2.5 * conns
    print(f"    PLATEAU {'HOLDS' if ok else 'VIOLATED'}: peak bounded by "
          f"~2x batch connections, independent of total")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
