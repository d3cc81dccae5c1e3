"""User-facing engine facade — the Spark-native equivalent of the reference
CLI's three modes (reference core.clj:499-517, SURVEY.md §3):

- file mode   (`hpi dump.pcap` -> H2 tables -> SQL shell):
    ``Engine.load_pcap(path).register_tables()`` (or ``load_events`` for
    pre-decoded rpc_events) then ``Engine.sql(...)``
- live mode   (NIC capture -> same tables):
    ``Engine.stream(source_dir)`` — Structured Streaming with the same
    operators; capture itself stays an external agent (pcap has no
    Spark-native source; SURVEY.md §2 A1).
- kafka mode  (`hpi --kafka servers/t1/t2?k=v`):
    ``Engine.kafka_records(spec)`` — JSON records routed by direction.

The four public tables (requests/responses/actions/results) are registered
as temp views, so the entire Spark SQL surface replaces the H2 prompt —
every query from the reference README (join on (client, port, call_id),
latency percentiles, hot tables...) runs verbatim.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .operators.pipeline import correlate, finalize, route, scanner_enrich
from .operators.reassembly import reassemble
from .schema import (
    ACTION_STRUCT,
    RESULT_STRUCT,
    RPC_EVENT_SCHEMA,
    STATE_EXPIRATION_MS,
)
from .session import tune_session
from .streaming.sink import parse_kafka_spec, to_kafka_records

# Framed-message body schema for the JSON decode seam: the per-method
# columns the reference's protobuf decoders extract (hbase.clj:110-245,
# SURVEY.md §2 C1-C13). A production HBase deployment swaps ``from_json``
# for a protobuf-decoding Pandas UDF with this same output schema — the
# seam (framed bytes in, wide event columns out) is identical.
MESSAGE_BODY_SCHEMA = T.StructType(
    [
        T.StructField("call_id", T.IntegerType()),
        T.StructField("method", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("region", T.StringType()),
        T.StructField("row", T.StringType()),
        T.StructField("stoprow", T.StringType()),
        T.StructField("cells", T.IntegerType()),
        T.StructField("durability", T.StringType()),
        T.StructField("scanner", T.LongType()),
        T.StructField("caching", T.IntegerType()),
        T.StructField("error", T.StringType()),
        T.StructField("actions", T.ArrayType(ACTION_STRUCT)),
        T.StructField("results", T.ArrayType(RESULT_STRUCT)),
    ]
)


def decode_json_messages(messages: DataFrame) -> DataFrame:
    """Reassembled framed messages -> RPC_EVENT_SCHEMA rows.

    ``size`` is the framed payload's byte length (the reference stores the
    RPC message size, hbase.clj:224-227); ``event_id`` is the per-connection
    message sequence — correlation only uses it as an intra-connection
    order tie-break after ``ts``.
    """
    body = F.from_json(F.col("data").cast("string"), MESSAGE_BODY_SCHEMA)
    cols = [
        F.col("msg_seq").alias("event_id"),
        "ts",
        "inbound",
        "client",
        "port",
        "server",
        F.col("j.call_id").alias("call_id"),
        F.col("j.method").alias("method"),
        F.octet_length("data").alias("size"),
        *[F.col(f"j.{c}").alias(c) for c in (
            "table", "region", "row", "stoprow", "cells", "durability",
            "scanner", "caching", "error", "actions", "results",
        )],
    ]
    return messages.withColumn("j", body).select(*cols)


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = tune_session(spark)
        self.tables: dict[str, DataFrame] = {}
        self._events: DataFrame | None = None
        # set by load_pcap: register_tables then checkpoints the capture
        self._from_pcap = False

    # -- ingestion ------------------------------------------------------

    def load_events(self, source: str | DataFrame, fmt: str = "parquet") -> "Engine":
        """Load a decoded rpc_events stream (the engine ingestion format;
        raw pcap decode is an edge adapter, SURVEY.md §7). ``fmt='kafka-json'``
        reads files of sink-payload JSON lines — what a consumer dumps from
        the reference's Kafka topics — via the inverse sink transform."""
        self._from_pcap = False
        if isinstance(source, DataFrame):
            self._events = source
        elif fmt == "parquet":
            self._events = self.spark.read.schema(RPC_EVENT_SCHEMA).parquet(source)
        elif fmt == "json":
            self._events = self.spark.read.schema(RPC_EVENT_SCHEMA).json(source)
        elif fmt == "kafka-json":
            from .streaming.sink import from_kafka_records

            self._events = from_kafka_records(
                self.spark.read.text(source), value_col="value"
            )
        else:
            raise ValueError(f"unsupported format: {fmt}")
        return self

    def load_pcap(
        self,
        path: str,
        ports: Sequence[int] = (16020, 60020),
        decode: str = "hbase",
    ) -> "Engine":
        """File mode from raw capture bytes (``hpi dump.pcap`` analog):
        binaryFile scan -> packet decode -> direction/port tagging -> TCP
        reassembly -> framed-message decode -> rpc_events.

        ``decode='hbase'`` (default) runs the real HBase RPC protobuf
        decoder (``sources.hbase_decode`` — pure-Python wire format, no
        google.protobuf), validated against the reference's own pcap
        fixtures. Framing and decode run in one grouped Python pass keyed
        ``(client, port)`` (``decode_hbase_chunks``), so the derivation
        has one shuffle before correlation. ``decode='json'`` parses framed
        payloads as JSON event bodies (the synthetic-capture seam; see
        MESSAGE_BODY_SCHEMA) after ``reassemble``, its one shuffle on the
        same key.

        The events stay lazy here; ``register_tables`` derives the capture
        once for all four tables."""
        from .sources import pcap as P

        chunks = P.packets_to_chunks(P.read_pcap(self.spark, path), ports)
        if decode == "hbase":
            from .sources.hbase_decode import decode_hbase_chunks

            self._events = decode_hbase_chunks(chunks)
        elif decode == "json":
            self._events = decode_json_messages(reassemble(chunks))
        else:
            raise ValueError(f"unsupported decoder: {decode}")
        self._from_pcap = True
        return self

    # -- file mode ------------------------------------------------------

    def bound(self, count: int | None = None,
              duration_s: float | None = None) -> "Engine":
        """Bounded capture (B13, reference core.clj:384-392): keep only the
        first ``count`` events and/or the first ``duration_s`` seconds of
        EVENT time (relative to the earliest loaded event, like the
        reference's `sub-ts latest first` — not wall clock)."""
        if self._events is None:
            raise RuntimeError("load events first")
        ev = self._events
        if duration_s is not None:
            first = ev.agg(F.min("ts").alias("t0"))
            ev = ev.join(F.broadcast(first)).where(
                F.col("ts") <= F.timestamp_add(
                    "MILLISECOND", F.lit(int(round(duration_s * 1000))),
                    F.col("t0"))
            ).drop("t0")
        if count is not None:
            # capture order = (ts, event_id); limit after a sort is a TopK
            # (TakeOrderedAndProject), not a full sort
            ev = ev.orderBy("ts", "event_id").limit(count)
        self._events = ev
        return self

    def register_tables(self, ttl_ms: int | None = None) -> "Engine":
        """Correlate -> scanner-enrich -> finalize the loaded events and
        register the four routed tables as temp views.

        After ``load_pcap`` the capture is derived once per call: the
        finalized frame (the last frame the four tables share) is
        local-checkpointed lazily. AQE runs its shuffle-map stages (pcap
        scan, the framing + decode pass, correlation) while this call
        plans it, the first table action computes the last stage into the
        checkpoint, and every table reads its blocks from then on. A local
        checkpoint, unlike ``cache()``, is not matched by plan, so a later
        load of the same (rotated) path never reads these blocks, and the
        ContextCleaner frees them once the tables are dropped. Its blocks
        do not survive a lost executor — the same trade the capture memo
        and the graph round frames make.

        After ``load_events`` the tables stay lazy views that submit no job
        here: under AQE even a lazy checkpoint runs its shuffle-map stages
        when it is planned, which would move both correlation shuffles into
        this call for a source that is cheap to read again."""
        if self._events is None:
            raise RuntimeError("call load_events() first")
        ttl = STATE_EXPIRATION_MS if ttl_ms is None else ttl_ms
        finalized = finalize(scanner_enrich(correlate(self._events, ttl), ttl))
        if self._from_pcap:
            finalized = finalized.localCheckpoint(eager=False)
        self.tables = route(finalized)
        for name, df in self.tables.items():
            df.createOrReplaceTempView(name)
        return self

    def persist_tables(self, path: str, buckets: int = 16,
                       partition_by_day: bool = False) -> "Engine":
        """Write the four tables bucketed + sorted on (client, port, call_id)
        — the Spark analog of the reference's index on the same key
        (db.clj:65-66). Subsequent joins between the persisted tables on the
        documented join key need NO shuffle on either side (both scans
        already hash-partitioned by bucket): at 100 TB this turns every
        repeated request<->response analysis join from two full shuffles
        into a zipped scan. Registers each as ``hpi_<name>``.

        ``partition_by_day`` additionally hive-partitions each table on the
        event date, so time-windowed analyses (the dominant access pattern
        on a rolling capture corpus) prune whole days at planning time —
        ``PartitionFilters`` in the scan, zero I/O for excluded days. The
        requests/actions tables lack a day column in the reference DDL; it's
        derived here and becomes part of the layout, not the schema."""
        if not self.tables:
            raise RuntimeError("call register_tables() first")
        key = ["client", "port", "call_id"]
        for name, df in self.tables.items():
            writer = df
            if partition_by_day:
                if "ts" in df.columns:
                    writer = df.withColumn("day", F.to_date("ts"))
                else:  # child tables carry no ts (reference db.clj:36-37)
                    writer = df.withColumn("day", F.lit(None).cast("date"))
                w = writer.write.mode("overwrite").partitionBy("day")
            else:
                w = writer.write.mode("overwrite")
            (
                w.option("path", f"{path}/{name}")
                .bucketBy(buckets, *key)
                .sortBy(*key)
                .saveAsTable(f"hpi_{name}")
            )
        return self

    def sql(self, query: str) -> DataFrame:
        """The H2-shell/web-console analog (reference db.clj:101-113) — the
        full Spark SQL surface over the four views."""
        return self.spark.sql(query)

    # -- live / kafka modes --------------------------------------------

    def stream(self, source_dir: str, sink_tables: dict[str, list],
               **kwargs) -> None:
        """Streaming file-replay mode; kwargs pass through to
        run_pipeline_available_now (max_files_per_trigger)."""
        from .streaming.pipeline import run_pipeline_available_now

        run_pipeline_available_now(self.spark, source_dir, sink_tables, **kwargs)

    def kafka_records(
        self, spec: str, df: DataFrame | None = None, hostname: str = "localhost"
    ) -> DataFrame:
        """(topic, value) records per the kafka spec; feed to
        ``writeStream.format('kafka')`` with compression gzip in a real
        deployment (reference kafka.clj:12-13).

        The payload is the FINALIZED record stream — the reference's sink
        receives each record only after correlation (elapsed), batch count,
        cells rollup, singleton promotion, and child-array stamping
        (core.clj:261-283) — so the full pipeline runs here; multi records
        keep their stamped actions/results arrays embedded, exactly as the
        reference ships them."""
        cfg = parse_kafka_spec(spec)
        src = df if df is not None else self._events
        if src is None:
            raise RuntimeError("no events loaded")
        finalized = finalize(scanner_enrich(correlate(src)))
        return to_kafka_records(
            finalized, cfg["topic1"], cfg["topic2"], cfg["extra"], hostname
        )
