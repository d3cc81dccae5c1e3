"""User-facing engine facade — the Spark-native equivalent of the reference
CLI's three modes (reference core.clj:499-517, SURVEY.md §3):

- file mode   (`hpi dump.pcap` -> H2 tables -> SQL shell):
    ``Engine.load_pcap(path).register_tables()`` (or ``load_events`` for
    pre-decoded rpc_events) then ``Engine.sql(...)``; a capture has one
    decode path, the HBase RPC protobuf decoder (``sources.hbase_decode``)
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

Like the reference, which loads a capture into its H2 tables once
(db.clj:8-37), ``register_tables`` derives the finalized record frame once
for every source, and the four views read that one frame. A capture
(``load_pcap``) is local-checkpointed: the blocks are not matched by plan,
so a rotated capture at the same path is never answered from an earlier
load. Pre-decoded events (``load_events``) are cached: registration
submits no job, where a checkpoint would run both correlation shuffles in
it, and the first query fills the cache for all four views.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.pipeline import correlate, finalize, route, scanner_enrich
from .schema import DEFAULT_PORTS, RPC_EVENT_SCHEMA, STATE_EXPIRATION_MS
from .session import tune_session
from .streaming.sink import parse_kafka_spec, to_kafka_records


class Engine:
    def __init__(self, spark: SparkSession):
        self.spark = tune_session(spark)
        self.tables: dict[str, DataFrame] = {}
        self._events: DataFrame | None = None
        # set by load_pcap: register_tables then checkpoints the capture
        self._from_pcap = False
        # the path load_events read, refreshed before register_tables caches
        self._source_path: str | None = None
        # the finalized frame register_tables cached (events mode)
        self._cached: DataFrame | None = None

    def _release(self) -> None:
        """Unpersist the frame the last ``register_tables`` cached."""
        if self._cached is not None:
            self._cached.unpersist()
            self._cached = None

    # -- ingestion ------------------------------------------------------

    def load_events(self, source: str | DataFrame, fmt: str = "parquet") -> "Engine":
        """Load a decoded rpc_events stream (the engine ingestion format;
        raw pcap decode is an edge adapter, SURVEY.md §7). ``fmt='kafka-json'``
        reads files of sink-payload JSON lines — what a consumer dumps from
        the reference's Kafka topics — via the inverse sink transform."""
        self._release()
        self._from_pcap = False
        self._source_path = None if isinstance(source, DataFrame) else source
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

    def load_pcap(self, path: str,
                  ports: Sequence[int] = DEFAULT_PORTS) -> "Engine":
        """File mode from raw capture bytes (``hpi dump.pcap`` analog):
        binaryFile scan -> packet decode -> direction/port tagging -> TCP
        framing + HBase RPC protobuf decode -> rpc_events.

        The decoder is pure-Python wire format, no google.protobuf
        (``sources.hbase_wire``). Framing and decode run in one grouped
        Python pass keyed ``(client, port)`` (``decode_hbase_chunks``), so
        the derivation has one shuffle before correlation. The committed
        captures under ``tests/fixtures/hbase_pcap`` check it against
        their generator's model tables.

        The events stay lazy here; ``register_tables`` derives the capture
        once for all four tables."""
        from .sources import pcap as P
        from .sources.hbase_decode import decode_hbase_chunks

        self._release()
        chunks = P.packets_to_chunks(P.read_pcap(self.spark, path), ports)
        self._events = decode_hbase_chunks(chunks)
        self._from_pcap = True
        self._source_path = None
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

        The finalized frame (the last frame the four tables share) is
        derived once per call, whatever the source, so a query on any view
        never re-runs the correlation windows. How it is kept depends on
        what is expensive to read again:

        - After ``load_pcap`` it is local-checkpointed lazily. AQE runs the
          shuffle-map stages (pcap scan, the framing + decode pass,
          correlation) while this call plans it, the first table action
          computes the last stage into the checkpoint, and every table
          reads its blocks from then on. A local checkpoint is not matched
          by plan, so a later load of the same (rotated) path never reads
          these blocks, and the ContextCleaner frees them once the tables
          are dropped. Its blocks do not survive a lost executor — the
          same trade the graph round frames make.
        - After ``load_events`` it is cached (``cache()``, an
          ``InMemoryRelation``): this call submits no job, and the first
          table action fills the cache for all four views. A local
          checkpoint would move both correlation shuffles into this call
          under AQE. The cache is matched by plan, so a path source is
          refreshed first (``refreshByPath``): registering again, or
          registering a path another Engine cached, reads the files as
          they are at this call, even if they were rewritten outside
          Spark.

        Loading or registering again unpersists the previous cached
        frame."""
        if self._events is None:
            raise RuntimeError("call load_events() first")
        ttl = STATE_EXPIRATION_MS if ttl_ms is None else ttl_ms
        if self._source_path is not None:
            # re-lists the file index the loaded events share with every
            # cached plan over the path, this Engine's previous one included
            self.spark.catalog.refreshByPath(self._source_path)
        self._release()
        finalized = finalize(scanner_enrich(correlate(self._events, ttl), ttl))
        if self._from_pcap:
            finalized = finalized.localCheckpoint(eager=False)
        else:
            finalized = self._cached = finalized.cache()
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
