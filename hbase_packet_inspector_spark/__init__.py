"""hbase_packet_inspector_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of kakao/hbase-packet-inspector (HPI).

HPI (Clojure) is a streaming network-log pipeline:
it decodes HBase RPC traffic, correlates responses to requests on
(client, port, call_id), maintains a scanner-session state machine, and lands
the result in four SQL tables (requests/responses/actions/results) queried via
an embedded H2 database (reference src/hbase_packet_inspector/sink/db.clj:8-37).

This package re-expresses that pipeline Spark-first:

- ``schema``     — the event/table StructTypes (SURVEY.md §1.4).
- ``session``    — tuned local SparkSession factory.
- ``operators``  — the stateful/relational operators (correlation-as-of join,
                   scanner enrichment, batch flatten, TCP reassembly) plus the
                   large-scale training-data operators (dedup, similarity,
                   text analysis) that make the engine useful at 100 TB.
- ``functions``  — scalar column functions (toStringBinary, region-name
                   decode, kebab-case, cell math).
- ``sources``    — the pcap reader and the HBase RPC protobuf decoder (the
                   one capture decode path), parquet table loaders, and
                   the synthetic rpc_events fixtures the tests use.
- ``plans``      — the query library exposed through __spark_entry__.py with
                   DuckDB oracle SQL for every query.
- ``streaming``  — Structured Streaming parity (stateful correlation,
                   watermark TTL, Kafka-style JSON sink).
"""

__version__ = "0.1.0"
