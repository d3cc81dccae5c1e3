"""Structured Streaming parity for the HPI pipeline (SURVEY.md §7 Phase 3).

Live/Kafka mode (reference §3.2/3.3) maps to: readStream -> stateful
correlation keyed (client, port) -> foreachBatch fan-out to the four tables
and/or the JSON sink. The per-connection hash-map state of the reference's
single handler thread (core.clj:156-207) becomes ``applyInPandasWithState``
state: pending requests keyed by call_id, expired by event-time TTL against
the connection's latest packet timestamp — the reference's exact expiry rule
(core.clj:285-296: event time, not wall clock).

Records cross the state boundary whole, as the reference hands each finished
record to ``send!`` with its children (core.clj:261-283): every correlated row
keeps its ``actions``/``results`` arrays, and a pending multi request holds
its actions in state until its response inherits them or the TTL drops it.
Each micro-batch therefore finalizes on its own rows, whatever the source.

Batch/stream parity: tests/test_streaming.py replays the same fixture
workloads through this operator and asserts the outputs match
operators.pipeline.correlate.
"""

from __future__ import annotations

import json
import warnings
from collections.abc import Callable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.pipeline import _REQ_MERGE_COLS, finalize, finalize_and_route
from ..schema import RPC_EVENT_SCHEMA, STATE_EXPIRATION_MS


def _scalar(v):
    """pandas null-normalize: numeric nullable columns surface as NaN in
    the Arrow batches — treat those as None so merge and JSON state behave."""
    return None if v is None or (isinstance(v, float) and v != v) else v

# Output: the correlated event stream (requests unchanged; responses merged,
# with elapsed; unknown responses flagged; scanner rows enriched) —
# finalization and routing run downstream in foreachBatch via the batch
# operators.
CORRELATED_SCHEMA = T.StructType(
    RPC_EVENT_SCHEMA.fields + [T.StructField("elapsed", T.IntegerType())]
)

_STATE_SCHEMA = T.StructType([T.StructField("pending", T.StringType())])


def _correlate_stateful(
    pdfs: Iterator[pd.DataFrame], state: GroupState, evict: bool
) -> Iterator[pd.DataFrame]:
    """Stateful handler body for one (client, port) connection.

    State: JSON {"pending": {call_id -> {ts_ms, merge fields}},
    "scanners": {scanner_id -> {table, region, ts_ms}},
    "latest_ms": <latest packet event time>}. Semantics mirror
    the reference's single state map: request stores/overwrites, response
    consumes+deletes (core.clj:195-207); the scanner-session machine runs
    in the same pass — open-scanner RESPONSE installs {table, region} under
    the server-assigned scanner id (the rekeying step, core.clj:117-122),
    next-rows events are enriched from it and refresh its ts, close-scanner
    and small-scan responses delete it (core.clj:102-139). Both maps expire
    by event-time TTL against the latest packet on the connection
    (core.clj:285-296: event time, not wall clock). Keying scanner state
    inside the connection group relies on scanner RPCs staying on the
    connection that opened the scanner — which HBase clients guarantee; the
    batch operator's (server, scanner) windows make the same assumption in
    reverse.

    ``evict`` (the EventTimeTimeout path): a connection whose latest
    packet is more than STATE_EXPIRATION_MS behind the watermark is a
    dead ephemeral connection — its whole state ROW is removed, not just
    the entries inside it (the reference's trim-state sweep,
    core.clj:285-296, applied at the key level; without it millions of
    short-lived TCP connections grow the state store without bound in
    live mode).  Every entry inside the row is already ≥ TTL old at
    that point (entry ts ≤ latest_ms), so removal never discards a
    request the event-time rule would still have matched.
    """
    if state.hasTimedOut:
        # invoked with no data because the watermark passed
        # latest_ms + TTL: drop the idle connection's state row
        state.remove()
        return

    st: dict[str, dict] = json.loads(state.get[0]) if state.exists else {}
    pending: dict[str, dict[str, Any]] = st.get("pending", {})
    scanners: dict[str, dict[str, Any]] = st.get("scanners", {})
    latest_ms: int = st.get("latest_ms", 0)

    for pdf in pdfs:
        if len(pdf):
            latest_ms = max(
                latest_ms, int(pdf["ts"].max().value // 1_000_000))
        yield _correlate_rows(pending, scanners, pdf)

    state.update((json.dumps(
        {"pending": pending, "scanners": scanners,
         "latest_ms": latest_ms}),))
    if evict:
        # strictly-greater-than-watermark is an API requirement; the
        # max() only binds when this key's traffic lags the global
        # watermark by more than the TTL already
        state.setTimeoutTimestamp(
            max(latest_ms + STATE_EXPIRATION_MS,
                state.getCurrentWatermarkMs() + 1))


def _correlate_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    yield from _correlate_stateful(pdfs, state, evict=False)


def _correlate_group_evict(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    yield from _correlate_stateful(pdfs, state, evict=True)


_WARNED_UNBOUNDED_STATE = False


def _warn_unbounded_state(fn_name: str) -> None:
    """One-time heads-up that ``watermark=None`` means NO idle-connection
    state eviction: a live deployment must pass a watermark or the state
    store grows without bound. Emitted once per process, not per query,
    so replay harnesses that build many bounded streams aren't spammed."""
    global _WARNED_UNBOUNDED_STATE
    if _WARNED_UNBOUNDED_STATE:
        return
    _WARNED_UNBOUNDED_STATE = True
    warnings.warn(
        f"{fn_name}(watermark=None): idle-connection state rows are "
        "never evicted — fine for bounded archive replays "
        "(availableNow / finite file feeds), but a LIVE deployment "
        "must pass e.g. watermark='2 minutes' or state grows without "
        "bound.",
        stacklevel=3,
    )


def stream_correlate(
    events: DataFrame, *, watermark: str | None = None
) -> DataFrame:
    """Streaming as-of correlation keyed by connection. One shuffle on
    (client, port); entries inside a connection's state expire by the
    event-time TTL. With a ``watermark`` set, the per-connection state
    ROW itself is additionally evicted once the event-time watermark
    passes its latest packet + TTL — the full trim-state lifecycle
    (core.clj:285-296) that keeps the state store bounded under
    millions of ephemeral connections in live mode.

    ``watermark`` is the allowed out-of-orderness of the feed (late
    packets beyond it are dropped by the engine before this operator —
    the standard watermark contract). The default is ``None``
    (NoTimeout): nothing is ever dropped as late, but idle-connection
    state rows then persist for the life of the query — the safe
    default for archive replays, whose out-of-orderness is unbounded
    and whose state lifetime is bounded by the run itself. LIVE
    deployments must opt in (e.g. ``watermark="2 minutes"``) or state
    grows without bound; a watermark default here once silently dropped
    >2-min-late rows from replayed archives, so lateness-tolerance is
    now always an explicit caller decision."""
    if watermark is None:
        if events.isStreaming:
            _warn_unbounded_state("stream_correlate")
        return events.groupBy("client", "port").applyInPandasWithState(
            _correlate_group,
            outputStructType=CORRELATED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("client", "port")
        .applyInPandasWithState(
            _correlate_group_evict,
            outputStructType=CORRELATED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def _run_correlated_stream(
    spark, source_dir: str, sink_fn, checkpoint: str,
    max_files_per_trigger: int | None = None,
    watermark: str | None = None,
) -> None:
    """Shared runner for the file-replay modes: schema'd streaming reader ->
    stateful correlation -> foreachBatch(sink_fn) with availableNow + the
    given checkpoint. Every mode keys its OWN checkpoint: a shared one would
    make a second run see all files committed and silently emit nothing.

    Replay runs default to ``watermark=None`` (no late-data drop, no
    idle-state eviction): the file source orders micro-batches by file,
    not by event time, so a watermark would silently drop rows from any
    archive whose part-files interleave in time — and an availableNow
    replay's state lifetime is already bounded by the run itself. Live
    deployments compose stream_correlate directly and opt in to
    event-time eviction with an explicit watermark."""
    reader = spark.readStream.schema(RPC_EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    correlated = stream_correlate(
        reader.parquet(source_dir), watermark=watermark)
    q = (
        correlated.writeStream.foreachBatch(sink_fn)
        .trigger(availableNow=True)
        .option("checkpointLocation", checkpoint)
        .start()
    )
    q.awaitTermination()


def _routed_once(
    write: Callable[[dict[str, DataFrame], int], None],
) -> Callable[[DataFrame, int], None]:
    """A foreachBatch sink that derives the micro-batch once for its four
    tables: ``batch_df`` is persisted before ``write(tables, batch_id)``
    runs its four actions and released after them. Unpersisted, every
    action re-runs the stateful correlation stage (Spark's foreachBatch
    guide: persist before writing to several places)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # scanner enrichment already happened statefully upstream (cross-
        # batch correct); only finalization + routing remain per batch
        batch_df.persist()
        try:
            write(finalize_and_route(batch_df), batch_id)
        finally:
            batch_df.unpersist()

    return _sink


def run_pipeline_available_now(
    spark, source_dir: str, sink_tables: dict[str, list],
    max_files_per_trigger: int | None = None,
) -> None:
    """File-replay mode: stream the rpc_events parquet directory through the
    stateful correlation + scanner machine, fan out per micro-batch into the
    four public tables (collected into ``sink_tables`` for tests; a
    deployment writes Delta/parquet instead). Mirrors reference file mode
    with the streaming engine (trigger=availableNow, graceful stop).
    ``max_files_per_trigger`` forces multi-micro-batch execution — tests use
    it to prove state survives batch boundaries."""

    def _collect(tables: dict[str, DataFrame], _batch_id: int) -> None:
        for name, df in tables.items():
            sink_tables.setdefault(name, []).extend(df.collect())

    _run_correlated_stream(
        spark, source_dir, _routed_once(_collect), source_dir + "/_checkpoint",
        max_files_per_trigger,
    )


def run_pipeline_to_parquet(
    spark, source_dir: str, out_dir: str,
    max_files_per_trigger: int | None = None,
) -> None:
    """Streaming file-replay mode with a durable parquet sink — the
    production form of run_pipeline_available_now (which collects into
    Python lists for tests).

    Exactly-once: Structured Streaming's checkpoint makes micro-batch
    replay possible after a crash, and the sink stays correct under replay
    because each batch writes to its own ``batch_id=N`` partition
    directory with overwrite — re-running batch N replaces batch N's
    files instead of appending duplicates (idempotent sink + checkpointed
    offsets = effective exactly-once). Readers take
    ``spark.read.parquet(out_dir + '/<table>')`` and see every batch as
    hive partitions; a compaction job can fold old batch partitions
    without touching the stream.
    """

    def _write(tables: dict[str, DataFrame], batch_id: int) -> None:
        for name, df in tables.items():
            df.write.mode("overwrite").parquet(
                f"{out_dir}/{name}/batch_id={batch_id}"
            )

    _run_correlated_stream(
        spark, source_dir, _routed_once(_write), out_dir + "/_checkpoint",
        max_files_per_trigger,
    )


def compact_batches(spark, table_dir: str, out_dir: str,
                    target_partitions: int | None = None) -> int:
    """Fold a ``batch_id=N``-partitioned sink table into a compacted copy —
    the maintenance job the parquet sink's design anticipates: micro-batch
    sinks accrete many small files (one dir per trigger), and small files
    are the classic death-by-metadata at scale (every reader lists and
    footer-reads each one).

    Folds only batch partitions carrying a ``_SUCCESS`` marker (the job
    commit Spark writes last): a batch the stream is writing — or
    re-writing after a crash, since the idempotent sink OVERWRITES the
    batch dir on replay — has no marker yet, so listing mid-commit can
    never capture a partial batch and then tell the caller to delete it.
    Drops the batch_id axis and rewrites ``out_dir`` with
    ``target_partitions`` files (default: one per shuffle partition).
    Returns the highest batch id folded in, so the caller can delete
    ``batch_id<=N`` COMMITTED dirs from the live sink afterwards; newer
    ids keep appending untouched."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(f"{table_dir} does not exist")
    committed = []
    saw_batch_dir = False
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            saw_batch_dir = True
            if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
                committed.append(int(name.split("=", 1)[1]))
    if not saw_batch_dir:
        raise ValueError(f"{table_dir} is not a batch_id-partitioned sink")
    if not committed:
        return -1
    max_batch = max(committed)
    df = spark.read.parquet(table_dir)
    folded = df.where(F.col("batch_id").isin(committed)).drop("batch_id")
    n = target_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    folded.repartition(n).write.mode("overwrite").parquet(out_dir)
    return int(max_batch)


def run_pipeline_to_kafka(
    spark, source_dir: str, spec: str, records_out: list | None = None,
    max_files_per_trigger: int | None = None, hostname: str = "localhost",
    checkpoint_dir: str | None = None,
) -> None:
    """The reference's kafka mode as a stream: stateful correlation ->
    finalize (the send! record) -> JSON (topic, value) routing per the
    kafka spec, per micro-batch. With a broker, swap the collect for
    ``batch.write.format('kafka')`` (compression gzip per the reference);
    ``records_out`` collects the records for tests/offline dumps.

    The default checkpoint is keyed by the SPEC (the analog of the output
    destination): re-running the same capture with a different spec must
    not see the first run's committed offsets and silently emit nothing.
    Pass ``checkpoint_dir`` to resume a specific run instead."""
    import hashlib

    from .sink import parse_kafka_spec, to_kafka_records

    cfg = parse_kafka_spec(spec)
    if checkpoint_dir is None:
        tag = hashlib.md5(spec.encode()).hexdigest()[:8]
        checkpoint_dir = f"{source_dir}/_kafka_checkpoint_{tag}"

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        recs = to_kafka_records(
            finalize(batch_df), cfg["topic1"], cfg["topic2"], cfg["extra"],
            hostname,
        )
        if records_out is not None:
            records_out.extend(recs.collect())

    _run_correlated_stream(
        spark, source_dir, _sink, checkpoint_dir, max_files_per_trigger
    )


def stream_windowed_counts(
    events: DataFrame, window: str = "1 minute", watermark: str = "2 minutes"
) -> DataFrame:
    """Per-window per-method traffic counts with a late-data watermark —
    the streaming form of the §2F time-series query, and the watermark
    analog of the reference's event-time TTL (B10): events arriving later
    than ``watermark`` behind the max seen ts are dropped, the same
    drop-dangling-state semantics as core.clj:285-296 (the reference then
    emits method=unknown for the orphaned response; here the orphan simply
    doesn't count). Append mode emits each window once, when the watermark
    passes its end — at 100 TB this is what bounds the agg state."""
    from pyspark.sql import functions as F

    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "method")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "method",
            "n",
        )
    )


def stream_windowed_distinct(
    events: DataFrame, key: str = "client", window: str = "1 minute",
    watermark: str = "2 minutes", ts_col: str = "ts", rsd: float = 0.02,
) -> DataFrame:
    """Per-window distinct-key cardinality on an unbounded stream via
    HLL++ (``approx_count_distinct``) — exact streaming distinct would
    need per-window state proportional to the number of distinct keys;
    the sketch caps it at ~1.5 KB per window whatever the cardinality,
    which is the only form that survives at fleet scale. Append mode
    emits each window once at watermark passage; accuracy is the HLL
    bound (``rsd``), asserted against the exact batch count in tests."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"))
        .agg(F.approx_count_distinct(key, rsd).alias("n_distinct"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "n_distinct")
    )


def stream_cdc_dedup(docs: DataFrame, *, window: int = 8, divisor: int = 64,
                     ts_col: str = "ts", text_col: str = "text",
                     delay: str = "10 minutes") -> DataFrame:
    """Streaming content-defined chunk dedup: each arriving document is
    CDC-chunked in-row (operators.text.cdc_chunks is stateless narrow
    expressions, so it runs on the stream exactly as written, with the
    event-time column threaded through) and only the FIRST-arriving copy
    of each chunk hash within the watermark survives
    (``dropDuplicatesWithinWatermark`` on chunk_md5).

    This is how passage-level dedup runs on an ingest firehose: the CDC
    boundary rule means a re-crawled page with one edited paragraph
    re-aligns on every boundary after the edit, so its unchanged chunks
    dedup against the original while only genuinely-new content flows
    through. State is chunk-arrival-rate x delay bounded — the watermark
    evicts each chunk hash once event time passes first-seen + delay —
    independent of stream history."""
    from ..operators.text import cdc_chunks

    ch = cdc_chunks(
        docs.withWatermark(ts_col, delay),
        window=window, divisor=divisor, text_col=text_col,
        carry=(ts_col,),
    )
    return ch.dropDuplicatesWithinWatermark(["chunk_md5"])


def stream_dedup(events: DataFrame, keys: list[str], ts_col: str = "ts",
                 delay: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: keep the first-ARRIVING record per key (not
    the earliest event time — arrival order, like any streaming dedup),
    dropping any duplicate that arrives within ``delay`` of it
    (``dropDuplicatesWithinWatermark`` — the streaming form of
    dedup_exact's hash-groupBy).

    The watermark is what makes this run forever: per-key state is evicted
    once the event-time watermark passes key_first_seen + delay, so state
    is bounded by the key arrival rate x delay window, not the stream's
    history — the difference between a dedup that survives at 100 TB/day
    and one that OOMs. Guarantee: duplicates arriving within the delay ARE
    dropped; a duplicate arriving later than the delay may be emitted again
    (by then the original is outside the dedup contract)."""
    return events.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def stream_sessionize(events: DataFrame, key: str = "client",
                      gap: str = "30 minutes", ts_col: str = "ts",
                      watermark: str = "2 hours") -> DataFrame:
    """Streaming session windows: per-key activity sessions that close after
    ``gap`` of silence (``session_window`` — the streaming analog of the
    batch sessionize query's lag-based break detection, with the engine
    merging windows incrementally instead of a global per-key sort).

    Append mode emits a session exactly once, when the watermark passes its
    close — which is what bounds the aggregation state on an unbounded
    stream."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap).alias("w"), key)
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
        )
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "first_ts",
            "last_ts",
        )
    )


def stream_range_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str = "ts",
    window_s: float = 600.0,
    watermark: str = "20 minutes",
    value_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Stream-stream time-range join: every left row paired with the right
    rows within ``window_s`` of it — the streaming form of
    ``operators/ranged.py::range_join``, built on Spark's watermarked
    interval join.

    Spark refuses a stream-stream join with no equality predicate (state
    for a pure theta join would be unbounded and unpartitionable), so this
    uses the same bucket-and-filter shape as the batch operator: both sides
    keyed by ``floor(epoch_ms / window_ms)``, the left exploded to its
    bucket ± 1, one stateful EQUI-join, exact |Δt| filter. The bucket key
    also gives the join a shuffle partitioning, so state distributes
    across executors like any keyed state.

    Both sides carry a watermark and the join condition additionally
    bounds the event-time gap in BOTH directions, which is what lets the
    engine evict buffered rows: a right row can be dropped once the left
    watermark passes ``right.ts + window_s`` (and symmetrically). The
    interval condition isn't an optimization hint — it IS the state
    eviction contract; state per side ≈ rate x (watermark + window),
    however long the stream runs.

    Boundary semantics: raw timestamp comparison (microsecond precision),
    inclusive at exactly ``window_s`` — the batch form compares
    millisecond-truncated epochs, identical on any input with >= 1 ms
    resolution."""
    if value_cols is None:
        value_cols = [c for c in right.columns if c != on]
    ms = int(round(window_s * 1000))
    lb = F.floor(F.unix_millis(F.col(on)) / ms)
    l = left.withWatermark(on, watermark).withColumn(
        "_bucket", F.explode(F.array(lb - 1, lb, lb + 1))
    )
    r = (
        right.select(
            F.col(on).alias(f"{on}{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in value_cols],
        )
        .withWatermark(f"{on}{suffix}", watermark)
        .withColumn("_bucket", F.floor(F.unix_millis(F.col(f"{on}{suffix}")) / ms))
    )
    lo = F.col(on) - F.expr(f"INTERVAL {ms} MILLISECONDS")
    hi = F.col(on) + F.expr(f"INTERVAL {ms} MILLISECONDS")
    cond = (
        (l["_bucket"] == r["_bucket"])
        & (F.col(f"{on}{suffix}") >= lo)
        & (F.col(f"{on}{suffix}") <= hi)
    )
    return l.join(r, cond, "inner").drop("_bucket")


def _correlate_rows(pending: dict, scanners: dict, pdf: pd.DataFrame) -> pd.DataFrame:
    """The pure per-batch correlation + scanner-machine step of the
    applyInPandasWithState handler above. Rows keep their ``actions`` /
    ``results`` arrays (Arrow hands them over as ndarrays of dicts; lists
    of dicts go back out and into the JSON state): a pending multi request
    holds its actions in state until its response inherits them, the same
    merge batch ``correlate`` does, or the TTL expires the entry."""
    pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
    out_rows = []
    for row in pdf.to_dict("records"):
        for c in ("actions", "results"):
            if row[c] is not None:
                row[c] = list(row[c])
        ts_ms = int(row["ts"].value // 1_000_000)
        for d in (pending, scanners):
            for k in [k for k, v in d.items()
                      if ts_ms - v["ts_ms"] > STATE_EXPIRATION_MS]:
                del d[k]
        cid = str(row["call_id"])
        if row["inbound"]:
            pending[cid] = {
                "ts_ms": ts_ms,
                **{f: _scalar(row.get(f)) for f in _REQ_MERGE_COLS},
            }
            row["elapsed"] = None
        else:
            req = pending.pop(cid, None)
            if req is None:
                row["method"] = "unknown"
                row["elapsed"] = None
            else:
                for f in _REQ_MERGE_COLS:
                    if _scalar(row.get(f)) is None:
                        row[f] = req[f]
                row["elapsed"] = ts_ms - req["ts_ms"]
        sid = row.get("scanner")
        if sid is not None and not pd.isna(sid):
            sid, method = str(int(sid)), row.get("method")
            if method == "open-scanner" and not row["inbound"]:
                scanners[sid] = {"table": row.get("table"),
                                 "region": row.get("region"), "ts_ms": ts_ms}
            else:
                sess = scanners.get(sid)
                if sess is not None:
                    if row.get("table") is None:
                        row["table"] = sess["table"]
                    if row.get("region") is None:
                        row["region"] = sess["region"]
                    if method == "next-rows":
                        sess["ts_ms"] = ts_ms
                # only close-scanner REQUESTS tombstone scanner-id state
                # (core.clj:131-133); a small-scan response discards its
                # call-id-keyed PRE-state, never the scanner-id map
                # (core.clj:135-138) — popping here would kill a live
                # scanner whose id collides with the small-scan response's
                if method == "close-scanner" and row["inbound"]:
                    scanners.pop(sid, None)
        out_rows.append(row)
    return pd.DataFrame(out_rows, columns=[f.name for f in CORRELATED_SCHEMA])


SCD2_STREAM_SCHEMA = T.StructType([
    T.StructField("key", T.LongType()),
    T.StructField("version", T.IntegerType()),
    T.StructField("attr", T.StringType()),
    T.StructField("valid_from_epoch", T.LongType()),
    T.StructField("valid_to_epoch", T.LongType()),
])

_SCD2_STATE_SCHEMA = T.StructType([T.StructField("open", T.StringType())])


def _scd2_stateful(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState,
    idle_ttl_s: int | None,
) -> Iterator[pd.DataFrame]:
    """Stateful SCD2 handler for one dimension key: state is the OPEN
    version {"attr", "from", "version", "latest"}; a batch's events
    replay in (ts, seq) order and every attribute transition CLOSES the
    open version (emitted, valid_to = transition ts) and opens the next.
    Only closed versions are ever emitted (append mode); the open one
    lives in state until a later transition closes it.

    ``idle_ttl_s`` (the EventTimeTimeout path): when the watermark
    passes a key's latest event + TTL, the key is RETIRED — its open
    version is flushed with valid_to_epoch NULL (marking it the key's
    final/current version at retirement; nothing is lost) and the state
    row dropped. A later revival restarts version numbering at 1."""
    cols = ["key", "version", "attr", "valid_from_epoch", "valid_to_epoch"]
    if state.hasTimedOut:
        st = json.loads(state.get[0]) if state.exists else None
        state.remove()
        out = ([(int(key[0]), st["version"], st["attr"], st["from"], None)]
               if st is not None else [])
        yield pd.DataFrame(out, columns=cols)
        return
    st = json.loads(state.get[0]) if state.exists else None
    rows = pd.concat(list(pdfs), ignore_index=True)
    out: list[tuple] = []
    latest = st.get("latest", 0) if st is not None else 0
    if len(rows):
        rows = rows.sort_values(["_ts_e", "_seq"])
        k = int(key[0])
        for ts, attr in zip(rows["_ts_e"], rows["attr"]):
            ts = int(ts)
            latest = max(latest, ts)
            if st is None:
                st = {"attr": attr, "from": ts, "version": 1}
            elif attr != st["attr"]:
                out.append(
                    (k, st["version"], st["attr"], st["from"], ts))
                st = {"attr": attr, "from": ts,
                      "version": st["version"] + 1}
    if st is not None:
        st["latest"] = latest
        state.update((json.dumps(st),))
        if idle_ttl_s is not None:
            state.setTimeoutTimestamp(
                max((latest + idle_ttl_s) * 1000,
                    state.getCurrentWatermarkMs() + 1))
    yield pd.DataFrame(out, columns=cols)


def _scd2_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    yield from _scd2_stateful(key, pdfs, state, None)


def stream_scd2(events: DataFrame, *, key_col: str = "user_id",
                attr_col: str = "event_type", ts_col: str = "ts",
                seq_col: str = "event_id",
                idle_ttl_s: int | None = None,
                watermark: str = "2 minutes") -> DataFrame:
    """Streaming SCD type-2 dimension maintenance — the incremental
    form of operators/asof.py::scd2_build: per-key state holds ONLY the
    open version (attr, valid_from, version counter — constant size per
    key, never the event history), and each micro-batch emits exactly
    the versions it CLOSES. The closed-version stream is append-only
    and equals the batch operator's ``is_current = false`` rows on the
    same prefix of the feed — the batch===stream pin the test asserts.

    Ordering contract: like any CDC consumer, per-key event-time order
    of ARRIVAL across micro-batches is assumed (a change feed delivers
    per-key in order; out-of-order WITHIN a batch is sorted here). An
    out-of-order feed needs an upstream watermark buffer, the same
    discipline stream_correlate documents for its reordering window.

    One shuffle per micro-batch on the dimension key; state is
    #keys x O(1). Output: (key, version, attr, valid_from_epoch,
    valid_to_epoch) — valid_to is always set (only closed versions
    flow; the current version is queryable from the state store, or by
    unioning the batch operator over the tail on demand).
    """
    if idle_ttl_s is None:
        prepped = events.select(
            F.col(key_col).cast("long").alias("k"),
            F.col(attr_col).cast("string").alias("attr"),
            F.col(ts_col).cast("long").alias("_ts_e"),
            F.col(seq_col).cast("long").alias("_seq"),
        )
        out = prepped.groupBy("k").applyInPandasWithState(
            _scd2_group,
            outputStructType=SCD2_STREAM_SCHEMA,
            stateStructType=_SCD2_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return out.withColumnRenamed("key", key_col)

    # idle-key retirement: watermark the timestamp column (kept in the
    # projection — the EventTimeTimeout check needs the watermarked
    # attribute to survive into the stateful operator's input) and evict
    # a key's state once the watermark passes latest event + TTL,
    # flushing the open version with valid_to_epoch NULL
    def _group(key, pdfs, state):
        yield from _scd2_stateful(key, pdfs, state, idle_ttl_s)

    prepped = (
        events
        # ts_col may be a long epoch (CDC feeds often are) — watermarks
        # need a real timestamp column; long casts as epoch-seconds
        .withColumn("_event_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("_event_ts", watermark)
        .select(
            F.col(key_col).cast("long").alias("k"),
            F.col(attr_col).cast("string").alias("attr"),
            F.col(ts_col).cast("long").alias("_ts_e"),
            F.col(seq_col).cast("long").alias("_seq"),
            "_event_ts",
        )
    )
    out = prepped.groupBy("k").applyInPandasWithState(
        _group,
        outputStructType=SCD2_STREAM_SCHEMA,
        stateStructType=_SCD2_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return out.withColumnRenamed("key", key_col)
