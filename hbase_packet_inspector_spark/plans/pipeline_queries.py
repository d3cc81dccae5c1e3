"""Driver-checkable queries that run the REAL pipeline operators
(operators.pipeline) on an rpc-shaped stream derived deterministically from
the ``events`` table, with the reference semantics re-implemented in ANSI SQL
as the oracle. This puts the actual correlation / scanner-state code under
the DuckDB gate, not just a query-shaped imitation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipeline import correlate, scanner_enrich
from ..session import tune_session
from ..sources.tables import load_table
from .registry import register

_HOUR_MS = 3_600_000
_WEEK_MS = 7 * 24 * 3_600_000


def _null(dtype: str):
    return F.lit(None).cast(dtype)


def _derive_rpc(ev: DataFrame) -> DataFrame:
    """Map events -> the rpc_events shape (deterministic, same as the SQL
    CTE in the oracles below)."""
    return ev.select(
        "event_id",
        "ts",
        (F.col("event_id") % 2 == 0).alias("inbound"),
        F.concat(F.lit("c"), (F.col("user_id") % 50).cast("string")).alias("client"),
        (F.lit(40000) + F.col("user_id") % 8).cast("int").alias("port"),
        F.lit("s1").alias("server"),
        (F.col("event_id") % 97).cast("int").alias("call_id"),
        F.when(F.col("event_id") % 2 == 0, F.col("event_type")).alias("method"),
        (F.col("value") * 100).cast("int").alias("size"),
        _null("string").alias("table"),
        _null("string").alias("region"),
        _null("string").alias("row"),
        _null("string").alias("stoprow"),
        _null("int").alias("cells"),
        _null("string").alias("durability"),
        _null("bigint").alias("scanner"),
        _null("int").alias("caching"),
        _null("string").alias("error"),
        _null(
            "array<struct<method:string,table:string,region:string,row:string,cells:int,durability:string>>"
        ).alias("actions"),
        _null(
            "array<struct<method:string,table:string,region:string,row:string,cells:int,durability:string,error:string>>"
        ).alias("results"),
    )


@register(
    "rpc_correlate",
    """
    WITH rpc AS (
      SELECT event_id, ts,
             (event_id % 2 = 0) AS inbound,
             'c' || CAST(user_id % 50 AS VARCHAR) AS client,
             CAST(40000 + user_id % 8 AS INTEGER) AS port,
             CAST(event_id % 97 AS INTEGER) AS call_id,
             CASE WHEN event_id % 2 = 0 THEN event_type END AS method
      FROM events
    ), x AS (
      SELECT *,
             lag(inbound) OVER w AS prev_in,
             lag(method) OVER w AS prev_method,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
      FROM rpc
      WINDOW w AS (PARTITION BY client, port, call_id ORDER BY ts, event_id)
    )
    SELECT event_id,
           CASE WHEN prev_in AND gap_ms <= 3600000 THEN prev_method
                ELSE 'unknown' END AS method,
           CASE WHEN prev_in AND gap_ms <= 3600000
                THEN CAST(gap_ms AS INTEGER) END AS elapsed
    FROM x WHERE NOT inbound
    """,
    doc="The REAL operators.pipeline.correlate() under the oracle gate: "
    "as-of request<->response matching with hash-overwrite/consume semantics "
    "and a 1h TTL, on an rpc stream derived from events (SURVEY.md §2 B6/B7/"
    "B9/B10). The oracle re-implements the per-key lag semantics in SQL.",
    tags=("pipeline", "asof", "correlation"),
)
def rpc_correlate(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    rpc = _derive_rpc(load_table(spark, sf_dir, "events"))
    out = correlate(rpc, ttl_ms=_HOUR_MS)
    return out.where(~F.col("inbound")).select("event_id", "method", "elapsed")


_ERROR_NAMES = (
    "RegionTooBusyException",
    "NotServingRegionException",
    "CallTimeoutException",
)


@register(
    "error_analysis",
    """
    WITH rpc AS (
      SELECT event_id, ts,
             (event_id % 2 = 0) AS inbound,
             'c' || CAST(user_id % 50 AS VARCHAR) AS client,
             CAST(40000 + user_id % 8 AS INTEGER) AS port,
             CAST(event_id % 97 AS INTEGER) AS call_id,
             CASE WHEN event_id % 2 = 0 THEN event_type END AS method,
             CASE WHEN event_id % 2 <> 0 AND event_id % 13 = 0 THEN
               CASE CAST(event_id % 3 AS INTEGER)
                    WHEN 0 THEN 'RegionTooBusyException'
                    WHEN 1 THEN 'NotServingRegionException'
                    ELSE 'CallTimeoutException' END
             END AS error
      FROM events
    ), x AS (
      SELECT *,
             lag(inbound) OVER w AS prev_in,
             lag(method) OVER w AS prev_method,
             epoch_ms(ts) - lag(epoch_ms(ts)) OVER w AS gap_ms
      FROM rpc
      WINDOW w AS (PARTITION BY client, port, call_id ORDER BY ts, event_id)
    ), resp AS (
      SELECT CASE WHEN prev_in AND gap_ms <= 3600000 THEN prev_method
                  ELSE 'unknown' END AS method,
             CASE WHEN prev_in AND gap_ms <= 3600000
                  THEN CAST(gap_ms AS INTEGER) END AS elapsed,
             error
      FROM x WHERE NOT inbound AND error IS NOT NULL
    )
    SELECT error, method, count(*) AS n_errors,
           count(elapsed) AS n_matched,
           round(avg(elapsed), 3) AS avg_elapsed_ms
    FROM resp GROUP BY error, method
    """,
    doc="The incident-triage query the reference's README walks operators "
    "through first (README.md:133-169; the error column is db.clj:33-35 / "
    "SURVEY.md §2 F row 6): responses WHERE error IS NOT NULL grouped by "
    "error x originating method, with match counts and mean latency. Runs "
    "the REAL correlate() so unmatched errored responses surface as "
    "method='unknown' — exactly the rows an on-call needs to see. One "
    "window + one partial+final agg; at 100 TB the error filter prunes "
    "upstream of the agg shuffle.",
    tags=("pipeline", "errors", "analysis"),
)
def error_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    rpc = _derive_rpc(load_table(spark, sf_dir, "events")).withColumn(
        "error",
        F.when(
            (F.col("event_id") % 2 != 0) & (F.col("event_id") % 13 == 0),
            F.element_at(
                F.array(*[F.lit(e) for e in _ERROR_NAMES]),
                (F.col("event_id") % 3).cast("int") + 1,
            ),
        ),
    )
    out = correlate(rpc, ttl_ms=_HOUR_MS)
    return (
        out.where(~F.col("inbound") & F.col("error").isNotNull())
        .groupBy("error", "method")
        .agg(
            F.count("*").alias("n_errors"),
            F.count("elapsed").alias("n_matched"),
            F.round(F.avg("elapsed"), 3).alias("avg_elapsed_ms"),
        )
    )


@register(
    "rpc_scanner_state",
    """
    WITH rpc AS (
      SELECT event_id, ts,
             (event_type = 'error') AS inbound,
             CASE event_type WHEN 'signup' THEN 'open-scanner'
                             WHEN 'error'  THEN 'close-scanner'
                             ELSE 'next-rows' END AS method,
             's' || CAST(user_id % 4 AS VARCHAR) AS server,
             user_id % 20 AS scanner,
             CASE WHEN event_type = 'signup'
                  THEN 'T' || CAST(user_id AS VARCHAR) END AS tbl,
             CASE WHEN event_type = 'signup'
                  THEN 'R' || CAST(user_id AS VARCHAR) END AS reg
      FROM events
    ), s AS (
      SELECT *,
             CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts))
                    OVER (PARTITION BY server, scanner ORDER BY ts, event_id)
                  > 604800000 THEN 1 ELSE 0 END AS brk
      FROM rpc
    ), g AS (
      SELECT *, sum(brk) OVER (PARTITION BY server, scanner
                               ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session
      FROM s
    ), e AS (
      SELECT *,
             last_value(CASE WHEN method = 'open-scanner' AND NOT inbound THEN tbl
                             WHEN method = 'close-scanner' AND inbound THEN '' END
                        IGNORE NULLS)
               OVER (PARTITION BY server, scanner, session ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS st,
             last_value(CASE WHEN method = 'open-scanner' AND NOT inbound THEN reg
                             WHEN method = 'close-scanner' AND inbound THEN '' END
                        IGNORE NULLS)
               OVER (PARTITION BY server, scanner, session ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sr
      FROM g
    )
    SELECT event_id,
           coalesce(tbl, nullif(st, '')) AS table_name,
           coalesce(reg, nullif(sr, '')) AS region_name
    FROM e
    """,
    doc="The REAL operators.pipeline.scanner_enrich() under the oracle gate "
    "(SURVEY.md §2 B8): open-scanner responses install {table, region} state "
    "under the scanner id, next-rows inherit it, close-scanner tombstones, "
    "week-long TTL sessions. Oracle: sessionized last_value IGNORE NULLS.",
    tags=("pipeline", "state-machine"),
)
def rpc_scanner_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    rpc = ev.select(
        "event_id",
        "ts",
        (F.col("event_type") == "error").alias("inbound"),
        F.when(F.col("event_type") == "signup", F.lit("open-scanner"))
        .when(F.col("event_type") == "error", F.lit("close-scanner"))
        .otherwise(F.lit("next-rows"))
        .alias("method"),
        F.concat(F.lit("s"), (F.col("user_id") % 4).cast("string")).alias("server"),
        (F.col("user_id") % 20).alias("scanner"),
        F.when(
            F.col("event_type") == "signup",
            F.concat(F.lit("T"), F.col("user_id").cast("string")),
        ).alias("table"),
        F.when(
            F.col("event_type") == "signup",
            F.concat(F.lit("R"), F.col("user_id").cast("string")),
        ).alias("region"),
    )
    out = scanner_enrich(rpc, ttl_ms=_WEEK_MS)
    return out.select(
        "event_id",
        F.col("table").alias("table_name"),
        F.col("region").alias("region_name"),
    )


@register(
    "rpc_finalize",
    """
    WITH g AS (
      SELECT event_id AS e,
             (event_id % 2 = 0) AS inbound,
             CASE WHEN event_id % 7 = 0 THEN NULL
                  ELSE CAST(event_id % 5 AS INTEGER) END AS n_act,
             CASE WHEN event_id % 3 = 0
                  THEN CAST(event_id % 10 AS INTEGER) END AS own_cells,
             CASE WHEN event_id % 13 = 0 THEN 'OWN' END AS own_table
      FROM events
    ), d AS (
      SELECT *,
             CASE WHEN inbound OR n_act IS NULL OR e % 11 = 0 THEN NULL
                  ELSE CAST(greatest(n_act - CASE WHEN e % 3 = 0 THEN 1 ELSE 0 END,
                                     0) AS INTEGER) END AS n_res,
             CASE WHEN n_act IS NULL THEN 'get' ELSE 'multi' END AS method0
      FROM g
    ), x AS (
      SELECT *,
             CASE WHEN n_act IS NULL THEN NULL
                  ELSE list_transform(range(1, n_act + 1),
                         i -> CASE WHEN (i + e) % 3 = 0 THEN NULL
                                   ELSE CAST(i AS INTEGER) END) END AS act_cells,
             CASE WHEN n_res IS NULL THEN NULL
                  ELSE list_transform(range(1, least(n_act, n_res) + 1),
                         j -> CASE WHEN (j + e) % 4 = 0 THEN NULL
                                   ELSE CAST(j * 2 AS INTEGER) END) END AS merged_cells
      FROM d
    ), f AS (
      SELECT e,
             CASE WHEN n_act IS NULL THEN 0 ELSE n_act END AS batch,
             CAST(coalesce(
               own_cells,
               CASE WHEN NOT inbound AND n_res IS NOT NULL THEN
                 CAST(coalesce(list_sum(list_filter(merged_cells,
                                                    v -> v IS NOT NULL)), 0)
                      AS INTEGER) END,
               CASE WHEN n_act IS NOT NULL THEN
                 CAST(coalesce(list_sum(list_filter(act_cells,
                                                    v -> v IS NOT NULL)), 0)
                      AS INTEGER) END,
               0) AS INTEGER) AS cells,
             CASE WHEN coalesce(n_act, 0) = 1
                  THEN (['put','get','delete'])[CAST((1 + e) % 3 + 1 AS INTEGER)]
                  ELSE method0 END AS method,
             CASE WHEN coalesce(n_act, 0) = 1 THEN 'T' || CAST(e % 3 AS VARCHAR)
                  ELSE own_table END AS tbl,
             CASE WHEN coalesce(n_act, 0) = 1 THEN 'r1' END AS row_out,
             CASE WHEN coalesce(n_act, 0) = 1 AND (1 + e) % 2 = 0
                  THEN 'async_wal' END AS durability,
             CASE WHEN coalesce(n_act, 0) > 1 AND inbound
                  THEN n_act END AS n_act_out,
             CASE WHEN coalesce(n_act, 0) > 1 AND NOT inbound
                       AND n_res IS NOT NULL
                  THEN CAST(least(n_act, n_res) AS INTEGER) END AS n_res_out
      FROM x
    )
    SELECT e AS event_id, batch, cells, method, tbl, row_out, durability,
           n_act_out, n_res_out
    FROM f
    """,
    doc="The REAL operators.pipeline.finalize() (the reference's send!, "
    "core.clj:261-283) under the oracle gate, on synthesized action/result "
    "arrays derived deterministically from events: batch = count(actions) "
    "with 0 for none; cells = own -> sum of non-null merged-result cells -> "
    "sum of non-null action cells -> 0 (never null); singleton promotion "
    "from the FIRST REQUEST-SIDE action for both directions; child arrays "
    "kept only for batch > 1, results truncated to the shorter side of the "
    "actions x results zip (Clojure map semantics). The oracle "
    "re-implements the semantics over the same synthesized arrays with "
    "DuckDB list functions.",
    tags=("pipeline", "finalize", "send"),
)
def rpc_finalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pipeline import finalize

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    E = F.col("event_id")
    n_act = F.when(E % 7 == 0, F.lit(None).cast("int")).otherwise(
        (E % 5).cast("int")
    )

    def act(i):
        return F.struct(
            F.element_at(
                F.array(F.lit("put"), F.lit("get"), F.lit("delete")),
                ((i + E) % 3 + 1).cast("int"),
            ).alias("method"),
            F.concat(F.lit("T"), (E % 3).cast("string")).alias("table"),
            _null("string").alias("region"),
            F.concat(F.lit("r"), i.cast("string")).alias("row"),
            F.when((i + E) % 3 == 0, F.lit(None).cast("int"))
            .otherwise(i.cast("int"))
            .alias("cells"),
            F.when((i + E) % 2 == 0, F.lit("async_wal")).alias("durability"),
        )

    def res(j):
        return F.struct(
            _null("string").alias("method"),
            _null("string").alias("table"),
            _null("string").alias("region"),
            _null("string").alias("row"),
            F.when((j + E) % 4 == 0, F.lit(None).cast("int"))
            .otherwise((j * 2).cast("int"))
            .alias("cells"),
            _null("string").alias("durability"),
            F.when((j + E) % 5 == 0, F.lit("err")).alias("error"),
        )

    inbound = E % 2 == 0
    # slice-after-fixed-transform: sequence(1, 0) would be DESCENDING [1,0],
    # slice(…, 1, 0) is the empty array we actually want
    actions = F.when(
        n_act.isNotNull(),
        F.slice(F.transform(F.sequence(F.lit(1), F.lit(4)), act), 1, n_act),
    )
    n_res = F.when(
        inbound | n_act.isNull() | (E % 11 == 0), F.lit(None).cast("int")
    ).otherwise(
        F.greatest(
            n_act - F.when(E % 3 == 0, F.lit(1)).otherwise(F.lit(0)), F.lit(0)
        ).cast("int")
    )
    results = F.when(
        n_res.isNotNull(),
        F.slice(F.transform(F.sequence(F.lit(1), F.lit(4)), res), 1, n_res),
    )

    rpc = ev.select(
        "event_id",
        inbound.alias("inbound"),
        F.concat(F.lit("c"), (E % 5).cast("string")).alias("client"),
        F.lit(1).alias("port"),
        (E % 97).cast("int").alias("call_id"),
        F.when(n_act.isNull(), F.lit("get")).otherwise(F.lit("multi")).alias("method"),
        F.when(E % 13 == 0, F.lit("OWN")).alias("table"),
        _null("string").alias("region"),
        _null("string").alias("row"),
        _null("string").alias("stoprow"),
        F.when(E % 3 == 0, (E % 10).cast("int")).alias("cells"),
        _null("string").alias("durability"),
        actions.alias("actions"),
        results.alias("results"),
    )
    out = finalize(rpc)
    return out.select(
        "event_id",
        "batch",
        "cells",
        "method",
        F.col("table").alias("tbl"),
        F.col("row").alias("row_out"),
        "durability",
        F.when(F.col("actions").isNotNull(), F.size("actions")).alias("n_act_out"),
        F.when(F.col("results").isNotNull(), F.size("results")).alias("n_res_out"),
    )


@register(
    "skew_salted_join",
    """
    WITH rpc AS (
      SELECT event_id, user_id,
             'c' || CAST(CASE WHEN user_id % 2 = 0 THEN 0
                              ELSE user_id % 50 END AS VARCHAR) AS client
      FROM events
    ), dim AS (
      SELECT DISTINCT client,
             CASE WHEN client = 'c0' THEN 'hot' ELSE 'cold' END AS tier
      FROM rpc
    )
    SELECT d.tier, count(*) AS n_events,
           count(DISTINCT r.user_id) AS n_users
    FROM rpc r JOIN dim d USING (client)
    GROUP BY d.tier
    """,
    doc="Skew-mitigated join under the oracle gate: the big side is "
    "deliberately skewed (half of all events land on client c0), joined "
    "against a small tier dimension via operators.skew.salted_join — the "
    "hot key's rows spread across 8 salt buckets with the dim replicated "
    "per bucket, and the results are EXACTLY those of the plain join the "
    "oracle runs. The pattern for 1%-of-keys-carry-50%-of-rows joins that "
    "AQE's runtime splitting can't fix for broadcast-ineligible sides.",
    tags=("pipeline", "join", "skew"),
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.skew import salted_join

    tune_session(spark)
    ev = load_table(spark, sf_dir, "events")
    rpc = ev.select(
        "event_id",
        "user_id",
        F.concat(
            F.lit("c"),
            F.when(F.col("user_id") % 2 == 0, F.lit(0))
            .otherwise(F.col("user_id") % 50)
            .cast("string"),
        ).alias("client"),
    )
    dim = rpc.select("client").distinct().withColumn(
        "tier",
        F.when(F.col("client") == "c0", F.lit("hot")).otherwise(F.lit("cold")),
    )
    joined = salted_join(rpc, dim, ["client"], salt=8)
    return joined.groupBy("tier").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


# The committed HBase RPC captures (FIXTURES.md §3 scenarios) and the
# four tables their scenario model says they hold, both written by
# tools/make_hbase_fixture.py without the engine: the DuckDB oracle of
# the two capture queries below.
_HBASE_PCAP_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "hbase_pcap",
)


def _load_hbase_capture(spark: SparkSession):
    """Shared capture loader for the two capture queries: the committed
    captures through ``Engine.load_pcap`` (pcap scan -> framing +
    protobuf decode -> correlation) on the default ports."""
    from ..engine import Engine

    return (
        Engine(spark)
        .load_pcap(os.path.join(_HBASE_PCAP_DIR, "*.pcap"))
        .register_tables()
        .tables
    )


@register(
    "hbase_pcap_decode",
    f"""
    SELECT method, count(*) AS n,
           CAST(sum(cells) AS BIGINT) AS total_cells,
           count(elapsed) AS n_matched
    FROM read_parquet('{_HBASE_PCAP_DIR}/responses/*.parquet')
    GROUP BY method
    """,
    doc="The full capture pipeline on HBase 1.x RPC protobuf captures of "
    "the reference's pcap fixture workloads (tests/fixtures/hbase_pcap): "
    "binary scan -> packet decode -> TCP framing + pure-Python protobuf "
    "decode (sources.hbase_wire) -> correlation -> per-method "
    "traffic/latency rollup, including an orphan and a past-TTL response "
    "(method 'unknown', no elapsed). The oracle aggregates the generator's "
    "own model of the responses table in DuckDB, so a decoder or "
    "correlation regression is a value mismatch, not a row-count drift.",
    tags=("pipeline", "pcap", "protobuf", "decode"),
)
def hbase_pcap_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _load_hbase_capture(spark)
    return (
        t["responses"]
        .groupBy("method")
        .agg(
            F.count("*").alias("n"),
            F.sum("cells").alias("total_cells"),
            F.count("elapsed").alias("n_matched"),
        )
        .orderBy("method")
    )


@register(
    "hbase_pcap_tables",
    f"""
    SELECT "table", count(*) AS n_requests,
           count(DISTINCT method) AS n_methods,
           CAST(sum(batch) AS BIGINT) AS total_batch,
           CAST(sum(cells) AS BIGINT) AS total_cells
    FROM read_parquet('{_HBASE_PCAP_DIR}/requests/*.parquet')
    GROUP BY 1
    """,
    doc="Per-TABLE rollup of the capture decode: request counts, "
    "batch/multi sizes, and cell totals grouped by the HBase table each "
    "RPC addresses (the region-name decode exercised end-to-end, incl. "
    "the scanner-state table inheritance for next-rows calls that don't "
    "carry a region). Same pipeline and committed model as "
    "hbase_pcap_decode, different projection axis.",
    tags=("pipeline", "pcap", "protobuf", "decode", "table"),
)
def hbase_pcap_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _load_hbase_capture(spark)
    return (
        t["requests"]
        .groupBy("table")
        .agg(
            F.count("*").alias("n_requests"),
            F.countDistinct("method").alias("n_methods"),
            F.sum("batch").alias("total_batch"),
            F.sum("cells").alias("total_cells"),
        )
        .orderBy("table")
    )


_WARC_FIXDIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests", "fixtures", "warc_capture",
)
_WARC_ORACLE_VALID = os.path.isfile(
    os.path.join(_WARC_FIXDIR, "sample.warc.gz")
) and os.path.isfile(os.path.join(_WARC_FIXDIR, "records.parquet"))


@register(
    "warc_source_stats",
    f"""
    SELECT warc_type, count(*) AS n,
           CAST(sum(CASE WHEN http_status = 200 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ok,
           CAST(sum(content_length) AS BIGINT) AS total_len,
           CAST(sum(n_text_chars) AS BIGINT) AS total_text_chars
    FROM read_parquet('{_WARC_FIXDIR}/records.parquet')
    GROUP BY 1
    """ if _WARC_ORACLE_VALID else None,
    doc="The WARC web-archive source end-to-end on a committed crawl "
    "fixture (tests/fixtures/warc_capture): Spark 4 Python DataSource "
    "scan of a gzipped archive -> incremental record framing -> HTTP "
    "envelope split -> per-record-type rollup (counts, 200s, payload "
    "bytes, extracted text chars). The oracle aggregates the PINNED "
    "parse snapshot (materialized by tools/materialize_warc_fixture.py "
    "through the library's own parser) in DuckDB — the "
    "hbase_pcap_decode discipline applied to the crawl source: a "
    "regression in framing, gzip handling, or the HTTP split is an "
    "oracle mismatch, not a row-count drift. NB the snapshot is a "
    "regression PIN materialized by the same parser under test — "
    "circular for absolute correctness; the circle is broken by "
    "hand-computed cross-checks at materialization time "
    "(materialize_warc_fixture.py::_crosscheck: record counts, status "
    "mix, literal-arithmetic lengths and body text) plus the "
    "hand-asserted unit tests in test_warc.py. One partition per "
    "archive file; payload bytes never shuffle (the rollup projects "
    "lengths).",
    tags=("pipeline", "warc", "web", "source"),
)
def warc_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import warc as W

    W.register(spark)
    scan = spark.read.format("warc").load(
        os.path.join(_WARC_FIXDIR, "sample.warc.gz")
    )
    return (
        scan.groupBy("warc_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("http_status") == 200, 1).otherwise(0))
            .cast("long").alias("n_ok"),
            F.sum("content_length").cast("long").alias("total_len"),
            F.sum(F.length("text")).cast("long").alias("total_text_chars"),
        )
    )


_WARC_DOCS_VALID = _WARC_ORACLE_VALID and os.path.isfile(
    os.path.join(_WARC_FIXDIR, "documents.parquet")
)


@register(
    "warc_crawl_curation",
    f"""
    WITH d AS (SELECT source,
                      n_chars,
                      (CASE WHEN n_words >= 20 THEN 1 ELSE 0 END
                       + CASE WHEN CAST(n_stop AS DOUBLE) / n_words <= 0.2
                         THEN 1 ELSE 0 END) AS qs
               FROM read_parquet('{_WARC_FIXDIR}/documents.parquet'))
    SELECT source, count(*) AS n_pages,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(CAST(qs AS DOUBLE)), 6) AS avg_quality
    FROM d GROUP BY 1
    """ if _WARC_DOCS_VALID else None,
    doc="The crawl-to-curation bridge end-to-end on the committed WARC "
    "fixture: DataSource scan -> warc_to_documents (HTTP responses -> "
    "documents-table shape, doc_id = xxhash64 of the record id, source "
    "= target host) -> quality_features -> per-host rollup. The oracle "
    "replays the rollup over the pinned per-doc feature snapshot "
    "(materialize_warc_fixture.py runs the SAME engine pipeline), so "
    "the whole chain — archive framing, HTTP split, bridge column "
    "derivations, quality scoring — sits under one hash. This is the "
    "query a crawl drop actually runs first: which hosts, how much "
    "text, what quality.",
    tags=("pipeline", "warc", "web", "quality", "report"),
)
def warc_crawl_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as X
    from ..sources import warc as W
    from ..sources.warc import warc_to_documents

    W.register(spark)
    docs = warc_to_documents(spark.read.format("warc").load(
        os.path.join(_WARC_FIXDIR, "sample.warc.gz")
    ))
    feats = X.quality_features(docs).select("doc_id", "quality_score")
    return (
        docs.join(feats, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.round(F.avg(F.col("quality_score").cast("double")), 6)
            .alias("avg_quality"),
        )
    )


_WARC_MEDIA_VALID = _WARC_ORACLE_VALID and os.path.isfile(
    os.path.join(_WARC_FIXDIR, "media.parquet")
)


@register(
    "warc_media_extract",
    f"""
    SELECT media_id, kind, format, n_bytes, body_md5
    FROM read_parquet('{_WARC_FIXDIR}/media.parquet')
    """ if _WARC_MEDIA_VALID else None,
    doc="The crawl-to-multimodal bridge under the oracle gate "
    "(sources/warc.py::warc_to_media): archive scan -> HTTP envelope "
    "split + Content-Type read (Arrow-batched, the imperative byte "
    "edge) -> per-asset identity row (kind, container format, "
    "envelope-stripped body length and md5). The oracle is the PINNED "
    "bridge snapshot, so a regression anywhere in the chain — framing, "
    "gzip, envelope offsets (an off-by-one in the body slice flips "
    "body_md5), content-type parsing — is a hash mismatch. The "
    "fixture's image payload decodes through the real PPM decoder in "
    "the warc tests, closing crawl -> decode end-to-end.",
    tags=("pipeline", "warc", "multimodal", "source"),
)
def warc_media_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources import warc as W
    from ..sources.warc import warc_to_media

    W.register(spark)
    media = warc_to_media(spark.read.format("warc").load(
        os.path.join(_WARC_FIXDIR, "sample.warc.gz")
    ))
    return media.select(
        "media_id", "kind", "format",
        F.length("payload").alias("n_bytes"),
        F.md5("payload").alias("body_md5"),
    )
