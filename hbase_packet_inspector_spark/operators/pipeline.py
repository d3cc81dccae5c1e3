"""The HPI core engine, batch form: request<->response as-of correlation,
scanner-session enrichment, batch flatten, and routing to the four public
tables (SURVEY.md §2 groups B/D; reference core.clj:102-296, db.clj:89-99).

Spark-first design: the reference runs a single-threaded stateful loop over
packets in capture order; here every stateful construct becomes a keyed
window over (key...) ordered by (ts, event_id). Each operator costs exactly
one shuffle on its key and scales horizontally — at 100 TB the correlation
key (client, port, call_id) and scanner key (server, scanner) are both
high-cardinality and skew-free.

Faithful semantics (asserted by tests/test_pipeline.py against the
reference's own workload invariants):

- correlation state is a hash map keyed (client, port, call_id) where a new
  request OVERWRITES a pending one and a response CONSUMES (deletes) the
  entry (core.clj:195-207). In an ordered per-key stream this reduces to:
  a response matches iff the immediately PRECEDING event on its key is a
  request — lag(), not a join, so call_id reuse can never cross-match.
- state TTL 120s event-time (core.clj:69-72): a match further than the TTL
  from its request is expired => method='unknown' (B9/B10).
- scanner state machine (core.clj:102-139): open-scanner responses install
  {table, region} state under the server-assigned scanner id (the table came
  from the open REQUEST via correlation); next-rows inherit it; close-scanner
  tombstones it; gaps > TTL expire the session.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cellmath import sum_child_cells, zip_actions_results
from ..schema import (
    ACTION_COLUMNS,
    REQUEST_COLUMNS,
    RESPONSE_COLUMNS,
    RESULT_COLUMNS,
    STATE_EXPIRATION_MS,
)

# Request attributes a response inherits on match (reference merges the
# pending request map UNDER the response map, hbase.clj:74-84 — so e.g. a
# mutate response, whose body decodes to nothing, inherits the request's
# cells; scan/get/multi responses carry their own non-null cells and win).
_REQ_MERGE_COLS = (
    "method", "table", "region", "row", "stoprow", "cells", "durability",
    "caching", "actions",
)


def correlate(events: DataFrame, ttl_ms: int = STATE_EXPIRATION_MS) -> DataFrame:
    """As-of correlate responses to requests on (client, port, call_id).

    Returns the full event stream: inbound rows unchanged, outbound rows
    merged with their matched request's attributes plus ``elapsed`` (ms);
    unmatched/expired responses get method='unknown'.
    """
    w = Window.partitionBy("client", "port", "call_id").orderBy("ts", "event_id")
    prev_inbound = F.lag("inbound").over(w)
    prev_ts = F.lag("ts").over(w)
    gap_ms = F.unix_millis(F.col("ts")) - F.unix_millis(prev_ts)
    matched = prev_inbound & (gap_ms <= ttl_ms)

    # one projection per dependency level: a withColumn per column would
    # re-analyze the growing plan on the driver once per column
    df = events.withColumn("_matched", F.coalesce(matched, F.lit(False)))
    answered = ~F.col("inbound") & F.col("_matched")
    df = df.withColumns({
        "elapsed": F.when(answered, gap_ms.cast("int")),
        **{f"_req_{c}": F.when(answered, F.lag(c).over(w))
           for c in _REQ_MERGE_COLS},
    })
    # Response-side merge: response's own value wins where present
    # (hbase.clj:74-84 merge order), request fills the rest; a response
    # without a match keeps nulls and method='unknown' (B9).
    merged = {
        c: F.when(F.col("inbound"), F.col(c)).otherwise(
            F.coalesce(F.col(c), F.col(f"_req_{c}"))
        )
        for c in _REQ_MERGE_COLS
    }
    merged["method"] = F.when(
        ~F.col("inbound") & ~F.col("_matched"), F.lit("unknown")
    ).otherwise(merged["method"])
    df = df.withColumns(merged)
    return df.drop(*[f"_req_{c}" for c in _REQ_MERGE_COLS])


def scanner_enrich(events: DataFrame, ttl_ms: int = STATE_EXPIRATION_MS) -> DataFrame:
    """Propagate {table, region} from scanner-opening events to the rest of
    the scanner session (B8), with close-scanner tombstones and TTL expiry.

    Runs AFTER correlate(): the open-scanner RESPONSE carries the table
    (inherited from its request) and the server-assigned scanner id, which is
    exactly the reference's rekeying step (core.clj:117-122).
    """
    scoped = events.where(F.col("scanner").isNotNull())
    rest = events.where(F.col("scanner").isNull())

    w = Window.partitionBy("server", "scanner").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    session_break = (
        F.unix_millis(F.col("ts")) - F.unix_millis(prev_ts) > ttl_ms
    ).cast("int")
    scoped = scoped.withColumn(
        "_session",
        F.sum(F.coalesce(session_break, F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )

    ws = (
        Window.partitionBy("server", "scanner", "_session")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # State install: open-scanner response => {table, region}; close-scanner
    # request => tombstone (nulls). last(ignorenulls) == the hash-map lookup.
    state = F.when(
        (F.col("method") == "open-scanner") & ~F.col("inbound"),
        F.struct(F.col("table").alias("t"), F.col("region").alias("r")),
    ).when(
        (F.col("method") == "close-scanner") & F.col("inbound"),
        F.struct(
            F.lit(None).cast("string").alias("t"),
            F.lit(None).cast("string").alias("r"),
        ),
    )
    last_state = F.last(state, ignorenulls=True).over(ws)
    scoped = (
        scoped.withColumn("_state", last_state)
        .withColumns({
            "table": F.coalesce(F.col("table"), F.col("_state.t")),
            "region": F.coalesce(F.col("region"), F.col("_state.r")),
        })
        .drop("_state", "_session")
    )
    return scoped.unionByName(rest)


def _stamped(arr, with_error: bool):
    """Child array with the parent join key stamped on every element
    (core.clj:272-280 assoc of :client/:port/:call-id)."""
    fields = ["method", "table", "region", "row", "cells", "durability"]
    if with_error:
        fields.append("error")
    return F.transform(
        arr,
        lambda a: F.struct(
            F.col("client").alias("client"),
            F.col("port").alias("port"),
            F.col("call_id").alias("call_id"),
            *[a[c].alias(c) for c in fields],
        ),
    )


def finalize(events: DataFrame) -> DataFrame:
    """Record finalization (D1-D2) — the reference's send! (core.clj:261-283)
    as one record stream, each row being exactly the map the reference hands
    its sink:

    - ``batch`` = count of the request-side actions (``(count actions)``) —
      0 for non-batch records, request actions having been merged onto their
      response by correlate(). (The reference README.md:123 documents batch
      as "Null if not a batch request", but the CODE stores 0: send! assocs
      ``(count nil)`` and the H2 inserter writes whatever the map holds,
      db.clj:79-87 — we follow the code);
    - singleton promotion: a 1-action multi is reported as its action — the
      FIRST REQUEST-SIDE action for both directions (``(merge info (first
      actions))``), the action's non-null fields winning;
    - ``cells`` = the record's own cells (response decode / request merge),
      else the decode-time sum over the response's results
      (parse-multi-response, hbase.clj:67), else send!'s sum over the
      request's actions — never null (``(reduce + ())`` is 0);
    - multi records (batch > 1) keep their children embedded, stamped with
      (client, port, call_id): ``actions`` on requests, the action-merged
      ``results`` on responses; non-multi records drop both arrays (the
      dissoc in send!).
    """
    merged_results = F.when(
        F.col("results").isNotNull() & F.col("actions").isNotNull(),
        zip_actions_results(F.col("actions"), F.col("results")),
    ).otherwise(F.col("results"))
    df = events.withColumns({
        "_results": merged_results,
        "batch": F.when(F.col("actions").isNotNull(), F.size("actions"))
        .otherwise(F.lit(0)),
    })

    # every column below reads the record as it came in (plus _results and
    # batch), so they form one projection
    results_sum = F.when(
        ~F.col("inbound") & F.col("_results").isNotNull(),
        sum_child_cells(F.col("_results")),
    )
    actions_sum = F.when(
        F.col("actions").isNotNull(), sum_child_cells(F.col("actions"))
    )
    single = F.col("batch") == 1
    first = F.col("actions")[0]
    multi = F.col("batch") > 1
    df = df.withColumns({
        "cells": F.coalesce(
            F.col("cells"), results_sum, actions_sum, F.lit(0)
        ).cast("int"),
        **{c: F.when(single, F.coalesce(first[c], F.col(c))).otherwise(F.col(c))
           for c in ("method", "table", "region", "row", "durability")},
        "actions": F.when(multi & F.col("inbound"),
                          _stamped(F.col("actions"), False)),
        "results": F.when(multi & ~F.col("inbound"),
                          _stamped(F.col("_results"), True)),
    })
    return df.drop("_results", "_matched")


def route(finalized: DataFrame) -> dict[str, DataFrame]:
    """Table routing (D3/D4): the finalized record stream -> the four public
    DataFrames. Child rows exist only for batch > 1 records (finalize() has
    already dropped the arrays of everything else) and carry the parent join
    key from their stamp."""
    requests = finalized.where(F.col("inbound")).select(*REQUEST_COLUMNS)
    responses = finalized.where(~F.col("inbound")).select(*RESPONSE_COLUMNS)

    actions = (
        finalized.where(F.col("inbound") & F.col("actions").isNotNull())
        .select(F.explode("actions").alias("a"))
        .select(*[F.col(f"a.{c}").alias(c) for c in ACTION_COLUMNS])
    )
    results = (
        finalized.where(~F.col("inbound") & F.col("results").isNotNull())
        .select(F.explode("results").alias("a"))
        .select(*[F.col(f"a.{c}").alias(c) for c in RESULT_COLUMNS])
    )

    return {
        "requests": requests,
        "responses": responses,
        "actions": actions,
        "results": results,
    }


def finalize_and_route(events: DataFrame) -> dict[str, DataFrame]:
    """Record finalization (D1-D3) + table routing (D4): returns the four
    public DataFrames keyed requests/responses/actions/results."""
    return route(finalize(events))


def build_tables(events: DataFrame, ttl_ms: int = STATE_EXPIRATION_MS) -> dict[str, DataFrame]:
    """Full batch pipeline: correlate -> scanner-enrich -> finalize/route.

    Equivalent to reference file-mode steps 3-6 (SURVEY.md §3.1) as one lazy
    DataFrame DAG — Catalyst fuses the narrow stages; the shuffles are the
    two keyed windows and nothing else.
    """
    return finalize_and_route(scanner_enrich(correlate(events, ttl_ms), ttl_ms))
