"""Ground truth for the four tables, the table_sql query mix with its
expected results, and the comparisons that decide ``failed``.

The expected rows come from ``traffic.Model.tables``. The tables an engine
run wrote are read back with pyarrow and compared with them row for row,
every column, so the comparison is exact and costs no Spark job.
"""

from __future__ import annotations

import math
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from hbase_packet_inspector_spark.schema import (
    ACTION_COLUMNS, REQUEST_COLUMNS, RESPONSE_COLUMNS, RESULT_COLUMNS)

TABLES = ("requests", "responses", "actions", "results")
COLUMNS = dict(zip(TABLES, (REQUEST_COLUMNS, RESPONSE_COLUMNS,
                            ACTION_COLUMNS, RESULT_COLUMNS)))


def _nz(v) -> int:
    return int(v or 0)


def summary(tables: dict[str, list[dict]]) -> dict:
    """Per-method counts, cells, batch sizes, matched/unknown responses,
    elapsed totals, errors, child rows and scanner-table inheritance."""
    req: dict = defaultdict(lambda: [0, 0, 0, 0])
    for r in tables["requests"]:
        s = req[r["method"]]
        s[0] += 1
        s[1] += _nz(r["cells"])
        s[2] += r["batch"]
        s[3] += r["table"] is not None
    resp: dict = defaultdict(lambda: [0, 0, 0, 0, 0, 0])
    for r in tables["responses"]:
        s = resp[r["method"]]
        s[0] += 1
        s[1] += _nz(r["cells"])
        s[2] += r["elapsed"] is not None
        s[3] += _nz(r["elapsed"])
        s[4] += r["error"] is not None
        s[5] += r["table"] is not None
    return {
        "requests": {k: tuple(v) for k, v in sorted(req.items())},
        "responses": {k: tuple(v) for k, v in sorted(resp.items())},
        "actions": (len(tables["actions"]),
                    sum(_nz(a["cells"]) for a in tables["actions"])),
        "results": (len(tables["results"]),
                    sum(_nz(a["cells"]) for a in tables["results"]),
                    sum(a["error"] is not None for a in tables["results"])),
    }


def read_tables(out_dir: str) -> dict[str, list[dict]]:
    """The four tables an engine run wrote under ``out_dir``, as rows with
    ``ts`` in epoch microseconds; a streaming sink's ``batch_id``
    partition column is dropped."""
    out = {}
    for t in TABLES:
        tbl = pq.read_table(f"{out_dir}/{t}")
        if "batch_id" in tbl.column_names:
            tbl = tbl.drop_columns(["batch_id"])
        if "ts" in tbl.column_names:
            i = tbl.column_names.index("ts")
            us = pa.timestamp("us", tz=tbl["ts"].type.tz)
            tbl = tbl.set_column(i, "ts", tbl["ts"].cast(us).cast(pa.int64()))
        out[t] = tbl.to_pylist()
    return out


def _sorted_rows(rows: list[dict], cols: list[str]) -> list[tuple]:
    return sorted((tuple(r.get(c) for c in cols) for r in rows),
                  key=lambda row: [(v is None, v) for v in row])


def _key(row: dict) -> tuple:
    return row["client"], row["port"], row["call_id"]


def snap_truncated_ts(got: dict[str, list[dict]], want: dict[str, list[dict]]
                      ) -> tuple[dict[str, list[dict]], int]:
    """The engine's pcap reader turns some microsecond timestamps into
    floats and truncates them 1 µs low (``int(frac / 1e6 * 1e6)`` in
    ``sources/pcap.py``), which can also move ``elapsed`` by 1 ms. Returns
    ``got`` with exactly those differences replaced by the expected values,
    and how many requests and responses had a truncated ``ts``."""
    fixed = dict(got)
    cut = set()
    for t in ("requests", "responses"):
        exp = {_key(r): r for r in want[t]}
        fixed[t] = []
        for r in got[t]:
            e = exp.get(_key(r))
            if e is not None and r["ts"] + 1 == e["ts"]:
                r = {**r, "ts": e["ts"]}
                cut.add((t, _key(r)))
            fixed[t].append(r)
    exp = {_key(r): r for r in want["responses"]}
    for i, r in enumerate(fixed["responses"]):
        e = exp.get(_key(r))
        touched = {("requests", _key(r)), ("responses", _key(r))} & cut
        if touched and e and None not in (r["elapsed"], e["elapsed"]) \
                and abs(r["elapsed"] - e["elapsed"]) == 1:
            fixed["responses"][i] = {**r, "elapsed": e["elapsed"]}
    return fixed, len(cut)


def diff_tables(got: dict[str, list[dict]], want: dict[str, list[dict]]
                ) -> list[str]:
    """Names of the tables whose rows differ from the expected ones: each
    table's column set and the multiset of its rows, every column."""
    bad = []
    for t in TABLES:
        cols = COLUMNS[t]
        if any(set(r) != set(cols) for r in got[t][:1] + want[t][:1]) \
                or _sorted_rows(got[t], cols) != _sorted_rows(want[t], cols):
            bad.append(t)
    return bad


def outcome(summary: dict) -> dict[str, float]:
    """Correlation outcome and row counts of one summary."""
    responses = sum(v[0] for v in summary["responses"].values())
    matched = sum(v[2] for v in summary["responses"].values())
    return {
        "operators.pipeline.match_ratio": matched / max(responses, 1),
        "operators.pipeline.unknown_responses":
            summary["responses"].get("unknown", (0,))[0],
        "engine.tables.requests_rows":
            sum(v[0] for v in summary["requests"].values()),
        "engine.tables.responses_rows": responses,
        "engine.tables.actions_rows": summary["actions"][0],
        "engine.tables.results_rows": summary["results"][0],
        "operators.pipeline.next_rows_with_table":
            summary["requests"].get("next-rows", (0, 0, 0, 0))[3]
            + summary["responses"].get("next-rows", (0,) * 6)[5],
    }


# -- table_sql: README-style queries over the four views ---------------------

QUERIES = {
    "join_elapsed": """
        SELECT q.method, count(*) AS n, avg(r.elapsed) AS avg_ms
        FROM requests q JOIN responses r
          ON q.client = r.client AND q.port = r.port AND q.call_id = r.call_id
        WHERE r.elapsed IS NOT NULL
        GROUP BY q.method ORDER BY q.method""",
    "elapsed_percentiles": """
        SELECT method, percentile(elapsed, 0.5) AS p50,
               percentile(elapsed, 0.9) AS p90, percentile(elapsed, 0.99) AS p99
        FROM responses WHERE elapsed IS NOT NULL
        GROUP BY method ORDER BY method""",
    "hot_regions": """
        SELECT table, region, count(*) AS n FROM requests
        WHERE region IS NOT NULL
        GROUP BY table, region ORDER BY n DESC, table, region LIMIT 10""",
    "top_clients_by_bytes": """
        SELECT client, sum(size) AS bytes, count(*) AS n FROM requests
        GROUP BY client ORDER BY bytes DESC, client LIMIT 10""",
    "batch_histogram": """
        SELECT batch, count(*) AS n FROM requests WHERE batch > 0
        GROUP BY batch ORDER BY batch""",
    "actions_by_table_method": """
        SELECT table, method, count(*) AS n, sum(cells) AS cells FROM actions
        GROUP BY table, method ORDER BY table, method""",
    "result_cells_errors": """
        SELECT table, count(*) AS n, sum(cells) AS cells, count(error) AS errors
        FROM results GROUP BY table ORDER BY table""",
    "slowest_responses": """
        SELECT client, port, call_id, method, elapsed FROM responses
        WHERE elapsed IS NOT NULL
        ORDER BY elapsed DESC, client, port, call_id LIMIT 20""",
}


def _percentile(sorted_vals: list[int], p: float) -> float:
    """Spark's exact ``percentile``: linear interpolation at p*(n-1)."""
    pos = p * (len(sorted_vals) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return sorted_vals[lo] + (pos - lo) * (sorted_vals[hi] - sorted_vals[lo])


def _group(rows, key, agg):
    out = defaultdict(list)
    for r in rows:
        out[key(r)].append(r)
    return [(*(k if isinstance(k, tuple) else (k,)), *agg(v))
            for k, v in sorted(out.items())]


def _sum_or_none(vals):
    vals = [v for v in vals if v is not None]
    return sum(vals) if vals else None


def expected_results(tables: dict[str, list[dict]]) -> dict[str, list[tuple]]:
    req, resp = tables["requests"], tables["responses"]
    timed = [r for r in resp if r["elapsed"] is not None]
    methods = {(r["client"], r["port"], r["call_id"]): r["method"] for r in req}
    joined = [(methods[(r["client"], r["port"], r["call_id"])], r["elapsed"])
              for r in timed if (r["client"], r["port"], r["call_id"]) in methods]
    regions = _group([r for r in req if r["region"] is not None],
                     lambda r: (r["table"], r["region"]), lambda v: (len(v),))
    clients = _group(req, lambda r: r["client"],
                     lambda v: (sum(r["size"] for r in v), len(v)))
    slowest = sorted(timed, key=lambda r: (-r["elapsed"], r["client"],
                                            r["port"], r["call_id"]))[:20]
    return {
        "join_elapsed": _group(
            joined, lambda x: x[0],
            lambda v: (len(v), sum(e for _, e in v) / len(v))),
        "elapsed_percentiles": _group(
            timed, lambda r: r["method"],
            lambda v: tuple(_percentile(sorted(r["elapsed"] for r in v), p)
                            for p in (0.5, 0.9, 0.99))),
        "hot_regions": sorted(regions, key=lambda r: (-r[2], r[0], r[1]))[:10],
        "top_clients_by_bytes": sorted(clients, key=lambda r: (-r[1], r[0]))[:10],
        "batch_histogram": _group([r for r in req if r["batch"] > 0],
                                  lambda r: r["batch"], lambda v: (len(v),)),
        "actions_by_table_method": _group(
            tables["actions"], lambda a: (a["table"], a["method"]),
            lambda v: (len(v), _sum_or_none(a["cells"] for a in v))),
        "result_cells_errors": _group(
            tables["results"], lambda a: a["table"],
            lambda v: (len(v), _sum_or_none(a["cells"] for a in v),
                       sum(a["error"] is not None for a in v))),
        "slowest_responses": [(r["client"], r["port"], r["call_id"],
                               r["method"], r["elapsed"]) for r in slowest],
    }


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return (a is not None and b is not None
                and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9))
    return a == b


def rows_match(got: list, want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip((tuple(r) for r in got), want))
