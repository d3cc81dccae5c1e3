"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet tables, then compares row count, column names, and an
order-insensitive value multiset (timestamps normalized to isoformat,
floats to repr). A query without an oracle is a rows-only SKIP, counted in
the summary; a rows-only query that returns 0 rows is a FAIL. Usage:

    python tools/check_parity.py [sf_dir] [query ...]
    python tools/check_parity.py --changed-since REF [sf_dir]

``--changed-since REF`` restricts the run to queries plausibly affected by
the git diff since REF (e.g. ``HEAD``, ``HEAD~1``, ``main``): a changed
plan module selects its own queries; a changed operator/source/function/
streaming module selects every plan module whose source references it by
module name (a static, deliberately over-selecting text scan — coarse
beats missing); a change to the entry module, session, or table loader
selects everything. This keeps the pre-commit loop seconds-fast however
large the registry grows while the full sweep stays the round gate. The
skipped count is printed so a filtered run never reads as full coverage.
"""

from __future__ import annotations

import datetime
import math
import sys
import os
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from hbase_packet_inspector_spark.session import get_spark
from hbase_packet_inspector_spark.sources.tables import TABLE_NAMES


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return repr(float(v))
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, bool):
        return f"bool:{v}"
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return repr(float(v))
    except ImportError:
        pass
    return repr(v)


def to_multiset(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(norm(r[i]) for i in order)
        out[key] = out.get(key, 0) + 1
    return out


def _changed_query_names(ref: str, qs: dict) -> set[str] | None:
    """Names of queries plausibly affected by the git diff since ``ref``;
    None means "everything" (a shared module changed, or git failed)."""
    import inspect
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        out = subprocess.run(
            ["git", "diff", "--name-only", ref, "--"],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout
    except (subprocess.CalledProcessError, OSError) as e:
        print(f"# --changed-since: git diff failed ({e}); running ALL")
        return None
    changed = [l.strip() for l in out.splitlines() if l.strip().endswith(".py")]
    if not changed:
        return set()
    pkg = "hbase_packet_inspector_spark"
    # shared infrastructure: any change here can affect every query
    shared = ("__spark_entry__.py", f"{pkg}/session.py",
              f"{pkg}/sources/tables.py", f"{pkg}/plans/__init__.py")
    if any(c in shared for c in changed):
        print(f"# --changed-since: shared module changed; running ALL")
        return None
    # query name -> its plan module source file
    qfile = {}
    for name, fn in qs.items():
        try:
            qfile[name] = os.path.relpath(
                inspect.getsourcefile(inspect.unwrap(fn)), repo)
        except TypeError:
            qfile[name] = None  # builtins/partials: treat as unknown
    plan_changed = {c for c in changed if c.startswith(f"{pkg}/plans/")}
    # non-plan package modules: select plan modules that mention the
    # changed module's basename anywhere in source (over-selects; safe)
    stems = [os.path.splitext(os.path.basename(c))[0]
             for c in changed
             if c.startswith(f"{pkg}/") and c not in plan_changed]
    if stems:
        for pf in sorted({f for f in qfile.values() if f}):
            try:
                src = open(os.path.join(repo, pf)).read()
            except OSError:
                return None
            if any(s in src for s in stems):
                plan_changed.add(pf)
    return {n for n, f in qfile.items()
            if f is None or f in plan_changed}


def main():
    argv = sys.argv[1:]
    since = None
    if "--changed-since" in argv:
        i = argv.index("--changed-since")
        since = argv[i + 1]
        del argv[i:i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    only = set(argv[1:])

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if since is not None:
        sel = _changed_query_names(since, qs)
        if sel is not None:
            if only:
                sel &= only
            skipped = len(qs) - len(sel)
            print(f"# --changed-since {since}: {len(sel)} selected, "
                  f"{skipped} SKIPPED (not full coverage)")
            if not sel:
                print("\n0 passed, 0 failed, 0 skipped (rows-only)")
                return 0
            only = sel
    spark = get_spark("parity-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    n_pass = n_fail = n_skip = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        if name not in oracles:
            # rows-only: nothing to compare, but an empty result is no run
            if not srows:
                print(f"FAIL {name}: rows-only query returned 0 rows "
                      f"[{time.time()-t0:.1f}s]")
                n_fail += 1
            else:
                print(f"SKIP {name}: rows-only ({len(srows)} rows) "
                      f"[{time.time()-t0:.1f}s]")
                n_skip += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            # fetch through Arrow, not fetchall(): the driver's comparator
            # goes through a typed path where DuckDB HUGEINT (bare
            # sum(INTEGER)) surfaces as decimal128, NOT Python int — an
            # oracle missing a CAST(... AS BIGINT) must fail here too
            try:
                drows = [
                    tuple(row[c] for c in dcols)
                    for row in res.fetch_arrow_table().to_pylist()
                ]
            except Exception:
                drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_fail += 1
            continue

        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(dcols)}")
        if not problems:
            ms, md = to_multiset(scols, srows), to_multiset(dcols, drows)
            if ms != md:
                diff_s = {k: v for k, v in ms.items() if md.get(k) != v}
                diff_d = {k: v for k, v in md.items() if ms.get(k) != v}
                sample_s = list(diff_s.items())[:3]
                sample_d = list(diff_d.items())[:3]
                problems.append(
                    f"values differ ({len(diff_s)}/{len(ms)} keys): "
                    f"spark-only={sample_s} duck-only={sample_d}"
                )
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} [{time.time()-t0:.1f}s]")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")
            n_pass += 1
        # drop persisted frames between queries (mirrors bench.py: earlier
        # queries' caches otherwise tax later ones with GC pressure)
        spark.catalog.clearCache()

    print(f"\n{n_pass} passed, {n_fail} failed, {n_skip} skipped (rows-only)")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
