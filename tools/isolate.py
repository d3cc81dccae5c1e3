"""Isolated per-query timing with a per-stage ledger, at one or more
corpus scales.

Times registered queries the way bench.py does, without the rest of the
registry taxing the session: a fresh ``get_spark`` session on
local[$SPARK_GRAFT_CPUS], one warm-up run per query at sf0.001
(codegen/JVM amortization), then N timed runs per ``--sf`` dir. Every run,
the warm-up included, is bench's timed action (``bench.run_noop``: a
noop-sink write, which computes every column), and bench's release sweep
(``bench.release``) runs after each. Each run labels its jobs
``"{query} {dir} run {i}"``; the run's stages are read back from the
status store by that label (``perfbench.probes.stages``, no UI needed)
and summed by ``perfbench.probes.ledger``.

For each (query, dir) one line: the noop wall of the fastest run, every
run's wall, and that fastest run's ledger (``probes.LEDGER_FIELDS``:
tasks, run_ms, cpu_ms, gc_ms, shuffle_write_bytes, spill_bytes,
max_task_share).

Usage:
    python tools/isolate.py QUERY [QUERY...] [--sf DIR [DIR...]]
                            [--repeats N] [--warm DIR]
                            [--explain-dir plans/r12] [--suffix before]

Scale probe: pass the base corpus and its synthetic copies
(``tools/make_synthetic_10x.py``) together, e.g.
    python tools/isolate.py dedup_keep_best_lsh \\
        --sf /root/testdata/sf0.1 /tmp/sfbig10 /tmp/sfbig100

``--explain-dir`` also writes each query's ``.explain("formatted")`` plan
at the first ``--sf`` dir to ``{dir}/{query}_{suffix}.txt``.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import release, run_noop
from hbase_packet_inspector_spark import plans
from hbase_packet_inspector_spark.session import get_spark
from perfbench import probes


def _ledger(spark, label: str) -> dict[str, float]:
    # stage-completion events reach the status store through the
    # listener bus, which can trail the action that ran them
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return probes.ledger(probes.stages(spark, label))


def _fmt(v: float) -> str:
    return f"{v:.3f}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", nargs="+", default=["/root/testdata/sf0.1"])
    ap.add_argument("--warm", default="/root/testdata/sf0.001")
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    args = ap.parse_args()

    spark = get_spark("isolate")
    spark.sparkContext.setLogLevel("ERROR")
    for name in args.queries:
        q = plans.QUERIES.get(name)
        if q is None:
            print(f"{name}: NOT REGISTERED")
            continue
        try:
            run_noop(spark, q, args.warm, f"warmup {name}")
        except Exception as e:
            print(f"{name}: warmup failed: {e}")
        release(spark)

        for sf_dir in args.sf:
            runs, ledgers = [], []
            for i in range(args.repeats):
                label = f"{name} {sf_dir} run {i}"
                runs.append(run_noop(spark, q, sf_dir, label))
                release(spark)
                ledgers.append(_ledger(spark, label))
            best = min(range(len(runs)), key=runs.__getitem__)
            print(f"{name} @ {sf_dir}: noop-min {runs[best]:.3f}s "
                  f"runs {[round(r, 3) for r in runs]} "
                  + " ".join(f"{k} {_fmt(v)}" for k, v in ledgers[best].items()),
                  flush=True)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            out = os.path.join(args.explain_dir,
                               f"{name}_{args.suffix}.txt")
            df = q.fn(spark, args.sf[0])
            plan = df._jdf.queryExecution().explainString(
                df._sc._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
            with open(out, "w") as f:
                f.write(plan.strip() + "\n")
            print(f"  plan -> {out}")
            release(spark)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
