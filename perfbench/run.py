"""Benchmark of the HBase packet-inspector engine: one command, one
workload per invocation.

    python3 perfbench/run.py --workload pcap_ingest --seed 1 --seconds 5 --trace 0

Workloads: ``pcap_ingest`` and ``table_sql``. Run from the repository
root. The metric names and units are read from
``BENCHMARK.json`` there. The last line of standard output is the
result: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer ones (``--trace 1``);
the line before it is a detail record (input sizes, every sample, set-up
times, the share of CPU foreign processes took while timing, and the
per-layer metrics of layers the workload never calls, reported as 0).
Every file the run writes lives under ``.perfbench_work/`` in the root and
is removed when the run ends. Exits non-zero, printing no result, when the engine's
sources are not beside the benchmark.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "hbase_packet_inspector_spark" / "__init__.py"


def _spark_env(work: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; quiet the console progress bar; size the driver for a
    shared 4-core box."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={work / 'spark-local'}",
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.retainedStages=20000",
        "--conf spark.ui.retainedJobs=20000",
        "pyspark-shell",
    ])


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(name: str, seed: int, seconds: int, trace: bool,
            work: Path) -> tuple[dict, dict, int, int]:
    """Run one workload; returns (metrics, detail, attempted, failed)."""
    from perfbench import probes, workloads

    w = workloads.WORKLOADS[name](seed, str(work))
    t0 = time.perf_counter()
    w.prepare()
    detail: dict = {"workload": name, "seed": seed,
                    "input_events": w.input_events(),
                    "gen_s": time.perf_counter() - t0}
    attempted = failed = 0
    passes: list = []
    with probes.ProcTree() as tree:
        w.tree = tree
        try:
            setups = [w.start() for _ in range(workloads.SETUPS)]
            w.warm_up()
            jvm = probes.JvmMeter(w.spark)
            gc0 = jvm.gc_ms()
            jvm.reset_peak()
            tree.reset_peak()
            window = probes.CpuWindow(tree)
            spent, tried = 0.0, 0
            # untraced passes only, or untraced and traced in turn, so
            # that a traced pass is never the first
            while spent < seconds or (trace and tried < 3):
                traced = trace and tried % 2 == 1
                tried += 1
                t_pass = time.perf_counter()
                try:
                    p = w.run_pass(traced)
                except Exception:  # an engine error fails the pass's ops
                    traceback.print_exc()
                    attempted += w.ops_per_pass
                    failed += w.ops_per_pass
                    spent += time.perf_counter() - t_pass
                    continue
                p.info["traced"] = traced
                passes.append(p)
                spent += p.wall_s
                attempted += len(p.ops_ms)
                failed += p.failed
                if p.failed:
                    print(f"check failed: {p.info.get('bad')}",
                          file=sys.stderr)
            _, foreign = window.close()
            gc_ms, heap_mb = jvm.gc_ms() - gc0, jvm.heap_peak_mb()
            peak_rss_mb = tree.peak_rss / 2**20
            traced = [p for p in passes if p.info["traced"]]
            timed = [p for p in passes if not p.info["traced"]]
            if not timed or (trace and (not traced or len(timed) < 2)):
                raise RuntimeError("too few passes completed")
            if trace:
                layer = w.layer_metrics(traced)
                for probe, bad in w.probe_checks.items():
                    attempted += 1
                    failed += bool(bad)
                    if bad:
                        print(f"{probe} check failed: {bad}", file=sys.stderr)
        finally:
            if w.spark is not None:
                _stop_spark(w.spark)

    walls = [p.wall_s for p in timed]
    ops = [x for p in timed for x in p.ops_ms]
    wall_s = statistics.median(walls)
    metrics = {
        "setup_s": statistics.median(setups),
        "wall_s": wall_s,
        "events_per_s": w.input_events() / wall_s,
        "op_p50_ms": statistics.median(ops),
    }
    if trace:
        metrics.update(layer)
        metrics.update({
            "proc.peak_rss_mb": peak_rss_mb,
            "jvm.gc_ms": gc_ms / len(passes),
            "jvm.heap_peak_mb": heap_mb,
            "trace.overhead_s":
                statistics.median(p.wall_s for p in traced)
                - statistics.median(p.wall_s for p in timed[1:]),
            "host.foreign_cpu_share": foreign,
        })
    detail.update(setups_s=setups, pass_wall_s=walls, ops_ms=ops,
                  peak_rss_mb=peak_rss_mb,
                  foreign_cpu_share=foreign, jvm_gc_ms=gc_ms,
                  jvm_heap_peak_mb=heap_mb,
                  ts_truncated=[p.info.get("ts_truncated") for p in passes])
    return metrics, detail, attempted, failed


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not PACKAGE.is_file():
        print(f"engine sources not found at {PACKAGE.parent}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _spark_env(work)
    try:
        metrics, detail, attempted, failed = measure(
            args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    # a layer the workload never calls did no work: 0, named as such
    unreached = [m["name"] for m in wanted if m["name"] not in metrics
                 and m["name"].startswith(WORKLOADS[args.workload].unreached)]
    missing = [m["name"] for m in wanted
               if m["name"] not in metrics and m["name"] not in unreached]
    if missing:
        print(f"metrics not produced: {missing}", file=sys.stderr)
        return 1
    detail["unreached_layer_metrics"] = unreached
    print(json.dumps(detail))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0)),
                                "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
