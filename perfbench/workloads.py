"""The benchmark's workloads over the engine's public entry points.

Every workload has the same life cycle:

1. ``prepare``: draw the seeded traffic model and write its input files.
2. Three set-ups, each starting a Spark session, building the engine and
   registering its input; ``setup_s`` is their median. The first also
   launches the JVM; the next two restart the context in that JVM, so the
   median times what the engine does before its first query and excludes
   the one-off JVM launch. A later change that moves work into engine
   construction or table registration shows there.
3. An untimed warm-up in the last context, so the timed steps do not pay
   the first-use costs (Python workers, code generation) that a restarted
   context brings.
4. The timed loop: whole passes until ``seconds`` of measured time are
   spent (at least one). A pass is the workload's unit of user-visible
   work; its operations (table writes, queries) are the latency samples.
   Every pass's output is checked outside the measured time.
5. With tracing on, the loop instead alternates untraced passes with
   traced ones, whose every call is labelled by ``setJobDescription`` so
   its stages can be read from the status store; then the workload's
   layer probes run (cumulative prefixes of the dataflow, and for
   ``table_sql`` a streaming replay watched by a listener).

A timed operation always computes its full result: a parquet write or the
``collect()`` of a small result, never a ``.count()``.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hbase_packet_inspector_spark.engine import Engine
from hbase_packet_inspector_spark.operators import pipeline, reassembly
from hbase_packet_inspector_spark.schema import RPC_EVENT_SCHEMA
from hbase_packet_inspector_spark.session import get_spark
from hbase_packet_inspector_spark.sources import hbase_decode, pcap
from hbase_packet_inspector_spark.streaming import pipeline as streaming

from . import checks, probes, traffic

CPUS = 4
SETUPS = 3


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class Pass:
    """One pass: its wall time, its operations' latencies (ms) and how
    many of its operations failed their output check."""
    wall_s: float
    ops_ms: list[float]
    failed: int
    info: dict = field(default_factory=dict)


def _checksum(df: DataFrame) -> int:
    """Row count of ``df`` with every column hashed, so no column is
    pruned away."""
    return int(df.agg(F.count(F.lit(1)),
                      F.bit_xor(F.xxhash64(*df.columns))).collect()[0][0])


class Workload:
    name = ""
    rpcs = 0          # request/response pairs in the measured input
    ops_per_pass = 0  # operations (latency samples) in one pass
    # per-layer metric prefixes of layers the workload never calls; the
    # traced run reports them as 0 and names them in its detail line
    unreached: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str, rpcs: int | None = None,
                 cpus: int = CPUS):
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.model = traffic.build(seed, rpcs or self.rpcs)
        self.spark = None
        self.engine = None
        self.tree: probes.ProcTree | None = None
        self.passes = 0
        self.probe_checks: dict[str, list[str]] = {}  # probe -> bad tables

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def input_events(self) -> int:
        return len(self.model.events)

    # hooks -------------------------------------------------------------

    def prepare(self) -> None:
        raise NotImplementedError

    def set_up(self) -> None:
        """Register the input with the fresh engine."""

    def warm_up(self) -> None:
        """Untimed operations of a pass, so the timed ones do not pay
        first-use costs; leaves the measured input registered."""
        raise NotImplementedError

    def run_pass(self, traced: bool) -> Pass:
        raise NotImplementedError

    def layer_metrics(self, traced_passes: list[Pass]) -> dict[str, float]:
        raise NotImplementedError

    # shared ------------------------------------------------------------

    def start(self) -> float:
        """One set-up: session, engine, input registration. Returns
        seconds."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = Engine(self.spark)
        self.set_up()
        return time.perf_counter() - t0

    def label(self, name: str | None) -> None:
        self.spark.sparkContext.setJobDescription(name)

    def open_window(self, traced: bool, label: str) -> probes.CpuWindow | None:
        """Traced passes label their jobs and meter the process tree."""
        if not traced:
            return None
        self.label(label)
        return probes.CpuWindow(self.tree)

    def close_window(self, win: probes.CpuWindow | None) -> float:
        self.label(None)
        return win.close()[0] if win else 0.0

    def check_tables(self, out: str, want: dict, from_pcap: bool
                     ) -> tuple[dict, list[str], int]:
        """Reads back the tables written under ``out`` and removes it.
        Returns their summary, the names of those that differ from the
        expected rows ``want``, and how many timestamps the pcap reader
        truncated (see ``checks.snap_truncated_ts``)."""
        got = checks.read_tables(out)
        shutil.rmtree(out)
        cut = 0
        if from_pcap:
            got, cut = checks.snap_truncated_ts(got, want)
        return checks.summary(got), checks.diff_tables(got, want), cut

    def ledger_per_pass(self, layer: str, stage_rows: list[dict],
                        traced_passes: list[Pass]) -> dict[str, float]:
        n = len(traced_passes)
        out = {f"{layer}.{k}": v if k == "max_task_share" else v / n
               for k, v in probes.ledger(stage_rows).items()}
        out[f"{layer}.proc_cpu_ms"] = _median(
            [p.info["proc_cpu_ms"] for p in traced_passes])
        return out


class PcapIngest(Workload):
    """File mode: capture files -> reassembly -> protobuf decode ->
    correlation -> the four tables written to parquet."""
    name = "pcap_ingest"
    rpcs = 2_500
    warm_rpcs = 40    # request/response pairs in the warm-up capture
    ops_per_pass = len(checks.TABLES)
    unreached = ("engine.sql.", "streaming.")

    def prepare(self) -> None:
        traffic.write_pcaps(self.model, self.path("pcap"))
        warm = traffic.build(self.seed + 1_000_003, self.warm_rpcs, conns=8)
        traffic.write_pcaps(warm, self.path("warm_pcap"))

    def _load(self, capture: str) -> Engine:
        return (Engine(self.spark)
                .load_pcap(capture, ports=(traffic.SERVER_PORT,))
                .register_tables())

    def _write(self, eng: Engine, table: str, out: str) -> float:
        t0 = time.perf_counter()
        eng.tables[table].write.mode("overwrite").parquet(f"{out}/{table}")
        return (time.perf_counter() - t0) * 1000

    def warm_up(self) -> None:
        """One table write on a small capture: a pass's first-use costs
        are the same for every table, and four writes would double the
        run's fixed time."""
        eng = self._load(self.path("warm_pcap", "*.pcap"))
        self._write(eng, "results", self.path("warm_out"))

    def run_pass(self, traced: bool) -> Pass:
        out = self.path("out", str(self.passes))
        self.passes += 1
        win = self.open_window(traced, "engine.tables")
        t0 = time.perf_counter()
        eng = self._load(self.path("pcap", "*.pcap"))
        ops = [self._write(eng, t, out) for t in checks.TABLES]
        wall = time.perf_counter() - t0
        cpu_ms = self.close_window(win)
        got, bad, cut = self.check_tables(out, self.model.tables, True)
        return Pass(wall, ops, len(bad),
                    {"summary": got, "bad": bad, "proc_cpu_ms": cpu_ms,
                     "ts_truncated": cut})

    def layer_metrics(self, traced_passes: list[Pass]) -> dict[str, float]:
        """Cumulative prefixes of the file-mode dataflow, each forced by a
        checksum aggregate; a layer's self time is its prefix's time minus
        the previous prefix's, its ledger the stages its prefix adds."""
        spark = self.spark
        packets = pcap.read_pcap(spark, self.path("pcap", "*.pcap"))
        messages = reassembly.reassemble(
            pcap.packets_to_chunks(packets, (traffic.SERVER_PORT,)))
        events = hbase_decode.decode_hbase_frames(messages)
        finalized = pipeline.finalize(
            pipeline.scanner_enrich(pipeline.correlate(events)))
        prefixes = [("sources.pcap", packets), ("operators.reassembly", messages),
                    ("sources.hbase_decode", events),
                    ("operators.pipeline", finalized)]
        out: dict[str, float] = {}
        counts = {}
        prev_s, prev_cpu, prev_stages = 0.0, 0.0, []
        for layer, df in prefixes:
            tag = f"prefix:{layer}"
            self.label(tag)
            win = probes.CpuWindow(self.tree)
            t0 = time.perf_counter()
            counts[layer] = _checksum(df)
            took = time.perf_counter() - t0
            cpu_ms = win.close()[0]
            self.label(None)
            st = probes.stages(spark, tag)
            # every prefix ends in the same single-task aggregate stage
            own = st[max(len(prev_stages) - 1, 0):-1]
            out.update({f"{layer}.{k}": v for k, v in probes.ledger(own).items()})
            out[f"{layer}.self_s"] = max(0.0, took - prev_s)
            out[f"{layer}.proc_cpu_ms"] = max(0.0, cpu_ms - prev_cpu)
            prev_s, prev_cpu, prev_stages = took, cpu_ms, st
        out.update(self.ledger_per_pass(
            "engine.tables", probes.stages(spark, "engine.tables"), traced_passes))
        out["sources.pcap.packets"] = counts["sources.pcap"]
        out["operators.reassembly.messages"] = counts["operators.reassembly"]
        out["sources.hbase_decode.events"] = counts["sources.hbase_decode"]
        out["sources.hbase_decode.dropped_frames"] = (
            counts["operators.reassembly"] - counts["sources.hbase_decode"])
        out.update(checks.outcome(traced_passes[-1].info["summary"]))
        return out


class TableSql(Workload):
    """Events mode: one client runs a closed loop over eight README-style
    queries against the four views."""
    name = "table_sql"
    rpcs = 4_000
    ops_per_pass = len(checks.QUERIES)
    unreached = ("sources.", "operators.reassembly.", "engine.tables.")
    stream_rpcs = 300  # the streaming probe's own model ...
    stream_files = 3   # ... replayed one part file per trigger

    def prepare(self) -> None:
        traffic.write_events(self.model, self.path("events"))
        self.expected = checks.expected_results(self.model.tables)
        self.stream_model = traffic.build(self.seed + 2_000_003,
                                          self.stream_rpcs, conns=8)
        traffic.write_stream_parts(self.stream_model, self.path("parts"),
                                   self.stream_files)

    def set_up(self) -> None:
        self.engine.load_events(self.path("events")).register_tables()

    def warm_up(self) -> None:
        """One untimed pass: a pass on the small input left the first
        timed pass a quarter slower than the next."""
        for sql in checks.QUERIES.values():
            self.engine.sql(sql).collect()

    def run_pass(self, traced: bool) -> Pass:
        label = f"engine.sql:{self.passes}" if traced else None
        self.passes += 1
        win = self.open_window(traced, "engine.sql")
        ops, results, plan_ms = [], {}, []
        t_pass = time.perf_counter()
        for qname, sql in checks.QUERIES.items():
            if label:
                self.label(f"{label}:{qname}")
            t0 = time.perf_counter()
            df = self.engine.sql(sql)
            if label:
                df._jdf.queryExecution().executedPlan()
                plan_ms.append((time.perf_counter() - t0) * 1000)
            results[qname] = df.collect()
            ops.append((time.perf_counter() - t0) * 1000)
        wall = time.perf_counter() - t_pass
        cpu_ms = self.close_window(win)
        bad = [q for q, rows in results.items()
               if not checks.rows_match(rows, self.expected[q])]
        return Pass(wall, ops, len(bad), {"bad": bad, "label": label,
                                          "plan_ms": plan_ms,
                                          "proc_cpu_ms": cpu_ms})

    def layer_metrics(self, traced_passes: list[Pass]) -> dict[str, float]:
        per_query = []
        for p in traced_passes:
            for qname, total_ms, plan_ms in zip(checks.QUERIES, p.ops_ms,
                                                p.info["plan_ms"]):
                st = probes.stages(self.spark, f"{p.info['label']}:{qname}")
                per_query.append((plan_ms, total_ms - plan_ms, st))
        out = {
            "engine.sql.plan_ms_p50": _median([q[0] for q in per_query]),
            "engine.sql.exec_ms_p50": _median([q[1] for q in per_query]),
            "engine.sql.stages_per_query": _median([len(q[2]) for q in per_query]),
            "engine.sql.shuffle_bytes_per_query": _median(
                [sum(s["shuffle_write_bytes"] for s in q[2]) for q in per_query]),
        }
        out.update(self.ledger_per_pass(
            "engine.sql", [s for q in per_query for s in q[2]], traced_passes))
        # the correlation pipeline every view shares, once, by itself
        tag = "prefix:operators.pipeline"
        self.label(tag)
        win = probes.CpuWindow(self.tree)
        t0 = time.perf_counter()
        events = self.spark.read.schema(RPC_EVENT_SCHEMA).parquet(
            self.path("events"))
        _checksum(pipeline.finalize(pipeline.scanner_enrich(
            pipeline.correlate(events))))
        out["operators.pipeline.self_s"] = time.perf_counter() - t0
        out["operators.pipeline.proc_cpu_ms"] = win.close()[0]
        self.label(None)
        out.update({f"operators.pipeline.{k}": v for k, v in
                    probes.ledger(probes.stages(self.spark, tag)[:-1]).items()})
        views = {t: [r.asDict() for r in self.spark.table(t).collect()]
                 for t in checks.TABLES}
        out.update(checks.outcome(checks.summary(views)))
        out.update(self.stream_probe())
        return out

    def stream_probe(self) -> dict[str, float]:
        """The streaming layer: the probe's part files replayed one per
        trigger by ``run_pipeline_to_parquet``, each micro-batch's progress
        taken from a listener, the written tables checked against the
        probe's model. Its first micro-batch pays the stateful operator's
        first-use costs."""
        progress = probes.Progress()
        self.spark.streams.addListener(progress)
        out = self.path("stream_out")
        win = probes.CpuWindow(self.tree)
        streaming.run_pipeline_to_parquet(self.spark, self.path("parts"), out,
                                          max_files_per_trigger=1)
        cpu_ms = win.close()[0]
        batches = progress.wait_for(self.stream_files)
        self.spark.streams.removeListener(progress)
        _, bad, _ = self.check_tables(out, self.stream_model.tables, False)
        if len(batches) != self.stream_files:
            bad.append("batches")
        self.probe_checks["streaming"] = bad

        def p50(key: str) -> float:
            return _median([float(b.durationMs.get(key, 0)) for b in batches])

        ops = [s for b in batches for s in b.stateOperators]
        run_ids = {str(b.runId) for b in batches}
        stage_rows = probes.stages(self.spark, lambda d: any(
            f"runId = {r}" in d for r in run_ids))
        met = {f"streaming.{k}": v
               for k, v in probes.ledger(stage_rows).items()}
        met.update({
            "streaming.proc_cpu_ms": cpu_ms,
            "streaming.batches": len(batches),
            "streaming.input_rows": sum(b.numInputRows for b in batches),
            "streaming.trigger_ms_p50": p50("triggerExecution"),
            "streaming.add_batch_ms_p50": p50("addBatch"),
            "streaming.query_planning_ms_p50": p50("queryPlanning"),
            "streaming.get_batch_ms_p50": p50("getBatch"),
            "streaming.latest_offset_ms_p50": p50("latestOffset"),
            "streaming.wal_commit_ms_p50": p50("walCommit"),
            "streaming.state_rows_peak":
                max((s.numRowsTotal for s in ops), default=0),
            "streaming.state_memory_bytes_peak":
                max((s.memoryUsedBytes for s in ops), default=0),
            "streaming.state_update_ms_total":
                sum(s.allUpdatesTimeMs for s in ops),
            "streaming.state_rows_removed_total":
                sum(s.numRowsRemoved for s in ops),
        })
        return met


WORKLOADS = {w.name: w for w in (PcapIngest, TableSql)}
