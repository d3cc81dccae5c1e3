"""Measurements taken from outside the engine: the process tree in /proc,
the JVM's management beans, the Spark status store (stages by job
description, readable with the UI disabled) and streaming progress from a
``StreamingQueryListener``. Everything is kept in memory until the run
prints its result."""

from __future__ import annotations

import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_TCK = float(os.sysconf("SC_CLK_TCK"))
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _proc_table() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, cpu ticks incl. reaped children, rss pages)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
        except OSError:
            continue  # the process exited while we listed
        rest = st.rsplit(")", 1)[-1].split()
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]),
                       int(rest[21]))
    return out


def _tree(table: dict, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _busy_ticks() -> int:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals) - vals[3] - vals[4]


class ProcTree:
    """CPU and memory of this process and its descendants (Python driver,
    the local JVM and its Python workers), plus the CPU the rest of the
    box used meanwhile. A background thread samples the tree's RSS; its
    peak covers the time since the last ``reset_peak``."""

    def __init__(self, interval_s: float = 0.2):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample_rss, daemon=True)

    def __enter__(self) -> "ProcTree":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def reset_peak(self) -> None:
        with self._lock:
            self.peak_rss = 0

    def _sample_rss(self) -> None:
        while not self._stop.is_set():
            table = _proc_table()
            rss = sum(table[p][2] for p in _tree(table, self.root) if p in table)
            with self._lock:
                self.peak_rss = max(self.peak_rss, rss * _PAGE)
            self._stop.wait(self.interval_s)

    def cpu(self) -> tuple[int, int]:
        """(ticks used by the tree, ticks used by the whole box)."""
        table = _proc_table()
        ours = sum(table[p][1] for p in _tree(table, self.root) if p in table)
        return ours, _busy_ticks()


class CpuWindow:
    """Tree CPU (ms) and the share of the box's CPU capacity taken by
    foreign processes over a window."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.t0 = time.perf_counter()
        self.c0 = tree.cpu()

    def close(self) -> tuple[float, float]:
        ours, busy = self.tree.cpu()
        wall = time.perf_counter() - self.t0
        tree_ms = (ours - self.c0[0]) / _TCK * 1000
        foreign = max(0, (busy - self.c0[1]) - (ours - self.c0[0])) / _TCK
        return tree_ms, foreign / max(wall * (os.cpu_count() or 1), 1e-9)


class JvmMeter:
    """Driver-JVM garbage-collection time and peak heap use."""

    def __init__(self, spark):
        mf = spark._jvm.java.lang.management.ManagementFactory
        self.gcs = list(mf.getGarbageCollectorMXBeans())
        self.heap = [p for p in mf.getMemoryPoolMXBeans()
                     if p.getType().toString() == "Heap memory"]

    def gc_ms(self) -> int:
        return sum(max(0, g.getCollectionTime()) for g in self.gcs)

    def reset_peak(self) -> None:
        for p in self.heap:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        return sum(p.getPeakUsage().getUsed() for p in self.heap) / 2**20


LEDGER_FIELDS = ("tasks", "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes",
                 "spill_bytes", "max_task_share")


def stages(spark, label) -> list[dict]:
    """Completed stages whose job description is ``label`` (or satisfies
    it, when ``label`` is a predicate), in stage-id order, each with its
    longest task's run time."""
    match = label if callable(label) else label.__eq__
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    found = store.stageList(None, False, False,
                            sc._gateway.new_array(spark._jvm.double, 0), None)
    out = []
    it = found.iterator()
    while it.hasNext():
        s = it.next()
        d = s.description()
        if s.status().toString() != "COMPLETE" or not d.isDefined() \
                or not match(d.get()):
            continue
        run_ms = s.executorRunTime()
        longest = 0
        ti = store.taskList(s.stageId(), s.attemptId(), 1 << 20).iterator()
        while ti.hasNext():
            m = ti.next().taskMetrics()
            if m.isDefined():
                longest = max(longest, m.get().executorRunTime())
        out.append({
            "stage": s.stageId(), "tasks": s.numTasks(), "run_ms": run_ms,
            "cpu_ms": s.executorCpuTime() / 1e6, "gc_ms": s.jvmGcTime(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            "longest_ms": longest,
        })
    return sorted(out, key=lambda x: x["stage"])


def ledger(stage_rows: list[dict]) -> dict[str, float]:
    """Sum the additive fields; ``max_task_share`` is the largest task's
    share of the run time of the busiest stage (near 1.0: one hot task)."""
    out = {f: sum(s[f] for s in stage_rows) for f in LEDGER_FIELDS[:-1]}
    busiest = max(stage_rows, key=lambda s: s["run_ms"], default=None)
    out["max_task_share"] = (busiest["longest_ms"] / busiest["run_ms"]
                             if busiest and busiest["run_ms"] else 0.0)
    return out


class Progress(StreamingQueryListener):
    """Collects every micro-batch's progress for later summary."""

    def __init__(self):
        self.batches: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.batches.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, n: int, timeout_s: float = 15.0) -> list:
        """Progress events arrive asynchronously; wait until ``n`` are in."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.batches) >= n:
                    break
            time.sleep(0.05)
        with self._lock:
            got, self.batches = self.batches, []
        return got
