"""Shared pieces of the workloads: the run context, the result record,
the closed-loop window, graph set-up and process measurements."""

from __future__ import annotations

import gc
import os
import random
import shutil
import sys
import threading
import time
from dataclasses import dataclass, field

from stats import Outcomes
from tracing import Tracer

#: set-ups per run; the reported set-up time is their median
SETUP_REPEATS = 3
#: most full collections measure_live_heap makes
LIVE_HEAP_ROUNDS = 6
#: tables the TPC-H property graph projects
GRAPH_TABLES = ("customer", "orders", "part", "supplier", "nation", "lineitem")


_T0 = time.perf_counter()


def progress(what: str) -> None:
    """A timestamped progress line on standard error."""
    print(f"perfbench +{time.perf_counter() - _T0:7.2f}s {what}", file=sys.stderr, flush=True)


@dataclass
class Context:
    spark: object
    tracer: Tracer
    seed: int
    seconds: float
    work: str
    outcomes: Outcomes = field(default_factory=Outcomes)
    #: JVM heap in use after full collections at the end of the cold pass
    live_heap_mb: float | None = None

    def __post_init__(self):
        self.rng = random.Random(self.seed)

    def measure_live_heap(self) -> None:
        """Collect the JVM heap in full and keep what stays in use: the
        memory the engine retains (cached graph, plan cache, catalog and
        Catalyst state), whatever size the collector let the heap grow
        to. Workloads call this right after their cold pass, which sends
        the same statements however fast they run (a window's count of
        statements, and so the plans it leaves cached, depends on speed).

        Python garbage is collected first, so that it releases the JVM
        objects it holds. A full collection hands unreachable RDDs and
        shuffles to Spark's context cleaner, which drops their blocks on
        its own thread, so the heap is collected again until two
        figures agree."""
        gc.collect()
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = None
        for _ in range(LIVE_HEAP_ROUNDS):
            jvm.System.gc()
            now = heap.getHeapMemoryUsage().getUsed()
            if used is not None and abs(now - used) < 2**20:
                break
            used = now
            time.sleep(0.5)
        self.live_heap_mb = now / 2**20


@dataclass
class Result:
    """What a workload measured. `op_s` are the samples behind op_p50_s,
    `ops_done` the operations completed in the measured window."""

    setup_s: list[float]
    cold_pass_s: float
    op_s: list[float]
    ops_done: int
    window_s: float
    stored_bytes: int
    user_bytes: int
    #: (name, unit, samples) for the per-workload summary table
    summary: list[tuple[str, str, list[float]]] = field(default_factory=list)
    #: per-layer values the spans cannot give (cached bytes, rows dropped)
    layers: dict[str, float] = field(default_factory=dict)


def closed_loop(ctx: Context, step, after_first=None) -> float:
    """Call `step()` (one cycle of operations) again and again until the
    window of `ctx.seconds` has passed; returns the window's wall time.
    `after_first()`, when given, runs once after the first cycle, off
    the clock: the window's time leaves it out."""
    start = time.perf_counter()
    step()
    if after_first is not None:
        paused = time.perf_counter()
        after_first()
        start += time.perf_counter() - paused
    while time.perf_counter() - start < ctx.seconds:
        step()
    return time.perf_counter() - start


def cached_bytes(spark) -> int:
    """Bytes of cached or checkpointed RDD blocks, memory and disk."""
    return sum(
        r.memSize() + r.diskSize() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    )


def setup_tpch_graph(ctx: Context, data_dir: str):
    """Project the TPC-H property graph and materialize its cache,
    SETUP_REPEATS times, each from its own copy of the tables (the
    engine memoizes the graph per directory). Earlier graphs are
    unpersisted; the last one stays cached for the workload.
    Returns (graph, its data directory, set-up times)."""
    from postgraph_spark.graph import tpch_graph

    times, graph, used = [], None, None
    for i in range(SETUP_REPEATS):
        copy = f"{data_dir}-{i}"
        shutil.copytree(data_dir, copy)
        if graph is not None:
            graph.vertices.unpersist(blocking=True)
            graph.edges.unpersist(blocking=True)
        with ctx.tracer.op("setup", phase="setup") as op:
            with ctx.tracer.span("graph.build"):
                graph = tpch_graph(ctx.spark, copy)
                graph.vertices.count()
                graph.edges.count()
        times.append(op.elapsed)
        used = copy
    return graph, used, times


def descendants(root: int) -> set[int]:
    """The pids of every live descendant of `root`, read from /proc."""
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                parents[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
    tree: set[int] = set()
    frontier = [root]
    while frontier:
        pid = frontier.pop()
        for child, parent in parents.items():
            if parent == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    return tree


def _tree_rss_kb() -> int:
    """Resident memory of this process and all its descendants, in kB."""
    tree = descendants(os.getpid()) | {os.getpid()}
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/statm") as f:
                kb += int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
        except OSError:
            continue
    return kb


class PeakRss:
    """Samples the process tree's summed resident memory (the Python
    client, the JVM and its Python workers) every half second on a
    background thread and keeps the highest sum."""

    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb())
        return False

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
