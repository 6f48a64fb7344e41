"""Layer tracing for the benchmark's traced run.

Spans are recorded from the benchmark's side only: `install` wraps the
public entry points of the engine's modules (parser, compiler, engine,
write runner, graph storage, loader) and the pyspark actions, and each
wrapper opens a span around the original call. Nothing in the engine
changes. Spans stay in memory (name, start, end, parent, operation id)
and are written out once, when the run ends.

In a traced run the window's operations of each kind are traced and left
untraced in turn, starting with traced, so every kind is traced at least
once and the same run measures the tracing overhead: the traced
operations' extra time over the untraced ones of the same kind.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import Counter, defaultdict

from py4j.protocol import Py4JError

#: spans whose action children execute the operation's result; every
#: other pyspark action is an eager job fired while planning or writing
RESULT_PARENTS = frozenset({"engine.fetch", "queries.exec"})
CATALYST_PHASES = ("analysis", "optimization", "planning")


class _NullOp:
    """The untraced operation: only its wall time."""

    __slots__ = ("start", "elapsed")

    def __enter__(self):
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.start
        return False


class _Span:
    __slots__ = ("tracer", "name", "attrs", "record")

    def __init__(self, tracer: "Tracer", name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self):
        t = self.tracer
        parent = t.stack[-1]["id"] if t.stack else None
        self.record = {
            "id": len(t.spans), "parent": parent, "name": self.name,
            "op": t.op_id, "start": time.perf_counter(), "end": None, **self.attrs,
        }
        t.spans.append(self.record)
        t.stack.append(self.record)
        return self.record

    def __exit__(self, *exc):
        self.record["end"] = time.perf_counter()
        self.tracer.stack.pop()
        return False


class _NullSpan:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL_SPAN = _NullSpan()


class _TracedOp:
    """One operation of a traced run: a root span when its turn is
    traced, plus the Spark job group its jobs are filed under."""

    def __init__(self, tracer: "Tracer", kind: str, phase: str):
        self.tracer, self.kind, self.phase = tracer, kind, phase

    def __enter__(self):
        t = self.tracer
        t.op_id += 1
        turn = t.turns[(self.kind, self.phase)]
        t.turns[(self.kind, self.phase)] += 1
        self.traced = self.phase != "window" or turn % 2 == 0
        self.counts: dict[str, float] = defaultdict(float)
        if self.traced:
            t.before_op()
            t.active = True
            t.current = self
            t.set_job_group("p")
        self.span = _Span(t, "client.op", {"kind": self.kind, "phase": self.phase})
        self.start = time.perf_counter()
        if self.traced:
            self.span.__enter__()
        return self

    def __exit__(self, *exc):
        self.elapsed = time.perf_counter() - self.start
        t = self.tracer
        if self.traced:
            self.span.__exit__()
            t.active = False
            t.current = None
            t.after_op(self)
        t.ops.append({"op": t.op_id, "kind": self.kind, "phase": self.phase,
                      "traced": self.traced, "elapsed": self.elapsed,
                      "counts": dict(self.counts)})
        return False


class Tracer:
    """Span recorder. Disabled, every hook is a no-op and `op` only times."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.active = False
        self.turns: Counter = Counter()
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ops: list[dict] = []
        self.op_id = 0
        self.current: _TracedOp | None = None
        self.spark = None
        self.codegen_log: str | None = None
        self.watch_dir: str | None = None
        self._codegen_offset = 0
        self._seen_qe: set[int] = set()
        self._groups: dict[str, None] = {}
        self._files: dict[str, tuple[int, int]] = {}
        self._patches: list[tuple[object, str, object]] = []

    # -- operations and spans -------------------------------------------

    def op(self, kind: str, phase: str = "window"):
        return _TracedOp(self, kind, phase) if self.enabled else _NullOp()

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs) if self.active else _NULL_SPAN

    def count(self, key: str, value: float = 1.0) -> None:
        if self.active and self.current is not None:
            self.current.counts[key] += value

    def set_job_group(self, stage: str) -> None:
        """File the current operation's next Spark jobs under a group
        named by operation id and stage: "p" the operation at large, "b"
        a batch row's build, "x" the execution of the result."""
        if not self.active:
            return
        group = f"perfbench-{self.op_id}-{stage}"
        self._groups[group] = None
        self.spark.sparkContext.setJobGroup(group, group)

    # -- per-operation bookkeeping, outside the operation's timing ------

    def before_op(self) -> None:
        self._groups = {}
        self._codegen_events()  # drop events of earlier, untraced operations
        if self.watch_dir:
            self._files = _file_states(self.watch_dir)

    def after_op(self, op: _TracedOp) -> None:
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", None)
        for group in self._groups:
            for key, v in job_group_totals(sc, group).items():
                op.counts[f"{key}@{group.rsplit('-', 1)[1]}"] += v
        op.counts["catalyst.codegen_fallbacks"] += self._codegen_events()
        if self.watch_dir:
            after = _file_states(self.watch_dir)
            changed = [p for p, st in after.items() if self._files.get(p) != st]
            op.counts["graph.files_written"] += len(changed)
            op.counts["graph.bytes_written"] += sum(after[p][0] for p in changed)

    def _codegen_events(self) -> int:
        if not self.codegen_log or not os.path.exists(self.codegen_log):
            return 0
        with open(self.codegen_log, "rb") as f:
            f.seek(self._codegen_offset)
            chunk = f.read()
        self._codegen_offset += len(chunk)
        return chunk.count(b"Failed to compile")

    def record_phases(self, jdf) -> None:
        """Add the Catalyst phase durations of a DataFrame's
        QueryExecution, once per QueryExecution."""
        try:
            qe = jdf.queryExecution()
            key = self.spark._jvm.System.identityHashCode(qe)
            if key in self._seen_qe:
                return
            self._seen_qe.add(key)
            phases = qe.tracker().phases()
            for ph in CATALYST_PHASES:
                opt = phases.get(ph)
                if opt.isDefined():
                    self.count(f"catalyst.{ph}_s", opt.get().durationMs() / 1000.0)
        except Py4JError:
            pass

    # -- wrapping the engine's entry points -----------------------------

    def install(self, spark) -> None:
        """Wrap the engine's public entry points and the pyspark actions
        with spans. Only a traced run calls this."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        from postgraph_spark import engine, graph
        from postgraph_spark.plans import compiler, parser, writes
        from postgraph_spark.sources import loader

        self.spark = spark
        spans = [
            (engine, "parse", "parser.parse"),
            (parser, "parse", "parser.parse"),
            (compiler.Compiler, "compile_query", "compiler.compile"),
            (engine.CypherEngine, "execute", "engine.dispatch"),
            (engine.CypherEngine, "fetch", "engine.fetch"),
            (writes.WriteRunner, "run", "writes.run"),
            (graph.Graph, "enforce_unique", "graph.enforce_unique"),
            (graph.Graph, "persist_append", "graph.persist_append"),
            (graph.Graph, "persist_partitions", "graph.persist_partitions"),
            (graph.Graph, "persist", "graph.persist"),
            (loader, "load_vertices", "loader.load_vertices"),
            (loader, "load_edges", "loader.load_edges"),
        ]
        for owner, attr, name in spans:
            self._patch(owner, attr, self._spanned(getattr(owner, attr), name))
        for attr in ("collect", "count", "isEmpty", "localCheckpoint", "toPandas"):
            self._patch(DataFrame, attr, self._action(getattr(DataFrame, attr), lambda a: a[0]))
        for attr in ("save", "parquet"):
            self._patch(DataFrameWriter, attr, self._action(getattr(DataFrameWriter, attr), lambda a: a[0]._df))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def _patch(self, owner, attr, fn) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, fn)

    def _spanned(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            if name == "compiler.compile":
                tracer.count("compiler.calls")
            with _Span(tracer, name, {}) as record:
                out = fn(*args, **kwargs)
                record["returned"] = out is not None
            return out

        return wrapper

    def _action(self, fn, frame_of):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            parent = tracer.stack[-1]["name"] if tracer.stack else None
            if parent not in RESULT_PARENTS:
                with _Span(tracer, "spark.eager_action", {}):
                    out = fn(*args, **kwargs)
            else:
                # the result's own jobs go to the "x" group: their stage
                # time against this span's wall is the driver gap
                tracer.set_job_group("x")
                try:
                    with _Span(tracer, "engine.execute", {}):
                        out = fn(*args, **kwargs)
                finally:
                    tracer.set_job_group("p")
            tracer.record_phases(frame_of(args)._jdf)
            return out

        return wrapper

    # -- output ----------------------------------------------------------

    def dump(self, path: str) -> None:
        """Write every span and operation record as JSON lines."""
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps({"type": "span", **rec}) + "\n")
            for rec in self.ops:
                f.write(json.dumps({"type": "op", **rec}) + "\n")


def _file_states(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for base, _dirs, files in os.walk(root):
        for name in files:
            p = os.path.join(base, name)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def job_group_totals(sc, group: str) -> dict[str, float]:
    """Jobs, tasks, stage wall time, shuffle and spill bytes of one job
    group, read from the in-process status store. Every attempt of every
    stage counts (a retried stage's earlier attempts did real work), and
    a stage shared by several jobs counts once."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore().store()
    job_cls = jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
    stage_cls = jvm.java.lang.Class.forName("org.apache.spark.status.StageDataWrapper")
    out = defaultdict(float)
    stage_ids: set[int] = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        out["spark.jobs"] += 1
        sids = store.read(job_cls, jid).info().stageIds()
        stage_ids.update(sids.apply(k) for k in range(sids.size()))
    for sid in stage_ids:
        attempt = 0
        while True:
            key = sc._gateway.new_array(jvm.int, 2)
            key[0], key[1] = sid, attempt
            try:
                info = store.read(stage_cls, key).info()
            except Py4JError:
                break
            first, done = info.firstTaskLaunchedTime(), info.completionTime()
            if first.isDefined() and done.isDefined():
                out["spark.stage_wall_s"] += (done.get().getTime() - first.get().getTime()) / 1000.0
            out["spark.tasks"] += info.numCompleteTasks() + info.numFailedTasks() + info.numKilledTasks()
            out["spark.shuffle_read_bytes"] += info.shuffleReadBytes()
            out["spark.shuffle_write_bytes"] += info.shuffleWriteBytes()
            out["spark.spill_bytes"] += info.diskBytesSpilled()
            attempt += 1
    return dict(out)
