"""write_mix: seeded writes interleaved with reads on a durable graph.

Set-up creates a durable graph (a GraphCatalog with a root directory),
declares a unique property index on person.pid and bulk-loads the
generated customers as `person` vertices and orders as `knows` edges
through the loader. The client then sends cycles of CREATE, SET, a
MERGE that matches and sets, and DETACH DELETE, with MATCH reads in
between, until the window closes at a cycle boundary. One cycle takes
longer than a short window, so such a window is a single cycle of cold
statements: the first of each kind after set-up. Its wall is the cold
pass, and op_p50_s is the median of its writes. The benchmark keeps its
own model of the graph: every read is compared with it, and at the end
the graph is reopened from disk through a second catalog and compared
with it in full.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq

import datagen
from common import SETUP_REPEATS, Context, Result, closed_loop, progress

SF = 0.01
GRAPH = "social"
CYCLE = ("create_person", "read", "set", "merge", "detach_delete", "read")


class Model:
    """The expected graph: persons pid -> (name, bal in cents); knows
    edges as a multiset of (src pid, dst pid, since)."""

    def __init__(self, data_dir: str):
        cust = pq.read_table(os.path.join(data_dir, "customer.parquet")).to_pydict()
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pydict()
        n = len(cust["c_custkey"])
        self.persons = {k: (name, round(bal * 100)) for k, name, bal in
                        zip(cust["c_custkey"], cust["c_name"], cust["c_acctbal"])}
        self.edges = Counter(
            (c, (c * 7 + o) % n, o) for c, o in zip(orders["o_custkey"], orders["o_orderkey"])
        )
        self.next_pid = n
        self.read_pid = None

    def pick(self, rng) -> int:
        return rng.choice(sorted(self.persons))

    def statement(self, kind: str, rng) -> tuple[str, object]:
        """The next statement of `kind`, applied to the model; returns
        (text, expected read rows or None)."""
        if kind == "create_person":
            pid, bal = self.next_pid, rng.randrange(500_000)
            self.next_pid += 1
            self.persons[pid] = (f"p{pid}", bal)
            return f"CREATE (:person {{pid: {pid}, name: 'p{pid}', bal: {bal}}})", None
        if kind == "set":
            pid, bal = self.pick(rng), rng.randrange(500_000)
            self.persons[pid] = (self.persons[pid][0], bal)
            return f"MATCH (p:person {{pid: {pid}}}) SET p.bal = {bal}", None
        if kind == "merge":
            pid = self.pick(rng)
            self.persons[pid] = (f"m{pid}", self.persons[pid][1])
            return f"MERGE (p:person {{pid: {pid}}}) SET p.name = 'm{pid}'", None
        if kind == "detach_delete":
            pid = self.pick(rng)
            del self.persons[pid]
            for e in [e for e in self.edges if pid in (e[0], e[1])]:
                del self.edges[e]
            return f"MATCH (p:person {{pid: {pid}}}) DETACH DELETE p", None
        # a cycle's two reads send one text, before and after its writes,
        # so a traced run compares a traced and an untraced read of one text
        if self.read_pid is None:
            pid = self.read_pid = self.pick(rng)
        else:
            pid, self.read_pid = self.read_pid, None
        out = Counter()
        for (a, b, _), n in self.edges.items():
            if a == pid:
                out[b] += n
        text = (f"MATCH (p:person {{pid: {pid}}})-[:knows]->(q:person) "
                "RETURN q.pid AS q, count(*) AS n")
        return text, sorted(out.items())

    def user_bytes(self) -> int:
        """Bytes of the users' own data: the JSON property documents of
        the live persons and edges."""
        people = sum(len(json.dumps({"pid": k, "name": n, "bal": b}))
                     for k, (n, b) in self.persons.items())
        edges = sum(len(json.dumps({"since": s})) * n for (_, _, s), n in self.edges.items())
        return people + edges


def setup(ctx: Context, data_dir: str, root: str):
    """Durable graph + unique index + bulk load; returns (engine, rows dropped)."""
    from pyspark.sql import functions as F

    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import GraphCatalog
    from postgraph_spark.sources import loader

    os.makedirs(root)
    eng = CypherEngine(ctx.spark, GraphCatalog(ctx.spark, root=root))
    for stmt in (f"CREATE GRAPH {GRAPH}", f"USE GRAPH {GRAPH}", "CREATE VLABEL person",
                 "CREATE ELABEL knows", "CREATE UNIQUE PROPERTY INDEX ON person (pid)"):
        eng.execute(stmt)
    read = ctx.spark.read.parquet
    # balances in whole cents: a SET rewrites the property document and
    # brings an integral double back as an integer (see README.md)
    people = read(os.path.join(data_dir, "customer.parquet")).select(
        F.col("c_custkey").alias("pid"), F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal"))
    n_people = people.count()
    loader.load_vertices(eng.graph, "person", people, id_col="pid")
    orders = read(os.path.join(data_dir, "orders.parquet"))
    knows = orders.select(
        F.col("o_custkey").alias("src"),
        ((F.col("o_custkey") * 7 + F.col("o_orderkey")) % n_people).alias("dst"),
        F.col("o_orderkey").alias("since"))
    # the loader numbers rows in one job from offsets counted in another;
    # an endpoint join that adaptive execution turns into a broadcast in
    # one job and not the other breaks its numbering (see README.md), so
    # the load keeps the statically planned joins
    conf = ctx.spark.conf
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        loaded = loader.load_edges(eng.graph, "knows", knows, "src", "dst", "person", "person")
    finally:
        conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    return eng, orders.count() - loaded


def run(ctx: Context) -> Result:
    data = f"{ctx.work}/data"
    datagen.generate(data, ctx.seed, SF)

    setup_s, dropped = [], 0
    for i in range(SETUP_REPEATS):
        root = f"{ctx.work}/graphs-{i}"
        with ctx.tracer.op("setup", phase="setup") as op:
            eng, dropped = setup(ctx, data, root)
        setup_s.append(op.elapsed)
        if i:
            shutil.rmtree(f"{ctx.work}/graphs-{i - 1}")
    graph_dir = os.path.join(root, GRAPH)
    ctx.tracer.watch_dir = graph_dir

    progress("set-up done")
    model = Model(data)
    checks: list[tuple[str, list, list | None]] = []
    by_kind: dict[str, list[float]] = {kind: [] for kind in CYCLE}

    def cycle() -> float:
        start = time.perf_counter()
        for kind in CYCLE:
            text, expected = model.statement(kind, ctx.rng)
            ctx.outcomes.attempt()
            rows = None
            with ctx.tracer.op(kind) as op:
                try:
                    rows = eng.fetch(text)
                except Exception as e:  # a failed statement is counted, not fatal
                    ctx.outcomes.error(f"{kind}: {type(e).__name__}: {str(e)[:200]}")
            by_kind[kind].append(op.elapsed)
            if expected is not None:
                checks.append((text, expected, rows))
        return time.perf_counter() - start

    cycles: list[float] = []
    window = closed_loop(ctx, lambda: cycles.append(cycle()), after_first=ctx.measure_live_heap)
    reads = by_kind.pop("read")
    writes = [t for times in by_kind.values() for t in times]
    progress(f"window done: {len(writes)} writes, {len(reads)} reads")
    check(ctx, root, model, checks)
    stored = sum(os.path.getsize(os.path.join(b, f))
                 for b, _d, files in os.walk(graph_dir) for f in files)
    return Result(
        setup_s=setup_s,
        cold_pass_s=cycles[0],
        op_s=writes,
        ops_done=len(writes) + len(reads),
        window_s=window,
        stored_bytes=stored,
        user_bytes=model.user_bytes(),
        summary=[("write_s", "s", writes), ("mixed_read_s", "s", reads)]
        + [(f"{kind}_s", "s", times) for kind, times in by_kind.items()],
        layers={"loader.rows_dropped": float(dropped)},
    )


def _typed(rows) -> Counter:
    """Rows as a multiset that tells 1637 from 1637.0: a property must
    come back with the type it was written with."""
    return Counter(tuple((type(v).__name__, v) for v in r) for r in rows)


def check(ctx: Context, root: str, model: Model, checks) -> None:
    """Reads against the model as it stood, then the reopened graph
    against the final model."""
    from oracle_harness import canonicalize

    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import GraphCatalog

    for text, expected, rows in checks:
        if rows is not None and _typed(canonicalize(["q", "n"], rows)) != _typed(canonicalize(["q", "n"], expected)):
            ctx.outcomes.mismatch(f"{text}: {rows[:5]} != {expected[:5]}")

    ctx.outcomes.attempt()
    eng = CypherEngine(ctx.spark, GraphCatalog(ctx.spark, root=root))
    eng.execute(f"USE GRAPH {GRAPH}")
    people = eng.fetch("MATCH (p:person) RETURN p.pid AS pid, p.name AS name, p.bal AS bal")
    want = [(k, n, b) for k, (n, b) in model.persons.items()]
    cols = ["pid", "name", "bal"]
    got, exp = _typed(canonicalize(cols, people)), _typed(canonicalize(cols, want))
    if got != exp:
        ctx.outcomes.mismatch(f"reopened persons differ from the model: unexpected "
                              f"{list((got - exp).elements())[:3]}, missing "
                              f"{list((exp - got).elements())[:3]}")
    edges = eng.fetch("MATCH (a:person)-[e:knows]->(b:person) RETURN a.pid, b.pid, e.since")
    if Counter(map(tuple, edges)) != model.edges:
        ctx.outcomes.mismatch(f"reopened knows edges differ: {len(edges)} rows, "
                              f"model {sum(model.edges.values())}")
