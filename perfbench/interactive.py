"""interactive_cypher: one closed-loop client sending seeded Cypher reads
to the cached TPC-H property graph.

Eight templates cover 1-hop, 2-hop, OPTIONAL MATCH, WITH/ORDER BY/LIMIT,
aggregation, bounded variable-length paths, UNWIND and a point lookup.
Statements go in cycles: each template once with fresh literals (a
plan-cache miss), and, from the second cycle on, three resent earlier
texts (plan-cache hits), 3 of every 11 statements. The first cycle, all
fresh, is the cold pass. The JVM is still warming up after it (the next
cycle takes about half again as long as the one after), so one more
cycle runs unmeasured before the window; the window closes on a cycle
boundary, and one window cycle is one sample of op_p50_s (the statement
latencies are reported too). Every template has a DuckDB twin; results are compared
after the window.
"""

from __future__ import annotations

import time

import datagen
from common import GRAPH_TABLES, Context, Result, cached_bytes, closed_loop, progress, setup_tpch_graph

SF = 0.01

#: name -> (Cypher, DuckDB twin, result columns)
TEMPLATES = {
    "one_hop": (
        "MATCH (c:customer)-[:placed]->(o:orders) WHERE c.c_custkey = {ck} "
        "RETURN o.o_orderkey AS okey, o.o_totalprice AS price",
        "SELECT o_orderkey AS okey, o_totalprice AS price FROM orders WHERE o_custkey = {ck}",
        ["okey", "price"],
    ),
    "two_hop": (
        "MATCH (c:customer)-[:placed]->(o:orders)-[:contains]->(p:part) "
        "WHERE c.c_custkey = {ck} RETURN p.p_brand AS brand, count(*) AS n",
        "SELECT p.p_brand AS brand, count(*) AS n FROM orders o "
        "JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
        "JOIN part p ON p.p_partkey = l.l_partkey WHERE o.o_custkey = {ck} GROUP BY p.p_brand",
        ["brand", "n"],
    ),
    # counts a property of the optional vertex: count(o) over a miss
    # reads 1 in the engine (README.md, engine defects)
    "optional": (
        "MATCH (c:customer) WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} "
        "OPTIONAL MATCH (c)-[:placed]->(o:orders) WHERE o.o_totalprice > {price} "
        "RETURN c.c_custkey AS ck, count(o.o_orderkey) AS n",
        "SELECT c.c_custkey AS ck, count(o.o_orderkey) AS n FROM customer c "
        "LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_totalprice > {price} "
        "WHERE c.c_custkey >= {lo} AND c.c_custkey < {hi} GROUP BY c.c_custkey",
        ["ck", "n"],
    ),
    "top_k": (
        "MATCH (c:customer) WHERE c.c_mktsegment = '{seg}' "
        "WITH c ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT {k} "
        "RETURN c.c_custkey AS ck, c.c_acctbal AS bal",
        "SELECT c_custkey AS ck, c_acctbal AS bal FROM customer WHERE c_mktsegment = '{seg}' "
        "ORDER BY c_acctbal DESC, c_custkey LIMIT {k}",
        ["ck", "bal"],
    ),
    "aggregate": (
        "MATCH (c:customer)-[:placed]->(o:orders) "
        "WHERE o.o_orderpriority = '{pri}' AND o.o_totalprice < {price} "
        "RETURN c.c_mktsegment AS seg, count(*) AS n, round(sum(o.o_totalprice), 2) AS rev",
        "SELECT c.c_mktsegment AS seg, count(*) AS n, round(sum(o.o_totalprice), 2) AS rev "
        "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey "
        "WHERE o.o_orderpriority = '{pri}' AND o.o_totalprice < {price} GROUP BY c.c_mktsegment",
        ["seg", "n", "rev"],
    ),
    "vle": (
        "MATCH (c:customer)-[*1..2]->(x) WHERE c.c_custkey = {ck} "
        "RETURN label(x) AS l, count(*) AS n",
        "SELECT l, count(*) AS n FROM ("
        "SELECT 'orders' AS l FROM orders WHERE o_custkey = {ck} "
        "UNION ALL SELECT 'nation' FROM customer WHERE c_custkey = {ck} "
        "UNION ALL SELECT 'part' FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey "
        "WHERE o.o_custkey = {ck}) GROUP BY l",
        ["l", "n"],
    ),
    "unwind": (
        "UNWIND [{k1}, {k2}, {k3}] AS k MATCH (c:customer) WHERE c.c_custkey = k "
        "RETURN k, c.c_name AS name",
        "SELECT c_custkey AS k, c_name AS name FROM customer WHERE c_custkey IN ({k1}, {k2}, {k3})",
        ["k", "name"],
    ),
    "point": (
        "MATCH (o:orders) WHERE o.o_orderkey = {ok} "
        "RETURN o.o_totalprice AS price, o.o_orderstatus AS status",
        "SELECT o_totalprice AS price, o_orderstatus AS status FROM orders WHERE o_orderkey = {ok}",
        ["price", "status"],
    ),
}


def literals(rng, name: str, sizes: dict[str, int]) -> dict:
    nc, no = sizes["customer"], sizes["orders"]
    if name in ("one_hop", "two_hop", "vle"):
        return {"ck": rng.randrange(nc)}
    if name == "optional":
        lo = rng.randrange(nc - 10)
        return {"lo": lo, "hi": lo + 10, "price": rng.randrange(100_000, 400_000)}
    if name == "top_k":
        return {"seg": rng.choice(datagen.SEGMENTS), "k": rng.randrange(3, 12)}
    if name == "aggregate":
        return {"pri": rng.choice(datagen.PRIORITIES), "price": rng.randrange(50_000, 500_000)}
    if name == "unwind":
        k1, k2, k3 = rng.sample(range(nc), 3)
        return {"k1": k1, "k2": k2, "k3": k3}
    return {"ok": rng.randrange(no)}


#: statements per cycle that resend an earlier text; with 8 fresh ones
#: the median statement latency falls inside one template's block of
#: fresh latencies (the third cheapest) instead of in a gap between two
REPEATS_PER_CYCLE = 3


class Stream:
    """The statement stream, in cycles: every cycle sends each template
    once with fresh literals (cannot hit the plan cache); every cycle
    after the first also resends REPEATS_PER_CYCLE earlier texts of
    rotating templates (can hit it)."""

    def __init__(self, rng, sizes):
        self.rng, self.sizes = rng, sizes
        self.sent: dict[str, list[dict]] = {name: [] for name in TEMPLATES}
        self.cycles = 0

    def cycle(self) -> list[tuple[str, dict, bool]]:
        names = list(TEMPLATES)
        out = []
        for name in names:
            lits = literals(self.rng, name, self.sizes)
            self.sent[name].append(lits)
            out.append((name, lits, False))
        if self.cycles:
            for i in range(REPEATS_PER_CYCLE):
                name = names[(REPEATS_PER_CYCLE * self.cycles + i) % len(names)]
                out.append((name, self.rng.choice(self.sent[name][:-1]), True))
        self.cycles += 1
        return out


def run(ctx: Context) -> Result:
    from postgraph_spark.engine import CypherEngine
    from postgraph_spark.graph import GraphCatalog

    data = f"{ctx.work}/data"
    sizes = datagen.generate(data, ctx.seed, SF)
    graph, data_dir, setup_s = setup_tpch_graph(ctx, data)
    catalog = GraphCatalog(ctx.spark)
    catalog.register(graph)
    eng = CypherEngine(ctx.spark, catalog)

    stream = Stream(ctx.rng, sizes)
    done: list[tuple[str, dict, list | None]] = []
    latencies: list[float] = []
    hit_latencies: list[float] = []

    def cycle(phase: str) -> float:
        start = time.perf_counter()
        for name, lits, repeat in stream.cycle():
            text = TEMPLATES[name][0].format(**lits)
            ctx.outcomes.attempt()
            rows = None
            with ctx.tracer.op(f"{name}:{'repeat' if repeat else 'fresh'}", phase) as op:
                try:
                    rows = eng.fetch(text)
                except Exception as e:  # a failed statement is counted, not fatal
                    ctx.outcomes.error(f"{name}: {type(e).__name__}: {str(e)[:200]}")
            done.append((name, lits, rows))
            if phase == "window":
                latencies.append(op.elapsed)
                if repeat:
                    hit_latencies.append(op.elapsed)
        return time.perf_counter() - start

    progress("set-up done")
    cold = cycle("cold")
    ctx.measure_live_heap()
    progress("cold pass done")
    cycle("warmup")
    cycles: list[float] = []
    window = closed_loop(ctx, lambda: cycles.append(cycle("window")))
    progress(f"window done: {len(latencies)} statements")
    check(ctx, data_dir, done)

    stored = cached_bytes(ctx.spark)
    return Result(
        setup_s=setup_s,
        cold_pass_s=cold,
        op_s=cycles,
        ops_done=len(latencies),
        window_s=window,
        stored_bytes=stored,
        user_bytes=datagen.input_bytes(data_dir, GRAPH_TABLES),
        summary=[
            ("read_s", "s", latencies),
            ("read_repeat_s", "s", hit_latencies),
            ("read_qps", "1/s", [len(latencies) / window]),
        ],
        layers={"graph.cached_bytes": float(stored)},
    )


def check(ctx: Context, data_dir: str, done) -> None:
    """Compare every answered statement with its DuckDB twin."""
    from oracle_harness import canonicalize, duckdb_conn

    con = duckdb_conn(data_dir)
    expected: dict[str, list] = {}
    try:
        for name, lits, rows in done:
            if rows is None:
                continue
            _, sql, cols = TEMPLATES[name]
            sql = sql.format(**lits)
            if sql not in expected:
                expected[sql] = canonicalize(cols, con.execute(sql).fetchall())
            if canonicalize(cols, rows) != expected[sql]:
                ctx.outcomes.mismatch(f"{name} {lits}: {rows[:3]} != {expected[sql][:3]}")
    finally:
        con.close()
