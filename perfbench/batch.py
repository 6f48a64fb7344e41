"""batch_pipeline: passes over ten registered whole-corpus queries.

Each row is built (the registered function: parse, compile, DataFrame
construction and any eager jobs it fires) and executed into Spark's noop
sink. The first pass is the cold pass; its results are also collected,
outside the timing, and compared with the row's registered DuckDB
oracle. Warm passes then repeat until the window closes; one warm pass
is one sample of op_p50_s. The graph rows share the TPC-H graph the
set-up cached.
"""

from __future__ import annotations

import datagen
from common import GRAPH_TABLES, Context, Result, cached_bytes, closed_loop, progress, setup_tpch_graph

SF = 0.01
ROWS = (
    "dedup_minhash_lsh_pairs",
    "dedup_jaccard_pairs",
    "exactsubstr_spans",
    "semdedup_prune",
    "perplexity_buckets",
    "hits_dupgraph",
    "adamic_adar_linkpred",
    "graph_vle_deep",
    "cypher_window_topn",
    "q5_region_revenue",
)


def run(ctx: Context) -> Result:
    from postgraph_spark.queries import QUERIES

    data = f"{ctx.work}/data"
    datagen.generate(data, ctx.seed, SF)
    _graph, data_dir, setup_s = setup_tpch_graph(ctx, data)
    tracer = ctx.tracer

    def execute(row: str, phase: str):
        ctx.outcomes.attempt()
        df = None
        with tracer.op(row, phase) as op:
            try:
                with tracer.span("queries.build", row=row):
                    tracer.set_job_group("b")
                    df = QUERIES[row](ctx.spark, data_dir)
                with tracer.span("queries.exec", row=row):
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed row is counted, not fatal
                ctx.outcomes.error(f"{row}: {type(e).__name__}: {str(e)[:200]}")
                df = None
        return op.elapsed, df

    progress("set-up done")
    answers = {}
    cold = 0.0
    for row in ROWS:
        elapsed, df = execute(row, "cold")
        cold += elapsed
        if df is not None:
            answers[row] = (df.columns, [tuple(r) for r in df.collect()])

    ctx.measure_live_heap()
    progress("cold pass done")
    passes: list[float] = []
    window = closed_loop(ctx, lambda: passes.append(sum(execute(r, "window")[0] for r in ROWS)))
    progress(f"window done: {len(passes)} passes")
    check(ctx, data_dir, answers)

    stored = cached_bytes(ctx.spark)
    return Result(
        setup_s=setup_s,
        cold_pass_s=cold,
        op_s=passes,
        ops_done=len(passes) * len(ROWS),
        window_s=window,
        stored_bytes=stored,
        user_bytes=datagen.input_bytes(data_dir, GRAPH_TABLES),
        summary=[("batch_wall_s", "s", passes), ("batch_first_pass_s", "s", [cold])],
        layers={"graph.cached_bytes": float(stored)},
    )


def check(ctx: Context, data_dir: str, answers: dict) -> None:
    """Compare each row's cold-pass result with its registered oracle."""
    from oracle_harness import canonicalize, duckdb_conn

    from postgraph_spark.queries import ORACLES

    con = duckdb_conn(data_dir)
    try:
        for row, (cols, rows) in answers.items():
            res = con.execute(ORACLES[row])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            if sorted(cols) != sorted(ocols):
                ctx.outcomes.mismatch(f"{row}: columns {sorted(cols)} != {sorted(ocols)}")
            elif canonicalize(cols, rows) != canonicalize(ocols, orows):
                ctx.outcomes.mismatch(f"{row}: {len(rows)} rows differ from the oracle's {len(orows)}")
    finally:
        con.close()
