"""Per-layer metrics of a traced run, derived from the tracer's spans and
per-operation counters.

Statement-path metrics are means per traced operation of the measured
window: span self times, Spark job and stage totals, Catalyst phase
times and code-generation fallbacks. Set-up metrics are medians over the
run's set-ups. The self times, with `tracing.unattributed_s` (the part
of each traced operation no layer span covers), add up to
`tracing.traced_op_s`, the traced operations' mean wall time.
"""

from __future__ import annotations

import statistics
from collections import Counter, defaultdict

from stats import overhead_ratio, plan_cache_hit_ratio, self_times

#: spans whose self time is reported as `<name>_s`
SPAN_LAYERS = (
    "parser.parse", "compiler.compile", "engine.dispatch", "engine.fetch",
    "engine.execute", "spark.eager_action", "writes.run", "graph.enforce_unique",
    "graph.persist_append", "graph.persist_partitions", "graph.persist",
)
#: per-operation counters: (name, unit)
COUNTERS = (
    ("compiler.calls", "count"),
    ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("catalyst.codegen_fallbacks", "count"),
    ("spark.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.stage_wall_s", "s"),
    ("spark.shuffle_read_bytes", "B"),
    ("spark.shuffle_write_bytes", "B"),
    ("spark.spill_bytes", "B"),
    ("graph.bytes_written", "B"),
    ("graph.files_written", "count"),
)
#: set-up spans whose duration (median over set-ups) is reported as `<name>_s`
SETUP_SPANS = ("graph.build", "loader.load_vertices", "loader.load_edges")


def per_layer(tracer, result) -> dict[str, tuple[float, str]]:
    out: dict[str, tuple[float, str]] = {}
    window = [o for o in tracer.ops if o["phase"] == "window" and o["traced"]]
    n = max(1, len(window))
    ids = {o["op"] for o in window}
    spans = [s for s in tracer.spans if s["op"] in ids]

    selft = self_times(spans)
    others = sorted(set(selft) - set(SPAN_LAYERS) - {"client.op"})
    for name in SPAN_LAYERS + tuple(others):
        out[f"{name}_s"] = (selft.get(name, 0.0) / n, "s")

    counts: Counter = Counter()
    for o in window:
        for key, v in o["counts"].items():
            counts[key.split("@")[0]] += v
            counts[key] += v
    for name, unit in COUNTERS:
        out[name] = (counts[name] / n, unit)
    executed = sum(s["end"] - s["start"] for s in spans if s["name"] == "engine.execute")
    out["spark.driver_gap_s"] = ((executed - counts["spark.stage_wall_s@x"]) / n, "s")
    out["engine.plan_cache_hit_ratio"] = (plan_cache_hit_ratio(spans), "ratio")

    setups = [o["op"] for o in tracer.ops if o["phase"] == "setup"]
    for name in SETUP_SPANS:
        per_setup = defaultdict(float)
        for s in tracer.spans:
            if s["name"] == name and s["op"] in setups:
                per_setup[s["op"]] += s["end"] - s["start"]
        out[f"{name}_s"] = (statistics.median([per_setup[i] for i in setups]) if setups else 0.0, "s")
    out["graph.cached_bytes"] = (result.layers.get("graph.cached_bytes", 0.0), "B")
    out["loader.rows_dropped"] = (result.layers.get("loader.rows_dropped", 0.0), "count")

    traced, untraced = defaultdict(list), defaultdict(list)
    for o in tracer.ops:
        if o["phase"] == "window":
            (traced if o["traced"] else untraced)[o["kind"]].append(o["elapsed"])
    ratio = overhead_ratio(traced, untraced)
    out["tracing.overhead_ratio"] = (ratio if ratio is not None else 0.0, "ratio")
    out["tracing.unattributed_s"] = (selft.get("client.op", 0.0) / n, "s")
    out["tracing.traced_op_s"] = (sum(o["elapsed"] for o in window) / n, "s")
    out["tracing.traced_ops"] = (float(len(window)), "count")
    return out


def batch_rows(tracer, rows) -> dict[str, tuple[float, str]]:
    """Per batch row: build and execute time, eager jobs fired during
    build, executed stage wall time and shuffle bytes. Medians over the
    row's traced warm executions, or its cold one when no warm execution
    was traced."""
    out: dict[str, tuple[float, str]] = {}
    by_op = defaultdict(dict)
    for s in tracer.spans:
        if s["name"] in ("queries.build", "queries.exec"):
            by_op[s["op"]][s["name"]] = s["end"] - s["start"]
    for row in rows:
        ops = [o for o in tracer.ops if o["kind"] == row and o["traced"] and o["phase"] == "window"]
        ops = ops or [o for o in tracer.ops if o["kind"] == row and o["traced"]]

        def med(values):
            return statistics.median(values) if values else 0.0

        c = [o["counts"] for o in ops]
        out[f"queries.{row}.build_s"] = (med([by_op[o["op"]].get("queries.build", 0.0) for o in ops]), "s")
        out[f"queries.{row}.build_jobs"] = (med([x.get("spark.jobs@b", 0.0) for x in c]), "count")
        out[f"queries.{row}.exec_s"] = (med([by_op[o["op"]].get("queries.exec", 0.0) for o in ops]), "s")
        out[f"queries.{row}.stage_wall_s"] = (med([x.get("spark.stage_wall_s@x", 0.0) for x in c]), "s")
        out[f"queries.{row}.shuffle_bytes"] = (med([
            x.get("spark.shuffle_read_bytes@x", 0.0) + x.get("spark.shuffle_write_bytes@x", 0.0)
            for x in c]), "B")
    return out
