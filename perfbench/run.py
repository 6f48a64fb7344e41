"""The repository benchmark: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload interactive_cypher --seed 1 --seconds 30 --trace 0

Each run starts a fresh Python process and JVM (the engine's plan cache
and graph cache start empty), generates its inputs from --seed, sets up,
runs a cold pass, then measures a closed-loop window of --seconds, and
checks every output against an independent reference after the window.
Untraced (--trace 0) it reports the end-to-end metrics; traced
(--trace 1) it reports the per-layer metrics. The last line of standard
output is one JSON object: {"correct", "attempted", "failed", "metrics"}.
The exit code is non-zero when any output mismatched or failed.

All scratch files (generated tables, Spark local dirs, durable graphs,
logs) live under .perfbench_work/ in the current directory.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_cypher", "batch_pipeline", "write_mix")
MAX_CPUS = 4
MAX_DRIVER_GB = 3

END_TO_END = {
    "setup_s": "s",
    "live_heap_mb": "MB",
    "op_p50_s": "s",
    "cold_pass_s": "s",
    "stored_bytes_per_user_byte": "B/B",
}


def host_settings() -> dict:
    """local[N] and driver memory sized to this host."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    ram_gb = mem_kb / 1024 / 1024
    return {
        "nproc": cpus,
        "ram_gb": round(ram_gb, 1),
        "local_n": min(MAX_CPUS, cpus),
        "driver_memory": f"{max(1, min(MAX_DRIVER_GB, int(ram_gb // 4)))}g",
        "python": platform.python_version(),
    }


def prepare_env(work: str, host: dict) -> None:
    """Point every scratch location of Spark, the JVM and Python into the
    work directory, and size the session through SPARK_GRAFT_*."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    java_opts = " ".join([
        f"-Dlog4j2.configurationFile=file:{os.path.join(HERE, 'log4j2.properties')}",
        f"-Dperfbench.codegen.log={os.path.join(work, 'codegen.log')}",
        f"-Djava.io.tmpdir={tmp}",
        "-XX:-UsePerfData",
    ])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host["local_n"]),
        "SPARK_GRAFT_DRIVER_MEM": host["driver_memory"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"),
            "pyspark-shell",
        ]),
    })


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its workers have exited."""
    from pyspark import SparkContext

    from common import descendants

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def end_to_end(result, heap_mb: float) -> dict[str, float]:
    return {
        "setup_s": statistics.median(result.setup_s),
        "live_heap_mb": heap_mb,
        "op_p50_s": statistics.median(result.op_s),
        "cold_pass_s": result.cold_pass_s,
        "stored_bytes_per_user_byte": result.stored_bytes / result.user_bytes,
    }


def print_summary(workload: str, host: dict, result, e2e: dict, rss_mb: float, outcomes,
                  layer_metrics=None) -> None:
    """Human-readable lines: host facts, then every metric by name with
    its unit, median, sample count and the highest supported percentile."""
    from stats import summarize

    print("host " + json.dumps(host, sort_keys=True))
    samples = {"setup_s": result.setup_s, "op_p50_s": result.op_s}
    rows = [(name, END_TO_END[name], samples.get(name, [v])) for name, v in e2e.items()]
    rows += [("peak_rss_mb", "MB", [rss_mb]),
             ("ops_per_s", "1/s", [result.ops_done / result.window_s])]
    rows += result.summary
    rows += [("failed_ratio", "ratio", [outcomes.failed_ratio])]
    for name, unit, values in rows:
        if not values:
            print(f"metric {workload} {name} unit={unit} n=0")
            continue
        s = summarize(values)
        tail = " ".join(f"{k}={v:.6g}" for k, v in s.items() if k.startswith("p"))
        print(f"metric {workload} {name} unit={unit} median={s['median']:.6g} n={s['n']} {tail}".rstrip())
    for name, m in (layer_metrics or {}).items():
        print(f"layer {workload} {name} unit={m['unit']} value={m['value']:.6g}")
    for what in outcomes.errors + outcomes.mismatches:
        print(f"failure {workload} {what}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    try:
        import postgraph_spark.engine  # noqa: F401  (the program under test)
        import oracle_harness  # noqa: F401  (the reference comparison)
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.abspath(".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = host_settings()
    prepare_env(work, host)

    import layers
    from common import Context, PeakRss, progress
    from tracing import Tracer

    from postgraph_spark.session import get_spark

    spark = None
    try:
        with PeakRss() as rss:
            spark = get_spark("perfbench", cpus=host["local_n"])
            spark.range(1).write.format("noop").mode("overwrite").save()
            host.update(
                spark=spark.version,
                java=spark.sparkContext._jvm.System.getProperty("java.version"),
                workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
            )
            progress("session up")
            tracer = Tracer(bool(args.trace))
            if args.trace:
                tracer.codegen_log = os.path.join(work, "codegen.log")
                tracer.install(spark)
            ctx = Context(spark, tracer, args.seed, args.seconds, work)
            module = __import__({"interactive_cypher": "interactive", "batch_pipeline": "batch",
                                 "write_mix": "write_mix"}[args.workload])
            result = module.run(ctx)
            progress("checked")
        e2e = end_to_end(result, ctx.live_heap_mb)
        if args.trace:
            tracer.uninstall()
            tracer.dump(os.path.join(base, f"trace-{args.workload}.jsonl"))
            found = layers.per_layer(tracer, result)
            if args.workload == "batch_pipeline":
                found.update(layers.batch_rows(tracer, module.ROWS))
            metrics = {name: {"value": v, "unit": unit} for name, (v, unit) in found.items()}
        else:
            metrics = {name: {"value": v, "unit": END_TO_END[name]} for name, v in e2e.items()}
        print_summary(args.workload, host, result, e2e, rss.mb, ctx.outcomes,
                      metrics if args.trace else None)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    out = ctx.outcomes
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
