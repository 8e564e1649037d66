#!/usr/bin/env python3
"""Benchmark of the near-real-time warehouse loop: how soon newly landed
data is in the star schema and in a query's answer, through streaming
ingest and through star rebuilds, measured end to end and, in a traced
run, layer by layer.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 20 --trace 0

Run it from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``). The line before it holds the workload's own
named figures. A full record (configuration, every metric, spans and
self times) is written to ``perfbench/work/results/``; ``report.py``
turns records into a self-time table and the tracing overhead. The exit
code is 0 only when every output was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
UNSET = 0.0  # per-layer value of a layer the workload does not exercise


def _environment(work: str, cores: int) -> None:
    """Give the session ``cores`` task slots and keep every file it writes
    inside ``work``. Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_UI": "1",  # the monitoring REST API serves the Spark counters
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        # The program defaults to a 16g driver heap; the benchmark's inputs
        # need far less, and a smaller cap keeps the JVM's footprint small
        # on a host shared with other processes.
        "SPARK_DRIVER_MEMORY": "3g",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def _stop(spark) -> None:  # noqa: ANN001
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest_trickle", "olap_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import near_real_time_data_warehouse_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    t_main = time.perf_counter()
    # Half the cores this process may use run Spark tasks; the rest stay
    # free for the driver's own threads (Python, the JVM's planner, JIT and
    # GC), which bound these small batches and queries.
    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus // 2)
    work = os.path.join(HERE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, cores)

    import pyspark
    import workloads
    from probes import (ProgressLog, SparkCounters, Tracer, cpu_ticks, median, self_times,
                        steal_frac, vm_hwm_mb)

    ticks = cpu_ticks()

    from near_real_time_data_warehouse_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    with tracer.span("session.get_spark"):
        t = time.perf_counter()
        spark = get_spark("perfbench")
        start_s = time.perf_counter() - t
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid  # noqa: SLF001
        progress = ProgressLog()
        spark.streams.addListener(progress)
        ctx = workloads.Context(spark=spark, work=work, seed=args.seed, seconds=args.seconds,
                                tracer=tracer, progress=progress,
                                counters=SparkCounters(spark.sparkContext))
        ctx.setup["session"] = start_s
        if args.trace:
            workloads.trace_load_star_batch(ctx)
        workloads.RUNNERS[args.workload](ctx)
        ctx.layer["process.peak_rss_mb"] = vm_hwm_mb() + vm_hwm_mb(jvm_pid)
        ctx.e2e["setup_s"] = sum(ctx.setup.values())
        ctx.layer["session.start_s"] = start_s
        ctx.layer["etl.read_star_ms_p50"] = median(ctx.read_star_ms)
        for name, ms in ctx.queries.items():
            ctx.layer[f"analysis.{name[:3]}.ms_p50"] = median(ms)
            ctx.layer[f"analysis.{name[:3]}.jobs"] = median(ctx.query_jobs.get(name, []))
        t_stop = time.perf_counter()
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    ctx.detail["stop_s"] = time.perf_counter() - t_stop
    ctx.detail["run_s"] = time.perf_counter() - t_main
    ctx.detail["host_steal_frac"] = steal_frac(ticks, cpu_ticks())

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = ctx.layer if args.trace else ctx.e2e
    metrics = {}
    for m in wanted:
        name, value = m["name"], values.get(m["name"])
        if value is None and workloads.exercises(args.workload, name):
            ctx.problems.append(f"metric {name} was not measured")
        metrics[name] = {"value": float(UNSET if value is None else value), "unit": m["unit"]}
    correct = not ctx.problems
    ctx.detail["failed_frac"] = ctx.failed / ctx.attempted if ctx.attempted else 0.0
    result = {"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed,
              "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "cores": cores, "spark_version": pyspark.__version__,
        "params": workloads.PARAMS.get(args.workload, {}), "setup": ctx.setup,
        "end_to_end": ctx.e2e, "detail": ctx.detail, "per_layer": ctx.layer,
        "problems": ctx.problems, "result": result,
    }
    if args.trace:
        record["self_times"] = self_times(tracer.spans)
        record["spans"] = tracer.spans
    results = os.path.join(HERE, "work", "results")
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump(record, f, default=str)

    for p in ctx.problems:
        print(f"perfbench: WRONG: {p}", file=sys.stderr)
    print(json.dumps({k: record[k] for k in ("workload", "seed", "cpus", "cores", "spark_version",
                                             "params", "setup", "detail")}))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
