"""Benchmark entry point: one workload, one process, one JSON result.

    python3 perfbench/run.py --workload pipeline_large --seed 1 --seconds 1 --trace 0

Runs from the root of a checkout, on ``local[<cores>]``, as a closed loop
with one operation in flight. ``--trace 0`` measures the end-to-end
metrics with tracing off. ``--trace 1`` runs one traced pass and reports
the per-layer metrics. The last stdout line is the result;
the line before it is a report with the host facts and raw samples. See
perfbench/README.md for what every metric means.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()  # set-up is timed from (nearly) process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "real_time_weather_data_pipeline_for_philippine_cities_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

#: workload -> (kind, full-scale sizes, tiny-scale sizes for perfbench's own test)
WORKLOADS = {
    "pipeline_large": (
        "pipeline",
        dict(n_locations=42_000, runs=2, drift=0.01),
        dict(n_locations=20, runs=2, drift=0.1),
    ),
    "stream_epochs": (
        "stream",
        dict(n_events=100_000, n_docs=5_000, n_chunks=2),
        dict(n_events=400, n_docs=60, n_chunks=2),
    ),
}


def _environment(work: str) -> None:
    """Everything the run writes stays inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM="3g",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    # Import perfbench as a package, not its files as top-level modules.
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != os.path.dirname(__file__)]


def _workload_class(name: str):
    """Imports only the chosen workload's modules (part of set-up)."""
    if WORKLOADS[name][0] == "pipeline":
        from perfbench.pipeline import PipelineWorkload

        return PipelineWorkload
    from perfbench.stream import StreamWorkload

    return StreamWorkload


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "plans", "pipeline.py")):
        print(f"perfbench: {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    _environment(work)
    load_start = list(os.getloadavg())
    try:
        return _run(args, work, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, load_start: list[float]) -> int:
    from real_time_weather_data_pipeline_for_philippine_cities_spark.session import get_spark

    from perfbench.metrics import end_to_end, per_layer
    from perfbench.tracing import RssPoller, Tracer, host_facts, steal_s, tree_cpu_s

    cls = _workload_class(args.workload)
    sizes = WORKLOADS[args.workload][2 if args.scale == "tiny" else 1]
    with RssPoller() as rss:
        # Set-up, from process start: imports, JVM launch, session, first job.
        t = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).count()
        wl = cls(spark, args.seed, work=work, **sizes)
        setup_wall = time.perf_counter() - _T_START
        setup_cpu = tree_cpu_s(os.getpid())

        passes, tracer = [], Tracer(enabled=bool(args.trace), spark=spark)
        t_measure, steal0 = time.perf_counter(), steal_s()
        while not passes or (not args.trace and time.perf_counter() - t_measure < args.seconds):
            passes.append(wl.run_pass(tracer, salt=len(passes)))
        steal = steal_s() - steal0
        tracer.collect()
        host = host_facts(spark)
        _stop(spark)

    attempted = sum(p.attempted for p in passes)
    failed = sum(p.failed for p in passes)
    host.update(loadavg_start=load_start, loadavg_end=list(os.getloadavg()), steal_s=steal)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "host": host,
        "error_rate": failed / max(attempted, 1),
        "setup_wall_s": setup_wall,
        "setup_cpu_s": setup_cpu,
        "passes": len(passes),
        "first_op_s": [x for p in passes for x in p.first_op_s],
        "op_s": [x for p in passes for x in p.op_s],
        "first_op_cpu_s": [x for p in passes for x in p.first_op_cpu_s],
        "op_cpu_s": [x for p in passes for x in p.op_cpu_s],
        "rows_per_s": sum(p.rows for p in passes) / max(sum(p.pass_s for p in passes), 1e-9),
        "peak_rss_mb": rss.peak_mb,
        "checks_s": sum(p.checks_s for p in passes),
        "wall_s": time.perf_counter() - _T_START,
    }
    if args.trace:
        metrics = per_layer(passes[0], tracer, get_spark_s)
        os.makedirs(OUT, exist_ok=True)
        tracer.dump(os.path.join(OUT, f"spans-{args.workload}-seed{args.seed}.jsonl"))
    else:
        metrics = end_to_end(passes, setup_cpu)
    print(json.dumps(report))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
