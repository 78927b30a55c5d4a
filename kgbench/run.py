"""Benchmark runner for the knowledge-graph pipeline.

    python3 kgbench/run.py --workload build|ingest --seed N --seconds S --trace 0|1

Run from the repository root. Generates the seeded inputs (cached under
``kgbench/.work/cache``), pins the Spark deployment through the environment,
sets up, runs the workload's operations back to back until ``--seconds`` of
timed work has accumulated, checks every operation against its oracle, and
prints one JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` enables Spark's event log and the span
recorder and reports the per-layer metrics instead, writing the spans to
``kgbench/.work/traces/``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # process start, for setup_s

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
DRIVER_MEMORY = "2g"  # one driver JVM per run; leaves the box's RAM to spare


def pin_deployment(run_dir: str, trace: bool) -> dict:
    """Fix every deployment setting the package reads from the environment,
    so that nothing in the caller's environment changes what is measured."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    for var in list(os.environ):
        if var.startswith("SPARK_GRAFT_") or var == "PYSPARK_SUBMIT_ARGS":
            del os.environ[var]
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_GENERATED": os.path.join(run_dir, "generated"),
        # initial heap = max heap, so resident memory follows the program's
        # allocations rather than the collector's heap-growth decisions
        "SPARK_GRAFT_JAVA_OPTS": (
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        ),
        "TMPDIR": tmp,
        # the Python workers of applyInPandasWithState import the package
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false pyspark-shell"
        )
    os.environ.update(env)
    return env


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait until it has
    exited. The gateway JVM exits when its stdin closes; its Python
    workers end with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        return run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def run(args, run_dir: str) -> int:
    trace = bool(args.trace)
    env = pin_deployment(run_dir, trace)
    cores = int(env["SPARK_GRAFT_CPUS"])

    import pyspark

    import tracing as tr
    import workloads as W
    from codepropertygraph_spark.session import get_spark
    from stats import tail

    tracer = tr.Tracer(trace)
    cache = os.path.join(WORK, "cache")
    os.makedirs(cache, exist_ok=True)
    spark = None
    ctx = W.Context(None, run_dir, cache, args.seed, tracer)
    workload = W.WORKLOADS[args.workload](ctx)
    try:
        spark = get_spark(app_name=f"kgbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        ctx.spark = spark
        workload.setup()
        setup_s = time.monotonic() - T_START - ctx.bench_s

        ops: list = []
        attempted = 0
        measured = 0.0
        while attempted == 0 or (
            measured < args.seconds and attempted < workload.max_ops
        ):
            tracer.op = f"op{attempted}"
            op = W.run_op(workload, attempted)
            attempted += 1
            measured += op.seconds
            ops.append(op)
            tracer.op = None
        good = [op for op in ops if op.ok]
        rss = tr.peak_rss_mb(os.getpid())
        layers = workload.layer_metrics(ops) if trace else {}
    finally:
        if spark is not None:
            stop_jvm(spark)

    samples = [op.seconds for op in ops]
    cpu = [op.cpu_s for op in ops]
    ref_cpu = statistics.median(op.ref_cpu_s for op in ops)
    tail_v, tail_pct, tail_rule = tail(samples)
    metrics = {
        "setup_s": (setup_s, "s"),
        "cpu_ref_p50_s": (ref_cpu, "s"),
        "success_rate": (len(good) / attempted, "ok/attempted"),
        "peak_rss_mb": (rss, "MB"),
    }
    if trace:
        windows = [(op.start, op.start + op.seconds) for op in ops]
        layers.update(tr.engine_counters(os.path.join(run_dir, "eventlog"),
                                         windows, cores))
        layers["traced.latency_p50_s"] = statistics.median(samples)
        layers["traced.cpu_p50_s"] = statistics.median(cpu)
        layers["traced.cpu_ref_p50_s"] = ref_cpu
        layers["host.steal_s"] = statistics.median(op.steal_s for op in ops)
        layers["host.loop_ms"] = statistics.median(op.loop_ms for op in ops)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "layers": layers},
        )
        metrics = {k: (layers.get(k, 0.0), u) for k, u in W.PER_LAYER.items()}

    details = {
        "workload": args.workload,
        "seed": args.seed,
        "samples": len(samples),
        "latency_s": samples,
        "latency_tail_s": tail_v,
        "cpu_s": cpu,
        "loop_ms": [op.loop_ms for op in ops],
        "steal_s": [op.steal_s for op in ops],
        "throughput_per_cpu_ref_s": sum(op.turns for op in good)
        / sum(op.ref_cpu_s for op in ops),
        "tail_percentile": tail_pct,
        "tail_rule_met": tail_rule,
        "checks": [op.detail for op in ops if not trace] or None,
        "loadavg": os.getloadavg(),
        "nproc": cores,
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "deployment": {k: v for k, v in env.items() if k != "PYSPARK_SUBMIT_ARGS"},
    }
    print(json.dumps({"details": details}, default=str))
    print(json.dumps({
        "correct": len(good) == attempted
        and not workload.probe_failures,
        "attempted": attempted,
        "failed": attempted - len(good),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
