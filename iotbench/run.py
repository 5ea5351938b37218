"""IoT stream benchmark of striot_spark: one workload, one seed, one run.

    python3 iotbench/run.py --workload taxi_replay --seed 1 --seconds 16 --trace 0

Runs from the root of a checkout of the repository. It starts a Spark
session on local[<cores>] (SPARK_GRAFT_CPUS, default: the cores this
process may use), generates the workload's inputs from the seed, runs
the workload for about ``--seconds``, checks every result against a
reference, and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones (``END_TO_END``);
with ``--trace 1`` they are the per-layer ones (``PER_LAYER``) and the
spans go to .iotbench_out/. The line before it is a report with every
end-to-end figure, the error rate and the latency sample count, in both
modes. Exits 1 when a result differs from its reference.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
}

# Metrics of a layer a workload does not call read 0 on that workload.
PER_LAYER = {
    "session.start_ms": "ms",
    "session.warmup_ms": "ms",
    "mem.peak_rss_mb": "MiB",
    "sources.scan_ms": "ms",
    "sources.rows_in": "count",
    "sources.valid_ratio": "ratio",
    "functions.topk_ms": "ms",
    "functions.topk.rows_out": "count",
    "operators.lag_filter_ms": "ms",
    "out.rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.cpu_busy_ratio": "ratio",
    "spark.task_skew": "ratio",
    "streaming.batches": "count",
    "streaming.batch.data_ratio": "ratio",
    "streaming.batch.rows_p50": "count",
    "streaming.batch.trigger_ms_p50": "ms",
    "streaming.batch.add_ms_p50": "ms",
    "streaming.batch.planning_ms_p50": "ms",
    "streaming.batch.commit_ms_p50": "ms",
    "streaming.batch.offset_ms_p50": "ms",
    "streaming.batch.idle_ms": "ms",
    "operators.state.update_ms": "ms",
    "operators.state.commit_ms": "ms",
    "operators.state.rows": "count",
    "operators.state.rows_updated": "count",
    "operators.state.mem_bytes": "bytes",
    "streaming.source.lag_end_s": "s",
    "gen.late_ms_p99": "ms",
    "sink.rows": "count",
    "sink.ms": "ms",
}

def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _env(work: Path) -> None:
    """Keep Spark's and Python's temporary files inside the run directory."""
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # both JVMs (launcher and driver): no /tmp/hsperfdata, temp files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"


def _session(work: Path, trace: bool):
    from striot_spark.session import get_spark

    conf = {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    spark = get_spark(app_name="iotbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark) -> None:
    """A first job: task scheduling, codegen and the JIT of the scan and
    aggregate paths. Python workers start in each workload's own
    warm-up."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()


def setup(work: Path, trace: bool, tracer) -> tuple:
    """Start and warm the session, cold: from process start, with the
    interpreter's imports and the JVM launch. Returns (spark, set-up s,
    start ms, warm-up ms)."""
    with tracer.span("session.get_spark"):
        spark = _session(work, trace)
    t_ready = time.perf_counter()
    with tracer.span("session.warmup"):
        _warm_up(spark)
    t_warm = time.perf_counter()
    return (
        spark,
        t_warm - T_PROCESS,
        (t_ready - T_PROCESS) * 1000.0,
        (t_warm - t_ready) * 1000.0,
    )


def _stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def parse_args(argv=None):
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    sys.path.insert(0, str(HERE))
    sys.path.insert(1, str(ROOT))
    args = parse_args(argv)
    # on SIGTERM, still stop the JVM and remove the run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".iotbench_work" / f"run-{os.getpid()}"
    _env(work)

    import workloads
    from tracing import RssSampler, SparkRest, Tracer

    trace = bool(args.trace)
    tracer = Tracer(trace, f"{args.workload}-{args.seed}-{os.getpid()}")
    spark = None
    try:
        with RssSampler() if trace else contextlib.nullcontext() as rss:
            spark, setup_s, start_ms, warm_ms = setup(work, trace, tracer)
            ctx = workloads.Ctx(
                spark=spark,
                seed=args.seed,
                seconds=args.seconds,
                work=str(work),
                tracer=tracer,
                rest=SparkRest(spark) if trace else None,
            )
            with tracer.span(f"workload.{args.workload}"):
                res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass

    e2e = {"setup_s": setup_s, **res.end_to_end()}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
        "end_to_end": {k: [v, END_TO_END[k]] for k, v in e2e.items()},
        "error_rate": [res.failed / res.attempted, "ratio"],
        "run_s": res.run_s,
        **res.notes,
    }
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(res.per_layer)
        layers.update(
            {
                "session.start_ms": start_ms,
                "session.warmup_ms": warm_ms,
                "mem.peak_rss_mb": rss.peak_mb,
            }
        )
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        out = ROOT / ".iotbench_out" / f"{args.workload}-seed{args.seed}"
        tracer.dump(f"{out}-spans.json")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    correct = res.failed == 0
    print("report " + json.dumps(report))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
