"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream,queries} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints a line describing the host, a line
of per-workload detail, and as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
With ``--trace 1`` the spans and the full per-layer table are written to
``perfbench/.work/trace-<workload>-<seed>.json``. Everything the run
writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_MEM = "2g"

# How many CPUs each workload's process tree (this driver, the Spark
# JVM, its Python workers) runs on. On a shared virtual machine a thread
# woken on an idle vCPU waits for the hypervisor to run that vCPU, and
# the more vCPUs a run keeps idle, the more such waits it has. A cold
# pass of short queries is a chain of wake-ups: on four vCPUs it took
# from 2.0 s to 4.1 s depending on how busy the host was, and on one
# vCPU the interquartile range of ten runs was under a tenth of their
# median. `stream` needs two to keep up with its offered load; on four,
# its latency rose by up to a quarter whenever the host got busy.
WORKLOAD_CPUS = {"stream": 2, "queries": 1}


def pin_environment(work: str, n_cpus: int) -> dict:
    """Fix the host-dependent settings before Spark starts. Spark's
    Python workers inherit this environment, so PYTHONPATH must name
    the repository root for them to import the program. The process,
    and so everything it starts, is confined to the first ``n_cpus``
    CPUs it may use, and Spark is sized for them."""
    all_cpus = set(os.sched_getaffinity(0))
    os.sched_setaffinity(0, set(sorted(all_cpus)[:n_cpus]))
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "PYTHONPATH": os.pathsep.join([ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
        # Every JVM, the launcher's too: no hsperfdata in the system temp directory.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {"cpus": cpus, "all_cpus": sorted(all_cpus), "driver_mem": DRIVER_MEM, "python": sys.version.split()[0]}


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the Spark JVM plus this Python driver."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort, then wait again
            proc.kill()
            proc.wait(timeout=30)


def layer_metrics(run, tracer, names: list[str]) -> dict[str, float]:
    """Every per-layer metric in ``names``; a layer the workload does not
    touch reports zero for its counts."""
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    self_s = tracer.self_times()
    out = {
        "session.get_spark_s": self_s.get("session.get_spark", 0.0),
        "registry.load_all_s": self_s.get("registry.load_all", 0.0),
        "op.build_ms": med(run.build_ms),
        "op.exec_ms": med(run.exec_ms),
        "op.exchanges": med(run.exchanges),
        "cache.clear_ms": med(run.clear_ms),
        "trace.overhead_ms": tracer.overhead_s * 1000,
        "trace.spans": len(tracer.spans),
    }
    out.update(run.layers)
    return {k: out.get(k, 0) for k in names}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(WORKLOAD_CPUS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "kafka_to_parquet_spark", "__init__.py")):
        print(f"perfbench: the program (kafka_to_parquet_spark/) is not next to {HERE}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)  # metric names and units

    # On SIGTERM, unwind through the finally below so the JVM is stopped
    # and the run directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
    host = pin_environment(work, WORKLOAD_CPUS[args.workload])
    sys.path[:0] = [ROOT, HERE]
    print(json.dumps({"host": host, "workload": args.workload, "seed": args.seed,
                      "seconds": args.seconds, "trace": args.trace}), flush=True)

    from spans import Tracer

    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        t_setup = time.perf_counter()
        with tracer.span("session.get_spark"):
            from kafka_to_parquet_spark.session import get_spark

            spark = get_spark("perfbench")
        tracer.spark = spark
        with tracer.span("registry.load_all"):
            from kafka_to_parquet_spark import registry

            registry.load_all()
        import workloads

        run = workloads.Run(spark=spark, tracer=tracer, work=work, cache_dir=WORK,
                            seed=args.seed, seconds=args.seconds, setup_s=time.perf_counter() - t_setup,
                            all_cpus=set(host["all_cpus"]))
        workloads.WORKLOADS[args.workload](run)
        setup_s = run.setup_s
        rss = peak_rss_mb(spark)
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    run.detail.update({"setup_s": setup_s, "peak_rss_mb": rss, "latency_ms": run.latency_ms,
                       "failed_ops_ratio": run.failed / max(run.attempted, 1),
                       "problems": run.problems[:10]})
    print(json.dumps({"detail": run.detail}), flush=True)
    if args.trace:
        values = layer_metrics(run, tracer, [m["name"] for m in spec["per_layer"]])
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"),
                    {"per_layer": values, "detail": run.detail})
        declared = spec["per_layer"]
    else:
        values = {"setup_s": setup_s, "latency_ms": run.latency_ms}
        declared = spec["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    correct = run.attempted > 0 and not run.problems
    print(json.dumps({"correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
