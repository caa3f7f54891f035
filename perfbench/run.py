"""Benchmark of the navi_spark engine through its public API.

    python3 perfbench/run.py --workload crawl|search --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. Builds the workload's inputs from the
seed, drives ``CrawlEngine`` / ``QueryEngineServer`` in a closed loop for
``--seconds``, checks every output against a reference, and prints one
JSON object as the last line of stdout. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes the
full trace under ``.perfbench_work/``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")


def make_spark(work: str, trace: bool):
    """local[min(4, nproc) / 2] session; spill, scratch and temp files stay
    under `work`. navi_spark reaches the Python workers via PYTHONPATH,
    which the JVM passes on to every worker it forks."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    # half the vCPUs run tasks: the JVM's compiler and GC threads, the
    # Python workers and the driver use the rest. With a task slot per
    # vCPU the same wave used ~40% more CPU time, spent contending.
    cores = max(1, min(4, os.cpu_count() or 1) // 2)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("navi-perfbench")
        .config("spark.driver.memory", "1g")
        # a heap committed and touched up front, so peak memory measures
        # what the run adds on top of it, not when the heap happened to
        # grow; two compiler threads (one C1, one C2) that never exit, so
        # procstat can leave JIT time out of the CPU metrics; no
        # perf-data file in /tmp
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms1g -XX:+AlwaysPreTouch "
                "-XX:CICompilerCount=2 "
                "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if trace:
        # the REST API of the UI is the source of per-job-group stage
        # metrics; the perf profiler gives per-UDF Python time
        b = (
            b.config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.ui.retainedExecutions", "100")
            .config("spark.sql.pyspark.udf.profiler", "perf")
        )
    else:
        b = b.config("spark.ui.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl", "search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny = smoke-test inputs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "navi_spark")):
        print(f"navi_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads
    from procstat import PeakMemory
    from tracing import Tracer

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    spark = None
    try:
        with PeakMemory() as mem:
            spark = make_spark(work, bool(args.trace))
            tracer = Tracer(spark) if args.trace else None
            res = workloads.run(
                spark, args.workload, args.seed, args.seconds, args.size,
                os.path.join(work, "tables"), tracer,
            )
            res.e2e["peak_rss_mb"] = (mem.peak_mb, "MB")
        attempted, failed = res.attempted, res.failed
        print(f"[perfbench] {args.workload} seed={args.seed}: "
              f"attempted={attempted} failed={failed} "
              f"error_rate={failed / max(attempted, 1):.4f} "
              f"samples={res.samples} phases_s="
              f"{ {k: round(v, 1) for k, v in res.phases.items()} }",
              flush=True)
        print("[perfbench] wall clock: " + ", ".join(
            f"{k[5:]}={v:.6g}" for k, v in sorted(res.counts.items())
            if k.startswith("wall_")), flush=True)
        if args.trace:
            metrics = tracer.per_layer(res)
            path = os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json")
            tracer.dump(path, args.workload, args.seed, res,
                        os.path.join(WORK, f"e2e-{args.workload}.json"))
            print(f"[perfbench] trace written to {path}", flush=True)
        else:
            metrics = res.e2e
            with open(os.path.join(WORK, f"e2e-{args.workload}.json"),
                      "w") as f:
                json.dump({"seed": args.seed, "metrics": res.e2e}, f)
        for name, (value, unit) in sorted(metrics.items()):
            print(f"[perfbench]   {name} = {value:.6g} {unit}", flush=True)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u}
                        for n, (v, u) in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
