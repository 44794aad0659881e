"""Benchmark entry point: one workload, one seed, one fresh Spark process.

    python3 perfbench/run.py --workload etl_cycle --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. It builds the
workload's inputs from the seed under ``.perfbench/`` in the checkout,
runs a closed loop with one client for at least ``--seconds`` seconds,
checks the program's outputs (untimed) and prints a report. The run's
files stay under ``.perfbench/``. The last line of standard output is one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's public calls in spans and reports the per-layer metrics instead
(see README.md). ``--size tiny`` shrinks every input for the smoke tests.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("etl_cycle", "gate_read", "lakehouse_mix")
PACKAGE = "w4h_etl_container_spark"

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "round_p50_s": "s",
}
PER_LAYER = {
    "jobs_per_round": "count",
    "job_ms_per_round": "ms",
    "driver_gap_ms_per_round": "ms",
    "build_ms_per_round": "ms",
    "scan_bytes_per_round": "bytes",
    "shuffle_bytes_per_round": "bytes",
    "core_busy_ratio": "ratio",
}


def process_start_epoch() -> float:
    """Wall-clock time this process was started (before the interpreter
    loaded anything), from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1])
    return 0


def pin_host(root: str, work: str, trace: bool) -> dict:
    """Host settings the program needs here, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the serve sink's foreachPartition runs program code in Python workers
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the session's default 8g heap grows far past what these inputs need;
    # a fixed-size heap keeps the JVM's footprint from depending on when
    # the collector chose to grow it
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["TMPDIR"] = tmp
    # JVM temp files go to the work directory; its perf-data file would
    # go to the system temp directory, so it is not written at all
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The traced run reads jobs and stages back from the UI's REST API.
    # Untraced runs turn the UI off: its shutdown alone takes seconds after
    # a few hundred jobs, which only lengthens the run.
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false --conf spark.driver.extraJavaOptions=-Xms2g "
        f"--conf spark.ui.enabled={str(trace).lower()} pyspark-shell"
    )
    return {"nproc": cpus}


def versions(spark) -> dict:
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    return {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "jdk": f"{system.getProperty('java.vendor')} {system.getProperty('java.version')}",
    }


def stop_spark(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    t_start = process_start_epoch()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)

    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    host = pin_host(root, work, bool(args.trace))
    os.chdir(work)  # spark-warehouse and other cwd-relative droppings stay here

    import workloads
    from spans import Tracer

    from w4h_etl_container_spark.session import get_spark

    ctx = workloads.Ctx(
        seed=args.seed,
        seconds=args.seconds,
        size=args.size,
        work=work,
        t_start=t_start,
    )
    spark = get_spark(f"perfbench-{args.workload}")
    try:
        ctx.spark = spark
        ctx.tracer = Tracer(spark, enabled=bool(args.trace))
        jvm_pid = spark.sparkContext._gateway.proc.pid
        host.update(versions(spark))
        getattr(workloads, args.workload)(ctx)
        t_checked = time.time()
        rss_py, rss_jvm = peak_rss_kb(os.getpid()) / 1024.0, peak_rss_kb(jvm_pid) / 1024.0
    finally:
        stop_spark(spark)
        os.chdir(root)
        # The work directory stays: deleting a run's few hundred files took
        # 1-4 s on a busy disk, time the run budget has no room for.
    t_end = time.time()

    ctx.report["setup_s"] = (ctx.setup_done - t_start, "s", 1)
    ctx.report["peak_rss_mb"] = (rss_py + rss_jvm, "MB", 1)
    ctx.report["heap_live_mb"] = (statistics.median(ctx.heap_live_mb), "MB", len(ctx.heap_live_mb))
    ctx.report["failed_op_ratio"] = (ctx.failed / max(ctx.attempted, 1), "ratio", ctx.attempted)

    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "size": args.size, **host}
    print("perfbench " + json.dumps(info, sort_keys=True))
    print(f"phases: setup {ctx.setup_done - t_start:.1f} s, timed {ctx.timed_done - ctx.setup_done:.1f} s, "
          f"checks {t_checked - ctx.timed_done:.1f} s, stop {t_end - t_checked:.1f} s; "
          f"peak rss: python {rss_py:.0f} MB, jvm {rss_jvm:.0f} MB")
    for name, (value, unit, n) in ctx.report.items():
        print(f"metric {name} = {value:.6g} {unit} (n={n})")
    for msg in ctx.failures[:20]:
        print(f"check FAILED: {msg}")
    print(f"checks: {ctx.attempted - ctx.failed} of {ctx.attempted} ops correct")
    if args.trace:
        for name, value in sorted(ctx.layers.items()):
            print(f"layer {name} = {value:.6g}")
        print("layers " + json.dumps(ctx.layers, sort_keys=True))

    wanted = PER_LAYER if args.trace else END_TO_END
    source = ctx.per_layer if args.trace else {k: v[0] for k, v in ctx.report.items()}
    metrics = {name: {"value": source[name], "unit": unit} for name, unit in wanted.items()}
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
