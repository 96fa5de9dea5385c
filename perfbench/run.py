#!/usr/bin/env python3
"""renoir_spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload floor_mix --seed 7 --seconds 15 --trace 0

Run from the repository root. Each workload is a closed loop with one
client on ``local[nproc]``: the next operation starts only after the
previous one's complete result has been computed and checked. With
``--trace 0`` the last stdout line holds the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` it holds the per-layer metrics,
derived from the benchmark's own spans and Spark's status stores. The
line before it is a detail record: the host, the workload-specific
figures and their sample counts. Generated inputs, spans and Spark's
scratch files stay under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def driver_heap_mb() -> int:
    """A quarter of physical RAM, capped at 4 GiB: the host's memory is
    shared, and the sf0.1 workloads peak far below the cap."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal"))
                 .split()[1])
    return max(1024, min(4096, kb // 4 // 1024))


def start_spark(cpus: int, heap_mb: int):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers must import renoir_spark from this checkout, and
    # every temp file (Python's, the JVM's, Spark's) stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mb}m")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads jobs/stages/executions back from the
        # status stores; keep a whole run's worth
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched (Python workers are
    its children), and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=60)


def canary_s(spark) -> float:
    """A fixed JVM aggregate, timed in the run. Recorded as a metric of
    the host's state; never used to rescale another metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(2_000_000).select(
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_003)))).collect()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def host_record(spark, args, heap_mb: int, extra: dict) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    jvm = spark._jvm.java.lang.System
    return {
        "cpus": os.cpu_count(),
        "nproc": len(os.sched_getaffinity(0)),
        "driver_heap_mb": heap_mb,
        "seed": args.seed,
        "workload": args.workload,
        "git_commit": commit,
        "spark": spark.version,
        "java": jvm.getProperty("java.version"),
        "python": platform.python_version(),
        **extra,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test must be importable from the checkout;
    # fail fast (before any JVM starts) when it is not there
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import renoir_spark
        from renoir_spark import suite  # noqa: F401
    except ImportError as e:
        _fail(f"cannot import renoir_spark from {ROOT}: {e}")
    if os.path.dirname(os.path.abspath(renoir_spark.__file__)) != \
            os.path.join(ROOT, "renoir_spark"):
        _fail(f"renoir_spark was imported from {renoir_spark.__file__}, "
              f"not from {ROOT}")
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}")

    cpus = len(os.sched_getaffinity(0))
    heap_mb = driver_heap_mb()
    ticks0 = cpu_ticks()
    t_setup = time.perf_counter()
    spark = start_spark(cpus, heap_mb)
    session_s = time.perf_counter() - t_setup
    try:
        res = workloads.WORKLOADS[args.workload](
            spark, seed=args.seed, seconds=args.seconds,
            trace=bool(args.trace), work=os.path.join(WORK, args.workload))
        res.setup_s += session_s
        canary = canary_s(spark)
        rss = res.peak_rss_mb
        ticks1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests during the run:
        # recorded to explain a slow run, never used to rescale
        res.host["steal_frac"] = ((ticks1[0] - ticks0[0])
                                  / max(1, ticks1[1] - ticks0[1]))
        host = host_record(spark, args, heap_mb, res.host)
    finally:
        stop_spark(spark)

    detail = {
        "host": host,
        "canary_s": {"value": canary, "unit": "s"},
        "session_s": {"value": session_s, "unit": "s"},
        "workload_metrics": res.detail,
        "failures": res.failures[:20],
    }
    print(json.dumps(detail, default=str))
    if args.trace:
        metrics = res.per_layer
    else:
        metrics = {
            "setup_s": {"value": res.setup_s, "unit": "s"},
            "wall_s": {"value": res.wall_s, "unit": "s"},
            "op_geomean_s": {"value": res.op_geomean_s, "unit": "s"},
            "peak_rss_mb": {"value": rss, "unit": "MB"},
        }
    ok = res.failed == 0 and res.attempted > 0
    print(json.dumps({"correct": ok, "attempted": res.attempted,
                      "failed": res.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
