#!/usr/bin/env python3
"""Benchmark of the incremental ETL engine: one workload per process.

    python3 perfbench/run.py --workload etl_incremental --seed 1 --seconds 10 --trace 0

Workloads: ``etl_incremental`` and ``query_mix_sf001`` (see ``BENCHMARK.json``).
With ``--trace 0`` the last stdout line is the end-to-end metrics; with
``--trace 1`` it is the per-layer metrics of a traced run.

``setup_s`` is wall-clock time; the other end-to-end times are the CPU
seconds (user + system) that this process and its descendants (the JVM
and its Python workers) spend on an operation.  On a shared guest the
hypervisor hands the guest's cpus to its neighbours for a varying share
of the time (1-17% from one run to the next on a 4-cpu guest), which
moved wall-clock medians by up to 2x between runs, while CPU seconds,
which leave the stolen time out, moved by about a tenth.  The wall-clock
medians are kept in every record and in the traced run's ``wall.*``
metrics.  Every run also leaves a full record (samples with their
counts, inputs, host load, versions, spans) under ``perfbench/results/``,
named by time, workload, seed and pid so no run overwrites another.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import datetime as dt  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("etl_incremental", "query_mix_sf001")


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_jiffies() -> list[int]:
    """The host-wide ``cpu`` line of ``/proc/stat`` (user, nice, system,
    idle, iowait, irq, softirq, steal, ...); empty where there is none."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def host_info(jiffies0: list[int]) -> dict:
    """Host facts for the record; ``steal_share`` is the share of CPU time
    the hypervisor gave to other guests since ``jiffies0``, a sign of a
    run slowed by its neighbours."""
    def git_commit() -> str:
        head = os.path.join(ROOT, ".git", "HEAD")
        if not os.path.exists(head):
            return "unknown"
        ref = open(head).read().strip()
        if ref.startswith("ref: "):
            p = os.path.join(ROOT, ".git", ref[5:])
            return open(p).read().strip() if os.path.exists(p) else ref[5:]
        return ref

    import pyspark

    delta = [b - a for a, b in zip(jiffies0, cpu_jiffies())]
    t0 = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i
    return {
        # a fixed pure-Python loop: its time tracks how fast the host ran
        "py_loop_s": time.perf_counter() - t0,
        "load1_5_15": list(os.getloadavg()),
        "steal_share": delta[7] / sum(delta) if len(delta) > 7 and sum(delta) else None,
        "cpus": len(os.sched_getaffinity(0)),
        "spark_version": pyspark.__version__,
        "python": sys.version.split()[0],
        "git_commit": git_commit(),
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    jiffies0 = cpu_jiffies()
    # Spark gets half the cpus.  With a task thread on every cpu, the
    # tasks compete with the JVM's JIT and GC threads, the driver and the
    # Python workers, and with the neighbours of a shared guest: on a
    # 4-cpu guest the same query pass took 6.2-10.1 s with 4 task threads
    # against 5.1-5.8 s with 2.
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    stamp = dt.datetime.now(dt.timezone.utc).strftime("%Y%m%dT%H%M%S.%fZ")
    name = f"{stamp}_{args.workload}_seed{args.seed}_trace{args.trace}_{os.getpid()}"
    work = os.path.join(HERE, ".work", name)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()
    sys.path[:0] = [ROOT, HERE]
    try:
        import __spark_entry__  # noqa: F401
        import aws_glue_jobs_incremental_database_etl_spark  # noqa: F401
        import checks  # noqa: F401  (needs tools/check_oracle.py)
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    import etl
    import queries
    from harness import Bench, log

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, work, cpus)
    workload = {"etl_incremental": etl.etl_incremental, "query_mix_sf001": queries.query_mix}[args.workload]
    try:
        b.setup(T_PROCESS)
        log(f"set-up {b.setup_s:.3f} s")
        t_run = time.perf_counter()
        workload(b)
        wall = time.perf_counter() - t_run
        if b.trace:
            b.layer["session.jvm_peak_rss_mb"] = b.jvm_peak_rss_mb()
        b.spark.stop()
        metrics = b.per_layer() if b.trace else b.end_to_end()
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "spark_cpus": cpus, "workload_wall_s": wall, "attempted": b.attempted,
            "failed": b.failed, "problems": b.problems, "metrics": metrics,
            "samples": b.summary(), "inputs": b.inputs, "host": host_info(jiffies0),
        }
        results = os.path.join(HERE, "results")
        os.makedirs(results, exist_ok=True)
        with open(os.path.join(results, name + ".json"), "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        if b.trace:
            b.tracer.dump(os.path.join(results, name + ".spans.json"))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": b.failed == 0, "attempted": b.attempted, "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


def stop_jvm() -> None:
    """Stop the session and the JVM that PySpark launched, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
