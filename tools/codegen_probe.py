#!/usr/bin/env python
"""Codegen probe: Janino compiles, JIT milliseconds and JVM Metaspace per
pass of a repeated workload in one long-lived session.

    python tools/codegen_probe.py query_mix --passes 6 --seed 11
    python tools/codegen_probe.py etl --passes 6 --seed 11
    python tools/codegen_probe.py query_mix --root /path/to/checkout --out probe.json

``query_mix`` runs the five-query mix of perfbench's ``query_mix_sf001``
workload on its seeded sf0.01 tables; the first pass collects each output
(as the workload's checked pass does) and every later pass ends each query
in a ``noop`` write.  ``etl`` runs the workload ``etl_incremental``'s file
job: pass 0 is the first load, every later pass a 1% delta run.  The
session is built the way ``perfbench/run.py`` builds it (``local[cpus/2]``,
2 GB driver).

Per pass it records the Janino compile count (Spark's ``CodegenMetrics``
counter: one per codegen-cache miss), the JIT milliseconds
(``CompilationMXBean``), wall and process-tree CPU seconds; after the last
pass, the session's codegen cache size and the JVM's Metaspace.  ``--root``
picks the checkout whose engine is imported, so one script measures two
commits the same way.  Prints one JSON record; ``--out`` also writes it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def counters(spark) -> tuple[int, int]:
    """(janino compiles, JIT ms) so far.  Read through py4j here rather
    than ``session.jvm_compile_counters`` so the probe also runs against
    a checkout that lacks that helper."""
    jvm = spark._jvm
    return (
        int(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()),
        int(jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime()),
    )


def metaspace_mb(spark) -> float:
    for pool in spark._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans():
        if pool.getName() == "Metaspace":
            return pool.getUsage().getUsed() / 2**20
    return float("nan")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=("query_mix", "etl"))
    ap.add_argument("--passes", type=int, default=6)
    ap.add_argument("--seed", type=int, default=11)
    ap.add_argument("--root", default=os.path.dirname(HERE))
    ap.add_argument("--out")
    args = ap.parse_args(argv)

    root = os.path.abspath(args.root)
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    work = tempfile.mkdtemp(prefix="codegen_probe_")
    os.makedirs(os.path.join(work, "spark-local"))
    os.makedirs(os.path.join(work, "tmp"))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
    })
    time.tzset()
    sys.path[:0] = [root, os.path.join(root, "perfbench")]

    import etl
    import queries
    from harness import QUERY_MIX, Bench, tree_cpu_s

    b = Bench(f"codegen_probe_{args.workload}", args.seed, 0.0, False, root, work, cpus)
    passes = []
    try:
        b.setup(time.perf_counter())
        spark = b.spark
        if args.workload == "query_mix":
            import __spark_entry__ as entry

            d = queries._data_dir(b)
            fns = {q: entry.queries()[q] for q in QUERY_MIX}

            def run_pass(i: int) -> None:
                for q, fn in fns.items():
                    df = fn(spark, d)
                    if i == 0:
                        df.toArrow()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        else:
            files = etl.FileSource(b)
            job = files.job(os.path.join(work, "files"))
            if args.passes > files.n_chunks:
                raise SystemExit(f"etl has {files.n_chunks} chunks, asked for {args.passes} passes")

            def run_pass(i: int) -> None:
                want = files.write_chunk(i)
                got = {t: r.rows_written for t, r in job.run(False).items()}
                if got != want:
                    raise RuntimeError(f"pass {i}: rows written {got}, expected {want}")

        for i in range(args.passes):
            c0, t0, k0 = tree_cpu_s(), time.perf_counter(), counters(spark)
            run_pass(i)
            k1 = counters(spark)
            passes.append({
                "compiles": k1[0] - k0[0],
                "jit_ms": k1[1] - k0[1],
                "wall_s": round(time.perf_counter() - t0, 3),
                "cpu_s": round(tree_cpu_s() - c0, 3),
            })
            print(f"[codegen_probe] pass {i}: {passes[-1]}", file=sys.stderr, flush=True)
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "spark_cpus": cpus,
            "codegen_cache_max_entries": int(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
            "passes": passes,
            "metaspace_mb": round(metaspace_mb(spark), 1),
        }
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    line = json.dumps(record)
    print(line)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
