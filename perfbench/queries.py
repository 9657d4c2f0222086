"""The ``query_mix_sf001`` workload: a fixed mix of registry queries, one
client in a closed loop; in a timed pass each query is timed from the
call to the end of its ``noop`` write.

The tables are generated at sf0.01 (15k orders).  At sf1 a warm pass of
the full twelve-query spot set took about 159 s on a 4-core host, more
than a whole run may take, so this workload measures the per-query fixed
cost (planning, job scheduling, Python workers) more than the operator
kernels' throughput."""

from __future__ import annotations

import json
import os
import time

import checks
import gen
from harness import QUERY_MIX as MIX
from harness import Bench, tree_cpu_s

QUERY_SF = 0.01
WARMUP_PASSES = 1
MIN_PASSES = 3


def _data_dir(b: Bench) -> str:
    """Generated tables for this seed, cached under the benchmark's data
    directory (they are inputs, never written by the program)."""
    d = os.path.join(b.root, "perfbench", ".data", f"query-sf{QUERY_SF}-seed{b.seed}")
    if not os.path.exists(os.path.join(d, "_OK")):
        info = gen.write_tables(gen.make_tables(b.seed, QUERY_SF), d)
        with open(os.path.join(d, "_inputs.json"), "w") as fh:
            json.dump(info, fh)
        open(os.path.join(d, "_OK"), "w").close()
    with open(os.path.join(d, "_inputs.json")) as fh:
        b.inputs.update(json.load(fh))
    return d


def _oracle_hashes(d: str, oracles: dict[str, str]) -> dict[str, str]:
    """DuckDB oracle hash per query, cached next to the data."""
    path = os.path.join(d, "_oracle.json")
    if os.path.exists(path):
        with open(path) as fh:
            cached = json.load(fh)
        if set(cached) == set(MIX):
            return cached
    import duckdb

    con = duckdb.connect()
    try:
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{d}/{t}.parquet'")
        hashes = {q: checks.arrow_hash(con.execute(oracles[q]).fetch_arrow_table()) for q in MIX}
    finally:
        con.close()
    with open(path, "w") as fh:
        json.dump(hashes, fh)
    return hashes


def query_mix(b: Bench) -> None:
    import __spark_entry__ as entry

    t0 = time.perf_counter()
    d = _data_dir(b)
    b.inputs["generate_s"] = time.perf_counter() - t0
    queries = {q: entry.queries()[q] for q in MIX}

    def one_pass(outputs: dict | None = None) -> tuple[dict[str, float], dict[str, float]]:
        """Run the mix once; each query ends in a ``noop`` write or, when
        ``outputs`` is given, in a collect kept there for the check.
        Returns wall and CPU seconds per query family."""
        fam_s = dict.fromkeys(MIX.values(), 0.0)
        fam_cpu = dict.fromkeys(MIX.values(), 0.0)
        for q, fn in queries.items():
            c = tree_cpu_s()
            t = time.perf_counter()
            with b.tracer.span(f"registry.{q}.build"):
                df = fn(b.spark, d)
            with b.tracer.span(f"registry.{q}.exec"):
                if outputs is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    outputs[q] = df.toArrow()
            fam_s[MIX[q]] += time.perf_counter() - t
            fam_cpu[MIX[q]] += tree_cpu_s() - c
        return fam_s, fam_cpu

    # The first pass runs in a cold session and is timed as ``first``; it
    # collects every output to check it against the oracle.
    outputs: dict = {}
    ok, _ = b.op("first", lambda: one_pass(outputs), traced=True)
    if ok:
        want = _oracle_hashes(d, entry.oracle_sql())
        for q in MIX:
            got = checks.arrow_hash(outputs[q])
            b.check([] if got == want[q] else [f"{q}: output hash differs from its DuckDB oracle"])

    # the CPU time of a pass still falls while the JVM compiles code, so
    # one more pass runs before the timed ones
    for _ in range(WARMUP_PASSES):
        ok = ok and b.op("warmup_step", one_pass)[0]
    deadline = time.perf_counter() + b.seconds
    i = 0
    while ok and (i < MIN_PASSES or time.perf_counter() < deadline):
        traced = b.trace and i % 2 == 1
        ok, fam = b.op("step", one_pass, traced=traced)
        if ok and not traced:
            b.samples["floor"].append(fam[0]["relational"])
            b.cpu["floor"].append(fam[1]["relational"])
        i += 1
    b.record_overhead()
