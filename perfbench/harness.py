"""Run state shared by the workloads: the Spark session set-up, timed
operations, failure accounting and the per-layer roll-up of spans."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from typing import Any, Callable

from stats import summarize
from spans import COUNTERS, Tracer, event_log_counters, self_times

# The query mix, query -> family.  One pass must fit the run several
# times over, so each family keeps its cheapest representatives of the
# ROADMAP's sf1 spot set (pagerank, closeness, the minhash, containment
# and incremental near-dup queries, facility location and q9 are left
# out); the relational family is the control for operator-kernel changes.
QUERY_MIX = {
    "adamic_adar_links_suppliers": "graph",
    "jaccard_near_dup_docs": "postings",
    "cosine_topk_embeddings": "vector",
    "q1_pricing_summary": "relational",
    "events_sessionize_30m": "relational",
}
FAMILIES = ("graph", "postings", "vector", "relational")
# layers whose Spark counters are reported, per delta run or query pass
# (merge: per traced CDC batch); a span's layer is the part of its name
# before the first dot, except registry spans, which roll up by query
# family
COUNTER_LAYERS = (
    "pipeline", "sources", "transforms", "sinks", "bookmarks", "merge", "txn",
    *(f"registry.{f}" for f in FAMILIES),
)


def median_or_0(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and its
    live descendants: the JVM and the Python workers it starts."""
    me, tick = os.getpid(), os.sysconf("SC_CLK_TCK")
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue
        f = st[st.rindex(")") + 2:].split()
        parent[int(d)] = int(f[1])
        cpu[int(d)] = sum(int(x) for x in f[11:15]) / tick
    total = 0.0
    for pid, c in cpu.items():
        p = pid
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me:
            total += c
    return total


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 root: str, work: str, cpus: int) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.root, self.work, self.cpus = root, work, cpus
        self.tracer = Tracer()
        self.spark = None
        self.setup_s = 0.0
        self.get_spark_s = 0.0
        # wall seconds and process-tree CPU seconds of untraced operations
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.traced_samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.inputs: dict[str, Any] = {}
        self.counts: dict[str, float] = defaultdict(float)
        self.layer: dict[str, float] = {}

    # -- session -----------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # keep the JVM's scratch files (Derby's log, java.io.tmpdir,
            # hsperfdata) inside the run's work directory
            "spark.driver.extraJavaOptions":
                f"-Dderby.stream.error.file={os.path.join(self.work, 'derby.log')} "
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            events = os.path.join(self.work, "events")
            os.makedirs(events, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def setup(self, t_process: float) -> None:
        """The cold set-up a job pays on every start, from process start:
        JVM launch and ``get_spark``, then one job whose Python UDF needs
        both generated code and the Python workers."""
        from pyspark.sql import functions as F

        from aws_glue_jobs_incremental_database_etl_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{self.workload}",
                          master=f"local[{self.cpus}]", extra_conf=self.spark_conf())
        self.get_spark_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        plus_one = F.udf(lambda x: x + 1, "long")
        got = spark.range(100, numPartitions=self.cpus).select(plus_one("id")).collect()
        if sorted(r[0] for r in got) != list(range(1, 101)):
            raise RuntimeError("session warm-up returned wrong results")
        self.setup_s = time.perf_counter() - t_process
        self.spark = spark
        self.tracer.sc = spark.sparkContext

    def jvm_peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        pid = SparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    # -- timed operations --------------------------------------------------

    def op(self, kind: str, fn: Callable[[], Any], traced: bool = False) -> tuple[bool, Any]:
        """Time ``fn()`` as one operation of ``kind``, in wall seconds and,
        when untraced, process-tree CPU seconds; a raise counts as a failed
        operation.  ``traced`` turns span recording on for it."""
        self.attempted += 1
        self.tracer.enabled = self.trace and traced
        self.tracer.phase = kind
        self.tracer.run = f"{kind}-{len(self.samples[kind]) + len(self.traced_samples[kind])}"
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as e:  # the run goes on; the failure is counted
            traceback.print_exc(file=sys.stderr)
            self.fail(f"{kind}: {type(e).__name__}: {e}", counted=True)
            return False, None
        finally:
            self.tracer.enabled = False
        dt = time.perf_counter() - t0
        if self.trace and traced:
            self.traced_samples[kind].append(dt)
        else:
            self.samples[kind].append(dt)
            self.cpu[kind].append(tree_cpu_s() - c0)
        log(f"{kind} {dt:.3f} s{' traced' if self.trace and traced else ''}")
        return True, out

    def fail(self, problem: str, counted: bool = False) -> None:
        """Record a wrong output (or, with ``counted``, a failed op that
        was already attempted)."""
        log(f"FAIL {problem}")
        self.problems.append(problem)
        self.failed += 1
        if not counted:
            self.attempted += 1

    def check(self, problems: list[str]) -> None:
        """One attempted check; a failure if it found any problem."""
        if problems:
            self.fail("; ".join(problems))
        else:
            self.attempted += 1

    def record_overhead(self) -> None:
        """Tracing overhead: median traced step over median untraced step."""
        traced, untraced = self.traced_samples["step"], self.samples["step"]
        if self.trace and traced and untraced:
            self.layer["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)

    # -- results -----------------------------------------------------------

    def end_to_end(self) -> dict[str, dict[str, Any]]:
        lists = {"first_cpu_s": self.cpu["first"], "step_cpu_p50_s": self.cpu["step"],
                 "floor_cpu_p50_s": self.cpu["floor"]}
        return {"setup_s": {"value": self.setup_s, "unit": "s"},
                **{k: {"value": statistics.median(v), "unit": "s"} for k, v in lists.items() if v}}

    def per_layer(self) -> dict[str, dict[str, Any]]:
        spans = self.tracer.spans
        selfs = self_times(spans)
        # traced operations per phase: every figure is per operation
        n_ops = {ph: max(1, len(self.traced_samples[ph]))
                 for ph in ("first", "step", "floor", "cdc_first", "cdc_step")}
        n_step = n_ops["step"]
        by_phase_name: dict[tuple[str, str], float] = defaultdict(float)
        for s in spans:
            by_phase_name[(s["phase"], s["name"])] += selfs[s["id"]]

        def step_self(prefix: str, phase: str = "step") -> float:
            tot = sum(v for (p, n), v in by_phase_name.items()
                      if p == phase and (n == prefix or n.startswith(prefix + ".")))
            return tot / n_ops[phase]

        def top_calls(prefix: str, phase: str) -> float:
            calls = 0
            for s in spans:
                if s["phase"] != phase or not s["name"].startswith(prefix + "."):
                    continue
                parent = spans[s["parent"]]["name"] if s["parent"] is not None else ""
                if not parent.startswith(prefix + "."):
                    calls += 1
            return calls / n_ops[phase]

        def jobs(phase: str) -> float:
            return sum(c.get("jobs", 0) for (p, _), c in layer_counts.items() if p == phase) / n_ops[phase]

        groups = event_log_counters(os.path.join(self.work, "events"))
        layer_counts: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
        query_jobs: dict[str, float] = defaultdict(float)
        for s in spans:
            c = groups.get(self.tracer.group(s["id"]))
            if not c:
                continue
            layer = s["name"].split(".")[0]
            if layer == "registry":
                q = s["name"].split(".")[1]
                layer = f"registry.{QUERY_MIX.get(q, 'other')}"
                if s["phase"] == "step":
                    query_jobs[q] += c.get("jobs", 0)
            for k, v in c.items():
                layer_counts[(s["phase"], layer)][k] += v

        m: dict[str, tuple[float, str]] = {
            "session.get_spark_s": (self.get_spark_s, "s"),
            # the wall-clock view of the end-to-end operations
            **{f"wall.{k}": (median_or_0(self.samples[kind] or self.traced_samples[kind]), "s")
               for k, kind in (("first_s", "first"), ("step_p50_s", "step"), ("floor_p50_s", "floor"))},
            "session.jvm_peak_rss_mb": (self.layer.get("session.jvm_peak_rss_mb", 0.0), "MB"),
            "trace.overhead_ratio": (self.layer.get("trace.overhead_ratio", 0.0), "ratio"),
            "pipeline.self_s": (step_self("pipeline.run"), "s"),
            "pipeline.spark_jobs_per_table_run": (
                jobs("step") / self.layer["pipeline.tables"] if "pipeline.tables" in self.layer
                else 0.0, "count"),
            "sources.read_table_s": (step_self("sources.read_table"), "s"),
            "transforms.apply_mapping_s": (step_self("transforms.apply_mapping"), "s"),
            "transforms.count_non_nulls_s": (step_self("transforms.count_non_nulls"), "s"),
            "transforms.drop_null_fields_s": (step_self("transforms.drop_null_fields"), "s"),
            "sinks.write_s": (step_self("sinks.write_partitioned"), "s"),
            "sinks.files_written": (self.counts["step.files_written"] / n_step, "count"),
            "sinks.bytes_written": (self.counts["step.bytes_written"] / n_step, "bytes"),
            "catalog.calls": (top_calls("catalog", "step"), "count"),
            "catalog.s": (step_self("catalog"), "s"),
            "catalog.bytes_written": (self.counts["step.catalog.bytes_written"] / n_step, "bytes"),
            "bookmarks.compute_next_s": (step_self("bookmarks.compute_next"), "s"),
            "bookmarks.commit_s": (step_self("bookmarks.commit"), "s"),
            "merge.merge_upsert_s": (step_self("merge.merge_upsert", "cdc_step"), "s"),
            "merge.partitions_rewritten": (
                self.counts["cdc_step.partitions_rewritten"] / n_ops["cdc_step"], "count"),
            "merge.rows_rewritten_per_changed_row": (
                self.counts["cdc_step.rows_rewritten"] / self.counts["cdc_step.rows_changed"]
                if self.counts["cdc_step.rows_changed"] else 0.0, "ratio"),
            "cdc.first_s": (median_or_0(self.traced_samples["cdc_first"]), "s"),
            "cdc.step_s": (median_or_0(self.traced_samples["cdc_step"]), "s"),
            "cdc.sources.read_table_s": (step_self("sources.read_table", "cdc_step"), "s"),
            "cdc.spark_jobs": (jobs("cdc_step"), "count"),
            "txn.commit_s": (step_self("txn.commit"), "s"),
            "txn.recover_pending_s": (step_self("txn.recover_pending"), "s"),
            "poll.pipeline.self_s": (step_self("pipeline.run", "floor"), "s"),
            "poll.catalog.calls": (top_calls("catalog", "floor"), "count"),
            "poll.catalog.s": (step_self("catalog", "floor"), "s"),
            "poll.txn.recover_pending_s": (step_self("txn.recover_pending", "floor"), "s"),
            "poll.spark_jobs": (jobs("floor"), "count"),
            "first.pipeline.self_s": (step_self("pipeline.run", "first"), "s"),
            "first.transforms.count_non_nulls_s": (step_self("transforms.count_non_nulls", "first"), "s"),
            "first.transforms.drop_null_fields_s": (step_self("transforms.drop_null_fields", "first"), "s"),
            "first.sinks.write_s": (step_self("sinks.write_partitioned", "first"), "s"),
            "first.sinks.files_written": (self.counts["first.files_written"] / n_ops["first"], "count"),
            "first.sinks.bytes_written": (self.counts["first.bytes_written"] / n_ops["first"], "bytes"),
            "first.spark_jobs": (jobs("first"), "count"),
            "lake.files": (self.layer.get("lake.files", 0.0), "count"),
            "lake.mb": (self.layer.get("lake.mb", 0.0), "MB"),
        }
        for q in QUERY_MIX:
            m[f"registry.{q}.build_s"] = (step_self(f"registry.{q}.build"), "s")
            m[f"registry.{q}.exec_s"] = (step_self(f"registry.{q}.exec"), "s")
            m[f"registry.{q}.spark_jobs"] = (query_jobs[q] / n_step, "count")
        for fam in FAMILIES:
            qs = [q for q, f in QUERY_MIX.items() if f == fam]
            m[f"registry.{fam}_s"] = (sum(step_self(f"registry.{q}") for q in qs), "s")
        for layer in COUNTER_LAYERS:
            phase = "cdc_step" if layer == "merge" else "step"
            c = layer_counts.get((phase, layer), {})
            m[f"{layer}.spark_jobs"] = (c.get("jobs", 0.0) / n_ops[phase], "count")
            for k in COUNTERS:
                unit = "s" if k.endswith("_s") else ("count" if k == "tasks" else "bytes")
                m[f"{layer}.{k}"] = (c.get(k, 0.0) / n_ops[phase], unit)
        return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}

    def summary(self) -> dict[str, Any]:
        """Every sample list, in run order, with its statistics."""
        lists = {
            "setup_s": [self.setup_s],
            **{kind: v for kind, v in self.samples.items() if v},
            **{f"cpu_{kind}": v for kind, v in self.cpu.items() if v},
            **{f"traced_{kind}": v for kind, v in self.traced_samples.items() if v},
        }
        return {k: {**summarize(v), "values": v} for k, v in lists.items()}
