"""Spans around the engine's layer boundaries, and Spark counters per span.

The benchmark records spans only from its own code: in a traced run it
wraps the functions ``pipeline.py`` imports, the catalog and bookmark
objects it hands to the pipeline, ``merge.merge_upsert`` and the
``txn`` entry points.  Each span sets a Spark job group, so the Spark
event log (enabled only for traced runs) attributes every job, stage
and task to the innermost span that launched it.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from typing import Any

COUNTERS = ("tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "executor_cpu_s")


class Tracer:
    """In-memory span recorder.

    A span is ``{id, name, start, end, parent, run, phase}``; times are
    ``time.perf_counter()`` seconds.  ``enabled`` switches recording on
    and off so traced and untraced operations can alternate in one run.
    """

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.enabled = False
        self.run = ""
        self.phase = ""
        self.spans: list[dict[str, Any]] = []
        self._stack: list[int] = []

    def group(self, span_id: int | None) -> str:
        return f"perfbench-{span_id}" if span_id is not None else "perfbench-root"

    def _set_group(self, span_id: int | None, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(self.group(span_id), name)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "run": self.run, "phase": self.phase}
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            parent_name = self.spans[parent]["name"] if parent is not None else "root"
            self._set_group(parent, parent_name)

    def wrap(self, name: str, fn: Callable) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: Iterable[dict[str, Any]]) -> dict[int, float]:
    """Span id → its duration minus the part of it its children cover.

    Children may overlap each other (the union is subtracted, not the
    sum) and may stick out of the parent (clipped to the parent).
    """
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        lo, hi = s["start"], s["end"]
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, lo), min(b, hi)
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (hi - lo) - covered
    return out


# ---------------------------------------------------------------------------
# wrapping the engine's layer boundaries
# ---------------------------------------------------------------------------

_PIPELINE_IMPORTS = {
    "read_table": "sources.read_table",
    "apply_mapping": "transforms.apply_mapping",
    "count_non_nulls": "transforms.count_non_nulls",
    "drop_null_fields": "transforms.drop_null_fields",
    "write_partitioned": "sinks.write_partitioned",
}


def instrument_modules(tracer: Tracer) -> Callable[[], None]:
    """Wrap the pipeline's imported layer functions, ``merge.merge_upsert``,
    ``txn.recover_pending`` and ``txn.StagedCommit.commit``; return a
    function that restores the originals."""
    from aws_glue_jobs_incremental_database_etl_spark import merge, pipeline, txn

    saved: list[tuple[Any, str, Any]] = []

    def patch(owner: Any, attr: str, name: str) -> None:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, tracer.wrap(name, orig))

    for attr, name in _PIPELINE_IMPORTS.items():
        patch(pipeline, attr, name)
    patch(merge, "merge_upsert", "merge.merge_upsert")
    patch(txn, "recover_pending", "txn.recover_pending")
    patch(txn.StagedCommit, "commit", "txn.commit")

    def restore() -> None:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore


def instrument_catalog(tracer: Tracer, catalog: Any, counts: dict[str, int]) -> Any:
    """Wrap a ``FileCatalog`` instance's public methods as ``catalog.<m>``
    spans and count the bytes of every database JSON it rewrites."""
    for m in ("table_exists", "get_table", "create_table", "update_table",
              "update_table_columns", "get_tables", "update_table_job_info",
              "add_partition", "get_partitions", "grant_all_permissions_to_creator"):
        setattr(catalog, m, tracer.wrap(f"catalog.{m}", getattr(catalog, m)))
    save = catalog._save

    def counted_save(database, state):
        save(database, state)
        if tracer.enabled:
            counts["catalog.bytes_written"] += os.path.getsize(catalog._db_path(database))

    catalog._save = counted_save
    return catalog


def instrument_bookmarks(tracer: Tracer, store: Any) -> Any:
    for m in ("filter_new", "compute_next", "stage", "stage_raw", "commit"):
        setattr(store, m, tracer.wrap(f"bookmarks.{m}", getattr(store, m)))
    return store


# ---------------------------------------------------------------------------
# Spark event log → counters per job group
# ---------------------------------------------------------------------------


def event_log_counters(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group → ``jobs``, ``stages`` and the task counters in
    ``COUNTERS``, summed over every event-log file under ``log_dir``."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs)
    for path in paths:
        stage_group: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g:
                        out[g]["jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sid = ev["Stage Info"]["Stage ID"]
                    if g:
                        stage_group[sid] = g
                        out[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if not g or not m:
                        continue
                    c = out[g]
                    c["tasks"] += 1
                    c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    c["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return {g: dict(c) for g, c in out.items()}
