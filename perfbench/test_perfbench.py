"""Tests of the benchmark's own code (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
from harness import Bench, tree_cpu_s  # noqa: E402
from spans import event_log_counters, self_times  # noqa: E402
from stats import spread, summarize  # noqa: E402


def _bench(tmp_path) -> Bench:
    return Bench("etl_incremental", 1, 1.0, False, str(tmp_path), str(tmp_path), 1)


# ---- checkers ---------------------------------------------------------------


def test_check_table_accepts_reordered_rows_and_columns():
    t = gen.make_tables(3, 0.001)["orders"]
    shuffled = t.take(list(reversed(range(t.num_rows)))).select(list(reversed(t.column_names)))
    assert checks.check_table("orders", t, shuffled) == []


def test_check_table_rejects_one_dropped_row(tmp_path):
    t = gen.make_tables(3, 0.001)["orders"]
    problems = checks.check_table("orders", t, t.slice(1))
    assert problems and "rows" in problems[0]
    b = _bench(tmp_path)
    b.check(problems)
    assert (b.attempted, b.failed) == (1, 1)


def test_check_table_rejects_one_changed_value():
    t = gen.make_tables(3, 0.001)["orders"]
    price = t["o_totalprice"].to_pylist()
    price[7] += 0.01
    bad = t.set_column(t.column_names.index("o_totalprice"), "o_totalprice", pa.array(price))
    assert checks.check_table("orders", t, bad) == ["orders: value hash differs from the expected rows"]


def test_timestamps_hash_alike_with_and_without_zone():
    naive = pa.table({"ts": pa.array([0, 1_000_000], pa.timestamp("us"))})
    utc = pa.table({"ts": pa.array([0, 1_000_000], pa.timestamp("us", tz="UTC"))})
    assert checks.arrow_hash(naive) == checks.arrow_hash(utc)


def _change_table(log: gen.ChangeLog) -> pa.Table:
    return pa.Table.from_pylist([dict(zip(gen.CDC_COLUMNS, r)) for r in log.all_rows()])


def test_cdc_expected_is_latest_per_key_minus_tombstones():
    log = gen.ChangeLog(5, 300)
    for _ in range(3):
        log.next_batch()
    expected = checks.cdc_expected(_change_table(log))
    assert sorted(expected["O_ORDERKEY"].to_pylist()) == sorted(log.live)
    assert "IS_DELETED" not in expected.column_names


def test_cdc_check_rejects_a_kept_tombstone():
    log = gen.ChangeLog(5, 300)
    log.next_batch()
    changes = _change_table(log)
    expected = checks.cdc_expected(changes)
    tombstoned = [r for r in log.all_rows() if r[-1] == 1]
    assert tombstoned
    kept = pa.concat_tables([
        expected,
        pa.Table.from_pylist(
            [dict(zip(gen.CDC_COLUMNS[:-1], tombstoned[0][:-1]))], schema=expected.schema),
    ])
    problems = checks.check_table("orders", expected, kept)
    assert problems
    b = _bench(".")
    b.check(problems)
    assert b.failed == 1


def test_bookmark_and_partition_checks():
    assert checks.check_bookmark("t", {"k": 9}, "k", 9) == []
    assert checks.check_bookmark("t", {"k": 8}, "k", 9)
    assert checks.check_bookmark("t", None, "k", 9)
    assert checks.check_partitions("t", {"a/b"}, {"a/b"}) == []
    assert checks.check_partitions("t", {"a/b"}, {"a/b", "a/c"})


# ---- inputs -----------------------------------------------------------------


def test_same_seed_same_inputs_other_seed_other_inputs():
    a, b, c = (gen.make_tables(s, 0.001) for s in (1, 1, 2))
    for name in gen.TABLES:
        assert a[name].equals(b[name]), name
    assert not a["orders"].equals(c["orders"])
    la, lb = gen.ChangeLog(4, 100), gen.ChangeLog(4, 100)
    assert la.next_batch() == lb.next_batch()


def test_lineitem_chunks_follow_order_keys():
    li = gen.make_tables(1, 0.001)["lineitem"]["l_orderkey"].to_pylist()
    assert li == sorted(li)


# ---- spans ------------------------------------------------------------------


def _span(i, parent, start, end, name="x"):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent,
            "run": "r", "phase": "step"}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 5.0, 6.0),
        _span(3, 1, 1.5, 2.5),  # grandchild: counts against span 1 only
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 7.0, 1: 1.0, 2: 1.0, 3: 1.0})


def test_self_time_overlapping_and_protruding_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),   # overlaps span 1: union 2..8 is covered once
        _span(3, 0, 9.0, 12.0),  # sticks out: only 9..10 is inside the parent
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_event_log_counters_attribute_tasks_to_job_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "perfbench-3"}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0},
         "Properties": {"spark.jobGroup.id": "perfbench-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 7,
            "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
    ]
    d = tmp_path / "app"
    d.mkdir()
    (d / "events_1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    c = event_log_counters(str(tmp_path))
    assert c == {"perfbench-3": {"jobs": 1, "stages": 1, "tasks": 1, "executor_cpu_s": 2.0,
                                 "spill_bytes": 12, "shuffle_read_bytes": 3,
                                 "shuffle_write_bytes": 11}}


# ---- statistics -------------------------------------------------------------


def test_tree_cpu_counts_this_process():
    c0 = tree_cpu_s()
    t_end = time.process_time() + 0.2
    while time.process_time() < t_end:
        pass
    assert tree_cpu_s() - c0 >= 0.15


def test_summary_reports_sample_count():
    s = summarize([3.0, 1.0, 2.0, 10.0])
    assert s["n"] == 4 and s["median"] == 2.5 and s["min"] == 1.0 and s["max"] == 10.0
    assert summarize([4.0]) == {"n": 1, "median": 4.0, "q1": 4.0, "q3": 4.0, "min": 4.0, "max": 4.0}
    with pytest.raises(ValueError):
        summarize([])


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0]
    assert spread(vals) == pytest.approx((4.5 - 1.5) / 3.0)
