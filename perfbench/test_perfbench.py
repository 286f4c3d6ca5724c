"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from tracing import (  # noqa: E402
    EventLog, Tracer, percentile, read_event_log, tail_percentile, with_self_time)
from verify import table_digest  # noqa: E402


# ------------------------------------------------------------ tail rule

@pytest.mark.parametrize("n,expected", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_tail_percentile_keeps_ten_samples_beyond(n, expected):
    p = tail_percentile(n)
    assert p == expected
    if p is not None:
        values = list(range(n))
        beyond = [v for v in values if v > percentile(values, p)]
        assert len(beyond) >= 10


def test_percentile_nearest_rank():
    assert percentile([5, 1, 3, 2, 4], 50) == 3
    assert percentile([1, 2, 3, 4], 75) == 3
    assert percentile([7], 99.9) == 7


def test_self_time_subtracts_covered_child_intervals():
    spans = [
        {"id": 1, "parent": None, "start_ms": 0.0, "end_ms": 1000.0, "dur_s": 1.0},
        {"id": 2, "parent": 1, "start_ms": 100.0, "end_ms": 400.0, "dur_s": 0.3},
        {"id": 3, "parent": 1, "start_ms": 300.0, "end_ms": 600.0, "dur_s": 0.3},
    ]
    self_s = {s["id"]: s["self_s"] for s in with_self_time(spans)}
    assert self_s[1] == pytest.approx(0.5)  # children cover 100..600
    assert self_s[2] == pytest.approx(0.3)


def test_disabled_tracer_records_nothing():
    tr = Tracer("t", enabled=False)
    with tr.span("query", None) as sid:
        assert sid == 1
    assert tr.spans == []


# ------------------------------------------------------------ event log

def _task(stage, launch, finish, run, deser, records_in=0, shuffle_records=0, **metrics):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
        "Task Metrics": {
            "Executor Run Time": run, "Executor Deserialize Time": deser,
            "Executor CPU Time": run * 1_000_000, "JVM GC Time": metrics.get("gc", 0),
            "Result Serialization Time": 0,
            "Memory Bytes Spilled": metrics.get("spill", 0), "Disk Bytes Spilled": 0,
            "Input Metrics": {"Bytes Read": metrics.get("input", 0), "Records Read": records_in},
            "Output Metrics": {"Bytes Written": 0, "Records Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": metrics.get("sread", 0),
                                     "Fetch Wait Time": metrics.get("wait", 0),
                                     "Total Records Read": shuffle_records},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.get("swrite", 0),
                                      "Shuffle Write Time": metrics.get("swrite_ns", 0)},
        },
    }


def _rdd(rid, name, scope, cached=False):
    return {"RDD ID": rid, "Name": name, "Scope": json.dumps({"id": "1", "name": scope}),
            "Storage Level": {"Use Disk": cached, "Use Memory": cached, "Use Off Heap": False}}


_SQL = "org.apache.spark.sql.execution.ui."

EVENTS = [
    {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 4,
     "sparkPlanInfo": {"nodeName": "Project", "metrics": [], "children": [
         {"nodeName": "Scan parquet", "children": [], "metrics": [
             {"name": "number of files read", "accumulatorId": 30, "metricType": "sum"},
             {"name": "size of files read", "accumulatorId": 31, "metricType": "size"}]}]}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Properties": {"spark.jobGroup.id": "pb-7", "spark.sql.execution.id": "4"},
     "Stage Infos": [{"Stage ID": 0, "RDD Info": [_rdd(1, "FileScanRDD", "Scan parquet")]},
                     {"Stage ID": 1, "RDD Info": [_rdd(2, "MapPartitionsRDD", "MapInPandas", cached=True)]}]},
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
     "Properties": {"spark.jobGroup.id": "0b4c-stream-run-id"},
     "Stage Infos": [{"Stage ID": 2, "RDD Info": [_rdd(3, "MapPartitionsRDD", "Exchange")]}]},
    {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 9000,
     "Properties": {"spark.jobGroup.id": "pb-9"},
     "Stage Infos": [{"Stage ID": 3, "RDD Info": []}]},
    {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 4,
     "accumUpdates": [[30, 1], [31, 10_000_000]]},
    {"Event": _SQL + "SparkListenerSQLAdaptiveExecutionUpdate", "executionId": 4,
     "sparkPlanInfo": {"nodeName": "Scan parquet", "children": [], "metrics": [
         {"name": "size of files read", "accumulatorId": 41, "metricType": "size"}]}},
    {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 4,
     "accumUpdates": [[41, 2_000_000], [42, 99]]},
    {"Event": "SparkListenerStageCompleted",
     "Stage Info": {"Stage ID": 2, "RDD Info": [_rdd(3, "MapPartitionsRDD", "Exchange")]}},
    _task(0, 1000, 1110, run=100, deser=5, records_in=10, input=4096, swrite=300, swrite_ns=2_000_000),
    _task(0, 1000, 1050, run=40, deser=5),  # empty: no input, no shuffle records
    _task(1, 1200, 1300, run=80, deser=0, shuffle_records=3, sread=300, wait=7, gc=9, spill=64),
    _task(2, 1500, 1520, run=20, deser=0, shuffle_records=1),
    _task(3, 9000, 9010, run=10, deser=0, records_in=1),
]


@pytest.fixture
def event_log_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    half = len(EVENTS) // 2  # rolled log: two files, read in order
    for i, chunk in enumerate((EVENTS[:half], EVENTS[half:]), start=1):
        (d / f"events_{i}_local-1").write_text("\n".join(json.dumps(e) for e in chunk) + "\n")
    return str(tmp_path)


def test_event_log_reads_rolled_files_in_order(event_log_dir):
    assert read_event_log(event_log_dir) == EVENTS


def test_jobs_attributed_by_group_and_by_window_for_foreign_groups(event_log_dir):
    log = EventLog(read_event_log(event_log_dir))
    # job 0 by its group, job 1 (a stream's own group) by time, job 2 is
    # another span's group outside the window
    assert sorted(log.jobs_for({"pb-7"}, 900, 2000)) == [0, 1]
    assert sorted(log.jobs_for({"pb-9"}, 900, 2000)) == [1, 2]


def test_event_log_summary(event_log_dir):
    log = EventLog(read_event_log(event_log_dir))
    tot = log.summarize([0, 1])
    assert tot["jobs"] == 2 and tot["stages"] == 3 and tot["tasks"] == 4
    assert tot["empty_tasks"] == 1
    assert tot["run_ms"] == 240
    assert tot["delay_ms"] == (110 - 100) + (50 - 40) + (100 - 80) + 0  # incl. deserialize
    assert tot["gc_ms"] == 9 and tot["spill_bytes"] == 64
    assert tot["shuffle_write_bytes"] == 300 and tot["shuffle_write_ns"] == 2_000_000
    assert tot["shuffle_read_bytes"] == 300 and tot["fetch_wait_ms"] == 7
    assert tot["input_bytes"] == 4096
    # file bytes of the scans of execution 4 (job 0), incl. one AQE re-plan
    assert tot["scan_file_bytes"] == 12_000_000
    assert log.summarize([2])["scan_file_bytes"] == 0
    assert tot["python_run_ms"] == 80  # the MapInPandas stage
    assert tot["cached_rdds"] == 1


# ------------------------------------------------------------ inputs

def test_inputs_are_a_function_of_the_seed():
    a = datagen.generate_tables("sf0.01", seed=11)
    b = datagen.generate_tables("sf0.01", seed=11)
    c = datagen.generate_tables("sf0.01", seed=12)
    assert set(a) == set(datagen.TABLES)
    for t in datagen.TABLES:
        assert a[t].equals(b[t]), t
    assert not a["lineitem"].equals(c["lineitem"])


def test_foreign_keys_resolve_and_events_stay_in_time_order():
    tbl = datagen.generate_tables("sf0.01", seed=5)
    orders = set(tbl["orders"].column("o_orderkey").to_pylist())
    assert set(tbl["lineitem"].column("l_orderkey").to_pylist()) <= orders
    custs = set(tbl["customer"].column("c_custkey").to_pylist())
    assert set(tbl["orders"].column("o_custkey").to_pylist()) <= custs
    ts = tbl["events"].column("ts").to_pylist()
    assert all(x <= y for x, y in zip(ts, ts[1:]))


def test_ensure_inputs_writes_once_and_keeps_recent_seeds(tmp_path):
    root = str(tmp_path)
    p1 = datagen.ensure_inputs(root, "w", "sf0.01", seed=1)
    stamp = os.path.getmtime(os.path.join(p1, "lineitem.parquet"))
    assert datagen.ensure_inputs(root, "w", "sf0.01", seed=1) == p1
    assert os.path.getmtime(os.path.join(p1, "lineitem.parquet")) == stamp
    datagen.ensure_inputs(root, "w", "sf0.01", seed=2)
    datagen.ensure_inputs(root, "w", "sf0.01", seed=3)
    assert sorted(os.listdir(os.path.join(root, "w"))) == ["seed2", "seed3"]


# ------------------------------------------------------------ output check

def test_digest_is_order_insensitive_and_type_faithful():
    t1 = pa.table({"k": [1, 2], "v": [0.5, -0.0]})
    t2 = pa.table({"v": [0.0, 0.5], "k": [2, 1]})
    assert table_digest(t1) == table_digest(t2)  # row and column order, -0.0
    as_float = pa.table({"k": [1.0, 2.0], "v": [0.5, 0.0]})
    assert table_digest(t1) != table_digest(as_float)  # int 1 is not float 1.0
    close = pa.table({"k": [1, 2], "v": [0.5 + 1e-16, 0.0]})
    assert table_digest(t1) != table_digest(close)  # full precision
