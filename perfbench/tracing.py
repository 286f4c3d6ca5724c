"""Spans, percentiles and the Spark event-log reader of the benchmark.

Everything here is plain Python over recorded data, so the tests run
without Spark.  ``run.py`` feeds it the spans it records around its own
calls into the program and the event log Spark writes for the run.
"""

from __future__ import annotations

import glob
import itertools
import json
import math
import os
import time
from contextlib import contextmanager

#: percentiles the tail is chosen from, highest first; a coarse ladder
#: keeps the reported percentile the same across runs whose sample
#: counts differ by a few executions
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_MIN_BEYOND = 10


def _rank(p: float, n: int) -> int:
    """1-based nearest rank of the p-th percentile of n samples (the
    epsilon keeps 99.9% of 10000 at rank 9990, not 9991)."""
    return max(math.ceil(p * n / 100.0 - 1e-9), 1)


def percentile(values, p: float) -> float:
    """Nearest-rank percentile (the smallest value with at least p% of
    the samples at or below it)."""
    if not values:
        raise ValueError("percentile of no values")
    return sorted(values)[_rank(p, len(values)) - 1]


def tail_percentile(n: int) -> float | None:
    """Highest ladder percentile with at least ``TAIL_MIN_BEYOND`` of
    ``n`` samples strictly beyond its rank, or None when ``n`` is too
    small for any."""
    for p in TAIL_LADDER:
        if n - _rank(p, n) >= TAIL_MIN_BEYOND:
            return p
    return None


class Tracer:
    """In-memory span recorder.  A span has an id, its parent's id, the
    shared trace id of the run, a name, wall-clock start/end in epoch ms
    (comparable with Spark's event timestamps) and free-form attributes.
    When disabled, ``span`` still yields an id but records nothing."""

    def __init__(self, trace_id: str, enabled: bool):
        self.trace_id = trace_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "parent": parent, "trace": self.trace_id, "name": name,
               "start_ms": time.time() * 1000.0, **attrs}
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            rec["dur_s"] = time.perf_counter() - t0
            rec["end_ms"] = rec["start_ms"] + rec["dur_s"] * 1000.0
            if self.enabled:
                self.spans.append(rec)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"trace": self.trace_id, **extra,
                       "spans": with_self_time(self.spans)}, fh)


def with_self_time(spans: list[dict]) -> list[dict]:
    """Copies of ``spans`` with ``self_s``: the span's duration minus the
    part of its interval that its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    out = []
    for s in spans:
        covered = 0.0
        last = s["start_ms"]
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, last), min(b, s["end_ms"])
            if b > a:
                covered += b - a
                last = b
        out.append({**s, "self_s": max(s["dur_s"] - covered / 1000.0, 0.0)})
    return out


# --------------------------------------------------------------- event log

#: substrings of an RDD's name or scope that mark a stage running Python
#: or Arrow workers (pandas UDFs, mapInPandas, applyInPandas, RDD lambdas)
PYTHON_MARKERS = ("Python", "Pandas", "Arrow")


def read_event_log(root: str) -> list[dict]:
    """All events of the (single) application logged under ``root``, in
    the rolled ``eventlog_v2_*`` layout Spark 4 writes, in file order."""
    files = sorted(glob.glob(os.path.join(root, "eventlog_v2_*", "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1]))
    events = []
    for f in files:
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _is_python_rdd(rdd: dict) -> bool:
    scope = rdd.get("Scope") or ""
    return any(m in rdd.get("Name", "") or m in scope for m in PYTHON_MARKERS)


def _cached(rdd: dict) -> bool:
    lvl = rdd.get("Storage Level") or {}
    return bool(lvl.get("Use Memory") or lvl.get("Use Disk") or lvl.get("Use Off Heap"))


#: the scan's driver-side SQL metric: bytes of the files a scan lists
FILES_SIZE_METRIC = "size of files read"


def _plan_metric_ids(plan: dict, name: str, out: set[int]) -> None:
    for m in plan.get("metrics", []):
        if m.get("name") == name:
            out.add(m["accumulatorId"])
    for child in plan.get("children", []):
        _plan_metric_ids(child, name, out)


class EventLog:
    """Jobs, stages, tasks and SQL scan sizes of one application, indexed
    for attribution to benchmark spans."""

    def __init__(self, events: list[dict]):
        self.jobs: dict[int, dict] = {}
        self.stage_python: dict[int, bool] = {}
        self.stage_cached: dict[int, set[int]] = {}
        self.tasks: list[dict] = []
        #: per SQL execution, the summed "size of files read" of its scans
        self.files_bytes: dict[int, int] = {}
        files_ids: set[int] = set()
        driver_updates: list[tuple[int, int, int]] = []  # (execution, accumulator, value)
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                exec_id = props.get("spark.sql.execution.id")
                self.jobs[jid] = {
                    "id": jid,
                    "submit_ms": e.get("Submission Time", 0),
                    "group": props.get("spark.jobGroup.id"),
                    "execution": None if exec_id is None else int(exec_id),
                    "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                }
                for s in e.get("Stage Infos", []):
                    self._stage_info(s)
            elif kind == "SparkListenerStageCompleted":
                self._stage_info(e["Stage Info"])
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(e)
            elif kind.endswith((".SparkListenerSQLExecutionStart",
                                ".SparkListenerSQLAdaptiveExecutionUpdate")):
                _plan_metric_ids(e.get("sparkPlanInfo") or {}, FILES_SIZE_METRIC, files_ids)
            elif kind.endswith(".SparkListenerDriverAccumUpdates"):
                driver_updates.extend((e["executionId"], acc, val)
                                      for acc, val in e.get("accumUpdates", []))
        for exec_id, acc, val in driver_updates:
            if acc in files_ids:
                self.files_bytes[exec_id] = self.files_bytes.get(exec_id, 0) + val

    def _stage_info(self, info: dict) -> None:
        sid = info["Stage ID"]
        rdds = info.get("RDD Info", [])
        self.stage_python[sid] = self.stage_python.get(sid, False) or any(
            _is_python_rdd(r) for r in rdds)
        self.stage_cached.setdefault(sid, set()).update(
            r["RDD ID"] for r in rdds if _cached(r))

    def jobs_for(self, groups: set[str], start_ms: float, end_ms: float) -> list[int]:
        """Jobs tagged with one of ``groups``, plus jobs under another
        group (streaming micro-batches run under their own run id) whose
        submission falls inside [start_ms, end_ms]."""
        out = []
        for j in self.jobs.values():
            if j["group"] in groups:
                out.append(j["id"])
            elif start_ms <= j["submit_ms"] <= end_ms and not (j["group"] or "").startswith("pb-"):
                out.append(j["id"])
        return out

    def summarize(self, job_ids) -> dict:
        """Scheduler, executor, shuffle, io and pin totals over the tasks
        of ``job_ids``, and the file bytes scanned by their SQL
        executions.  ``input_bytes`` is Hadoop's byte counter as tasks
        report it.  It does not count parquet's vectored reads, which the
        parquet-mr of Spark 4.1 does by default, so it sees footers but
        not column chunks."""
        job_ids = set(job_ids)
        stages = {s for jid in job_ids for s in self.jobs[jid]["stages"]}
        run_stages = set()
        tot = dict.fromkeys((
            "tasks", "empty_tasks", "run_ms", "cpu_ns", "gc_ms", "delay_ms", "spill_bytes",
            "shuffle_write_bytes", "shuffle_read_bytes", "fetch_wait_ms", "shuffle_write_ns",
            "input_bytes", "output_bytes", "python_run_ms"), 0)
        for t in self.tasks:
            sid = t.get("Stage ID")
            if sid not in stages:
                continue
            run_stages.add(sid)
            info, m = t.get("Task Info", {}), t.get("Task Metrics") or {}
            sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
            inp, outp = m.get("Input Metrics", {}), m.get("Output Metrics", {})
            run = m.get("Executor Run Time", 0)
            deser = m.get("Executor Deserialize Time", 0)
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            sched_delay = max(duration - run - deser - m.get("Result Serialization Time", 0)
                              - info.get("Getting Result Time", 0), 0)
            tot["tasks"] += 1
            tot["empty_tasks"] += int(inp.get("Records Read", 0) == 0
                                      and sr.get("Total Records Read", 0) == 0)
            tot["run_ms"] += run
            tot["cpu_ns"] += m.get("Executor CPU Time", 0)
            tot["gc_ms"] += m.get("JVM GC Time", 0)
            tot["delay_ms"] += sched_delay + deser
            tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            tot["shuffle_write_ns"] += sw.get("Shuffle Write Time", 0)
            tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
            tot["input_bytes"] += inp.get("Bytes Read", 0)
            tot["output_bytes"] += outp.get("Bytes Written", 0)
            if self.stage_python.get(sid):
                tot["python_run_ms"] += run
        tot["jobs"] = len(job_ids)
        tot["stages"] = len(run_stages)
        executions = {self.jobs[jid]["execution"] for jid in job_ids} - {None}
        tot["scan_file_bytes"] = sum(self.files_bytes.get(x, 0) for x in executions)
        tot["cached_rdds"] = len({r for s in stages for r in self.stage_cached.get(s, ())})
        return tot
