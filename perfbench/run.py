"""Repository benchmark: one named workload of the query registry, run as
a closed loop.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  One client (this Python process) sends
each query only after the previous one finished: ``build`` is the call
``__spark_entry__.queries()[name](spark, sf_dir)`` and ``sink`` the
noop-sink write of its result, at ``local[nproc]``.

A run:

1. prepares the workload's input from ``--seed`` in a child process
   (``verify.py``): generated once per (workload, seed) under
   ``.perfbench/inputs`` and reused, with the DuckDB oracle digests;
2. sets up: imports the registry, starts the session and runs one
   warm-up pass of the workload's own queries whose results it collects
   and checks (oracled queries against DuckDB with the strict hash,
   rows-only queries against the row count and digest of the seed's
   first verified run);
3. measures whole passes, in a seeded query order, until ``--seconds``
   have elapsed and at least ``MIN_PASSES`` passes ran (the passes keep
   getting faster for several passes after the cold one, so a window
   that holds two passes on a slow box and three on a fast one would
   bias the medians: use a window shorter than two passes, as
   BENCHMARK.json does, to measure exactly ``MIN_PASSES``).  A query's
   time is the median of its passes' wall times, and the makespan the
   median pass, which damps one slow pass or execution on a shared box;
4. prints every end-to-end metric with its unit and, last, one JSON line.

With ``--trace 1`` the run also enables Spark's event log, puts every
build and sink call in its own job group, attaches a streaming-query
listener, records spans (workload > pass > query > build/sink/verify)
and prints the per-layer metrics instead; the span file lands in
``.perfbench/traces``.  End-to-end numbers come from ``--trace 0`` runs.
"""

from __future__ import annotations

import argparse
import datetime
import json
import os
import random
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import EventLog, Tracer, percentile, read_event_log, tail_percentile  # noqa: E402
from verify import ORACLE_FILE, compare, summary  # noqa: E402

#: Two workloads that stress different layers; ``why`` says which.  Each
#: run pays 25-45 s of fixed cost (JVM start and a cold first pass that
#: is several times a warm one), so the lists and the panel's scale are
#: kept small enough for a run to stay near a minute.
WORKLOADS = {
    "panel": {
        "scale": "sf0.05",
        "why": "the core panel, window-feature, interval, as-of and session path at "
               "sf0.05: executor, shuffle and scan time dominate, builds are cheap",
        "queries": ["monthly_panel", "panel_lag", "panel_moving_avg", "panel_diff",
                    "target_variable", "spread_over_months", "range_join_months",
                    "interval_union", "asof_backward", "sessionize", "revenue_by_nation"],
    },
    "short_mix": {
        "scale": "sf0.01",
        "why": "short queries from seven query modules at sf0.01 (a stream, a write, a "
               "Python UDTF and ML evaluation included): fixed per-query overhead dominates",
        "queries": [
            "exact_dedup",                                                # queries
            "write_roundtrip", "streaming_windowed", "psi_drift",         # queries_ext
            "udtf_demo",                                                  # queries_rel
            "hll_rollup",                                                 # queries_sketch
            "top_revenue_supplier",                                       # queries_tpch
            "key_gaps",                                                   # queries_analytics
            "target_encoding",                                            # queries_prep
        ],
    },
}

#: metrics of the JSON line of an untraced run (BENCHMARK.json's end_to_end)
END_TO_END_UNITS = {"setup_s": "s", "makespan_s": "s", "query_p50_s": "s",
                    "query_geomean_s": "s", "query_tail_s": "s"}
#: printed too, but not gated: JVM RSS follows G1's heap sizing, which
#: moved it by 15-19% (IQR/median) across ten seeds of the same code
PRINTED_ONLY_UNITS = {"peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "registry.import_s": "s",
    "registry.build_s": "s", "registry.eager_jobs": "count", "sink.s": "s",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.empty_task_frac": "ratio",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.spill_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.write_s": "s",
    "io.input_bytes": "bytes", "io.output_bytes": "bytes",
    "streaming.batches": "count", "streaming.batch_s": "s",
    "pins.leaked": "count", "pins.storage_mb": "MB", "pins.cached_rdds": "count",
    "python.worker_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
}
DRIVER_MEMORY = "4g"
#: measured passes per run, whatever ``--seconds`` says
MIN_PASSES = 2


def pin_environment(root: str, work: str, run_tmp: str) -> dict[str, str]:
    """Environment both sides of an A/B share, set before the JVM starts
    (Python workers inherit it: without PYTHONPATH, mapInPandas workers
    cannot import the engine)."""
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        # the engine's streams and writes use the temp dir; keep them in
        # the checkout and drop them with the run
        "TMPDIR": run_tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_tmp}",
        "PYSPARK_PYTHON": sys.executable,
    }
    for p in (pinned["SPARK_LOCAL_DIRS"], run_tmp):
        os.makedirs(p, exist_ok=True)
    os.environ.update(pinned)
    return pinned


def _reset_peak_rss(pids) -> bool:
    """Restart VmHWM at the current RSS (Linux ``clear_refs`` mode 5) so
    the peak covers the measured window; False where that is refused."""
    try:
        for pid in pids:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
    except OSError:
        return False
    return True


def _proc_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


class Bench:
    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.wl = WORKLOADS[args.workload]
        self.work = os.path.join(root, ".perfbench")
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace))
        self.failures: dict[str, str] = {}
        self.attempted = 0
        self.failed = 0
        self.leaks: list[tuple[int, str, int, float]] = []  # (pass, query, rdds, MB)
        self.progress: list[tuple[float, float]] = []  # (batch start ms, batch s)
        self.verify_s = 0.0
        self.cold_s: dict[str, float] = {}  # build + collect seconds in the warm-up pass

    # ------------------------------------------------------------ set-up
    def prepare(self) -> str:
        """Generated input dir, made (with its oracle digests) by a child
        process outside the measured Spark application."""
        wl, a = self.wl, self.args
        t0 = time.perf_counter()
        try:
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "verify.py"), os.path.join(self.work, "inputs"),
                 a.workload, wl["scale"], str(a.seed), *wl["queries"]],
                cwd=self.root, check=True, capture_output=True, text=True)
        except subprocess.CalledProcessError as e:
            print(e.stderr, file=sys.stderr)
            raise
        self.prepare_s = time.perf_counter() - t0
        return out.stdout.strip().splitlines()[-1]

    def start(self, trace_dir: str | None):
        t0 = time.perf_counter()
        import __spark_entry__
        from sf_datalake_spark.session import get_spark_session

        self.import_s = time.perf_counter() - t0
        conf = {"spark.ui.showConsoleProgress": "false"}
        if trace_dir:
            conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": trace_dir,
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark_session(f"perfbench-{self.args.workload}", extra_conf=conf)
        self.spark.range(1).collect()
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.jvm = self.sc._jvm
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self.fns = __spark_entry__.queries()
        self.oracled = set(__spark_entry__.oracle_sql())

    def attach_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress

        class _Batches(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                start = datetime.datetime.fromisoformat(p.timestamp).timestamp()
                progress.append((start * 1000.0, p.batchDuration / 1000.0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(_Batches())

    # ------------------------------------------------------------ queries
    def _group(self, span_id: int, name: str) -> None:
        if self.tracer.enabled:
            self.sc.setJobGroup(f"pb-{span_id}", name)

    def _cleanup(self, pass_no: int, name: str) -> None:
        """Record what the query left pinned, then release it, the same
        cleanup ``bench.py`` does between runs so a leak does not tax the
        next query."""
        jsc = self.sc._jsc
        rdds = jsc.getPersistentRDDs()
        n = rdds.size()
        if n:
            mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 2**20
            self.leaks.append((pass_no, name, n, mb))
        self.spark.catalog.clearCache()
        for jrdd in rdds.values():
            jrdd.unpersist(False)

    def run_query(self, name: str, parent: int, pass_no: int, collect: bool):
        """Wall seconds of build + sink (None when it raised) and the
        collected Arrow table in the warm-up pass."""
        self.attempted += 1
        out = None
        tr = self.tracer
        with tr.span("query", parent, query=name) as qid:
            t0 = time.perf_counter()
            try:
                with tr.span("build", qid, query=name) as sid:
                    self._group(sid, name)
                    df = self.fns[name](self.spark, self.sf_dir)
                with tr.span("sink", qid, query=name) as sid:
                    self._group(sid, name)
                    if collect:
                        out = df.toArrow()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                wall = time.perf_counter() - t0
            except Exception as e:  # a failing query is counted, the loop goes on
                wall = None
                self.failed += 1
                self.failures[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
                traceback.print_exc(file=sys.stderr)
            finally:
                self._cleanup(pass_no, name)
        return wall, out

    def check(self, name: str, tbl, parent: int, refs: dict, oracle: dict) -> None:
        t0 = time.perf_counter()
        with self.tracer.span("verify", parent, query=name):
            got = summary(tbl, naive_ts=True)
            if name in self.oracled:
                want = oracle.get(name, {"error": "no oracle digest"})
            else:
                want = refs.setdefault(name, got)
            why = want["error"] if "error" in want else compare(got, want)
        self.verify_s += time.perf_counter() - t0
        if why:
            self.failed += 1
            self.failures[name] = why

    def warmup_and_check(self, order) -> float:
        """Warm-up pass over the workload's own queries; each result is
        collected and checked after its timed part.  Returns the summed
        build + collect seconds."""
        ref_path = os.path.join(self.work, "refs", f"{self.args.workload}-seed{self.args.seed}.json")
        refs = json.load(open(ref_path)) if os.path.exists(ref_path) else {}
        with open(os.path.join(self.sf_dir, ORACLE_FILE)) as fh:
            oracle = json.load(fh)
        total = 0.0
        with self.tracer.span("pass", self.root_span, phase="warmup") as pid:
            for name in order:
                wall, tbl = self.run_query(name, pid, 0, collect=True)
                if wall is None:
                    continue
                total += wall
                self.cold_s[name] = wall
                self.check(name, tbl, pid, refs, oracle)
        if not self.failures:
            os.makedirs(os.path.dirname(ref_path), exist_ok=True)
            with open(ref_path, "w") as fh:
                json.dump(refs, fh)
        return total

    def measure(self, order) -> list[dict]:
        passes = []
        t_start = time.perf_counter()
        while True:
            pass_no = len(passes) + 1
            with self.tracer.span("pass", self.root_span, phase="measure", n=pass_no) as pid:
                t0 = time.perf_counter()
                start_ms = time.time() * 1000.0
                walls = {}
                for name in order:
                    wall, _ = self.run_query(name, pid, pass_no, collect=False)
                    if wall is not None:
                        walls[name] = wall
                passes.append({"n": pass_no, "wall": time.perf_counter() - t0, "walls": walls,
                               "start_ms": start_ms, "end_ms": time.time() * 1000.0})
            if len(passes) >= MIN_PASSES and time.perf_counter() - t_start >= self.args.seconds:
                return passes

    # ------------------------------------------------------------ metrics
    def jvm_gc_ms(self) -> int:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans)

    def heap_pools(self):
        mf = self.jvm.java.lang.management.ManagementFactory
        heap = self.jvm.java.lang.management.MemoryType.HEAP
        return [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(heap)]

    def layer_metrics(self, passes, events, gc_ms: float, heap_peak_mb: float) -> dict:
        log = EventLog(events)
        spans = self.tracer.spans
        per_pass = []
        for p in passes:
            qs = [s for s in spans if s["name"] in ("build", "sink")
                  and p["start_ms"] <= s["start_ms"] <= p["end_ms"]]
            groups = {f"pb-{s['id']}" for s in qs}
            jobs = log.jobs_for(groups, p["start_ms"], p["end_ms"])
            builds = [s for s in qs if s["name"] == "build"]
            eager = set()
            for s in builds:
                eager.update(log.jobs_for({f"pb-{s['id']}"}, s["start_ms"], s["end_ms"]))
            tot = log.summarize(jobs)
            batches = [d for (t, d) in self.progress if p["start_ms"] <= t <= p["end_ms"]]
            leaks = [lk for lk in self.leaks if lk[0] == p["n"]]
            per_pass.append({
                "registry.build_s": sum(s["dur_s"] for s in builds),
                "registry.eager_jobs": len(eager),
                "sink.s": sum(s["dur_s"] for s in qs if s["name"] == "sink"),
                "sched.jobs": tot["jobs"], "sched.stages": tot["stages"],
                "sched.tasks": tot["tasks"], "sched.delay_s": tot["delay_ms"] / 1e3,
                "sched.empty_task_frac": tot["empty_tasks"] / max(tot["tasks"], 1),
                "exec.run_s": tot["run_ms"] / 1e3, "exec.cpu_s": tot["cpu_ns"] / 1e9,
                "exec.gc_s": tot["gc_ms"] / 1e3, "exec.spill_bytes": tot["spill_bytes"],
                "shuffle.write_bytes": tot["shuffle_write_bytes"],
                "shuffle.read_bytes": tot["shuffle_read_bytes"],
                "shuffle.fetch_wait_s": tot["fetch_wait_ms"] / 1e3,
                "shuffle.write_s": tot["shuffle_write_ns"] / 1e9,
                "io.input_bytes": tot["scan_file_bytes"], "io.output_bytes": tot["output_bytes"],
                "io.hadoop_read_bytes": tot["input_bytes"],
                "streaming.batches": len(batches), "streaming.batch_s": sum(batches),
                "pins.leaked": sum(lk[2] for lk in leaks),
                "pins.storage_mb": sum(lk[3] for lk in leaks),
                "pins.cached_rdds": tot["cached_rdds"],
                "python.worker_s": tot["python_run_ms"] / 1e3,
            })
        out = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
        out.update({
            "session.start_s": self.start_s, "session.warmup_s": self.warmup_s,
            "registry.import_s": self.import_s,
            "jvm.gc_s": gc_ms / 1e3 / len(passes), "jvm.heap_peak_mb": heap_peak_mb,
        })
        return out

    # ------------------------------------------------------------ main
    def run(self) -> dict:
        a = self.args
        run_tmp = os.path.join(self.work, "tmp", str(os.getpid()))
        self.env = pin_environment(self.root, self.work, run_tmp)
        trace_dir = None
        try:
            self.sf_dir = self.prepare()
            if a.trace:
                trace_dir = os.path.join(self.work, "eventlog", str(os.getpid()))
                os.makedirs(trace_dir, exist_ok=True)
            with self.tracer.span("workload", None, workload=a.workload, seed=a.seed) as root:
                self.root_span = root
                self.start(trace_dir)
                try:
                    return self._run(trace_dir)
                finally:
                    self.stop()
        finally:
            shutil.rmtree(run_tmp, ignore_errors=True)
            if trace_dir:
                shutil.rmtree(trace_dir, ignore_errors=True)

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit: the gateway
        server exits when its stdin closes."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def _run(self, trace_dir):
        a = self.args
        order = list(self.wl["queries"])
        random.Random(a.seed).shuffle(order)
        if a.trace:
            self.attach_listener()
        self.warmup_s = self.warmup_and_check(order)
        self.leaks.clear()
        # a full collection first lets G1 hand back the heap it grew during
        # the cold pass, so the window's peak does not depend on when the
        # warm-up last collected
        self.jvm.java.lang.System.gc()
        reset = _reset_peak_rss((os.getpid(), self.jvm_pid))
        gc0 = self.jvm_gc_ms()
        pools = self.heap_pools()
        for p in pools:
            p.resetPeakUsage()
        passes = self.measure(order)
        gc_ms = self.jvm_gc_ms() - gc0
        heap_peak_mb = sum(p.getPeakUsage().getUsed() for p in pools) / 2**20
        rss_kb = _proc_kb(self.jvm_pid, "VmHWM") + (
            _proc_kb(os.getpid(), "VmHWM") if reset
            else resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        per_query: dict[str, list[float]] = {}
        for p in passes:
            for name, w in p["walls"].items():
                per_query.setdefault(name, []).append(w)
        query_s = {name: statistics.median(ws) for name, ws in per_query.items()}
        walls = list(query_s.values())
        tail_p = tail_percentile(len(walls))
        res = {
            "passes": passes,
            "walls": walls,
            "query_s": query_s,
            "executions": sum(len(ws) for ws in per_query.values()),
            "tail_p": tail_p,
            "metrics": {
                "setup_s": self.import_s + self.start_s + self.warmup_s,
                "makespan_s": statistics.median(p["wall"] for p in passes),
                "query_p50_s": statistics.median(walls) if walls else float("nan"),
                "query_geomean_s": statistics.geometric_mean(walls) if walls else float("nan"),
                "query_tail_s": percentile(walls, tail_p or 100.0) if walls else float("nan"),
                "peak_rss_mb": rss_kb / 1024.0,
            },
        }
        if a.trace:
            time.sleep(1.0)  # let the listener bus drain the last progress events
            self.spark.stop()
            res["layers"] = self.layer_metrics(passes, read_event_log(trace_dir), gc_ms, heap_peak_mb)
        return res


def _record_untraced(work: str, workload: str, seed: int, makespan: float | None):
    """Untraced makespan per (workload, seed), for the tracing-overhead
    report of a later traced run in the same checkout."""
    path = os.path.join(work, "results", f"{workload}.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    if makespan is not None:
        data[str(seed)] = makespan
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(data, fh)
    return data


def _overhead_note(overhead: float, untraced: list[float]) -> str:
    """Whether the tracing overhead stands out of the run-to-run spread of
    the untraced makespans recorded in this checkout (their IQR, from four
    runs on; the range below that)."""
    if len(untraced) < 2:
        return "run-to-run spread unknown: one untraced run in this checkout"
    if len(untraced) >= 4:
        q = statistics.quantiles(untraced, n=4)
        spread, what = q[2] - q[0], "IQR"
    else:
        spread, what = max(untraced) - min(untraced), "range"
    inside = "inside it: not told apart from noise" if abs(overhead) <= spread else "outside it"
    return (f"untraced makespan {what} over {len(untraced)} runs: {spread:.4f} s; "
            f"the overhead is {inside}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "sf_datalake_spark"))):
        print("perfbench: run from the repository root: __spark_entry__.py and "
              "sf_datalake_spark/ are missing here", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    t_main = time.perf_counter()
    bench = Bench(args, root)
    res = bench.run()
    m = res["metrics"]
    n = len(res["walls"])
    env = " ".join(f"{k}={v}" for k, v in bench.env.items() if k != "PYTHONPATH")
    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  "
          f"local[{bench.env['SPARK_GRAFT_CPUS']}]  passes {len(res['passes'])}  "
          f"executions {res['executions']}  ({WORKLOADS[args.workload]['why']})")
    print(f"env {env}")
    print("  pass walls: " + ", ".join(f"{p['wall']:.3f} s" for p in res["passes"]))
    for label, times in (("per-query median s", res["query_s"]), ("warm-up pass s", bench.cold_s)):
        print(f"  {label}: " + ", ".join(
            f"{q} {w:.3f}" for q, w in sorted(times.items(), key=lambda kv: -kv[1])))
    tail = (f"p{res['tail_p']:g}" if res["tail_p"]
            else "max (under 20 queries: no percentile has 10 beyond it)")
    for k, u in {**END_TO_END_UNITS, **PRINTED_ONLY_UNITS}.items():
        note = (f"  [{tail} of {n} per-query medians over {len(res['passes'])} passes]"
                if k == "query_tail_s" else "")
        note += "  (not gated)" if k in PRINTED_ONLY_UNITS else ""
        print(f"  {k:<15} {m[k]:12.4f} {u}{note}")
    print(f"  {'failed_frac':<15} {bench.failed / bench.attempted:12.4f} ratio  "
          f"[{bench.failed} of {bench.attempted} executions]")
    for name, why in sorted(bench.failures.items()):
        print(f"  FAILED {name}: {why}")
    print(f"  harness: prepare {bench.prepare_s:.1f} s, output check {bench.verify_s:.1f} s, "
          f"whole run {time.perf_counter() - t_main:.1f} s")

    work = bench.work
    if args.trace:
        layers = res["layers"]
        untraced = _record_untraced(work, args.workload, args.seed, None)
        base = untraced.get(str(args.seed))
        base_note = f"seed {args.seed}"
        if base is None and untraced:
            base, base_note = statistics.median(untraced.values()), "median of other seeds"
        overhead = None if base is None else m["makespan_s"] - base
        for k, u in PER_LAYER_UNITS.items():
            print(f"  {k:<22} {layers[k]:14.4f} {u}")
        print(f"  io.input_bytes is the size of the files the scans list (SQL metric "
              f"'size of files read'); the tasks' Hadoop byte counter saw "
              f"{layers['io.hadoop_read_bytes']:.0f} bytes, as it misses parquet's vectored reads")
        leaked = sorted({lk[1] for lk in bench.leaks})
        print("  pins leaked after the sink by: " + (", ".join(leaked) or
              "no query of this workload (none left a persistent RDD behind its sink)"))
        if overhead is None:
            print("  tracing overhead: no untraced run of this workload in this checkout")
        else:
            print(f"  tracing overhead: makespan {m['makespan_s']:.4f} s traced - {base:.4f} s "
                  f"untraced ({base_note}) = {overhead:+.4f} s")
            print("  " + _overhead_note(overhead, list(untraced.values())))
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        span_path = os.path.join(work, "traces", f"{bench.tracer.trace_id}.json")
        bench.tracer.write(span_path, {"workload": args.workload, "seed": args.seed,
                                       "env": bench.env, "metrics": m, "layers": layers,
                                       "tracing_overhead_s": overhead,
                                       "leaks": bench.leaks, "failures": bench.failures})
        print(f"  spans: {os.path.relpath(span_path, root)}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER_UNITS.items()}
    else:
        _record_untraced(work, args.workload, args.seed, m["makespan_s"])
        metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    print(json.dumps({"correct": bench.failed == 0, "attempted": bench.attempted,
                      "failed": bench.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
