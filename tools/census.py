"""Per-query scheduler census: run every registry query once through
the noop sink inside its own job group and record wall seconds plus
job / stage / task counts from the status tracker, plus the number of
generated classes Janino compiled (Spark's ``CodegenMetrics`` compile
count; 0 when every class came from the codegen cache).

Round-10 finding (OPTIMIZATION_r10.md §16): job/stage counts are the
noise-free structural signal on a co-tenant box — FP throttling can
inflate wall clock 10x but cannot add a job.  The round-10 builder ran
this census ad hoc; round 11's verdict item #1 ("kill the per-query
fixed-overhead tail") needs it as a committed, re-runnable tool:
rank queries by jobs-per-second-of-work and go after the recurring
fixed costs (eager checkpoint materializations, AQE re-planning jobs,
probe jobs).

Usage: python tools/census.py [--sf DIR] [--out FILE] [q1 q2 ...]

Prints one JSON line {"queries": {name: {"wall_s", "jobs", "stages",
"tasks", "codegen_compiles"}}, ...} and (with --out) writes the same
payload indented.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    out_path = None
    names: list[str] = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf_dir = argv[i + 1]; i += 2
        elif argv[i] == "--out":
            out_path = argv[i + 1]; i += 2
        else:
            names.append(argv[i]); i += 1

    import __spark_entry__ as entry_mod
    from sf_datalake_spark.session import get_spark_session

    spark = get_spark_session("census")
    sc = spark.sparkContext
    qs = entry_mod.queries()
    if names:
        qs = {k: qs[k] for k in names}

    # Same warm-up family as bench.py so the first query of each
    # machinery class doesn't carry its first-touch jobs.
    try:
        next(iter(qs.values()))(spark, sf_dir).limit(1).collect()
        spark.range(32).repartition(32).mapInPandas(
            lambda it: it, schema="id long").count()
    except Exception as e:
        print(f"census warmup failed: {e}", file=sys.stderr)

    tracker = sc.statusTracker()
    compiles = sc._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    out: dict[str, dict] = {}
    for name, fn in qs.items():
        group = f"census_{name}"
        sc.setJobGroup(group, name)
        c0 = compiles.getCount()
        t0 = time.perf_counter()
        err = None
        try:
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        except Exception as e:
            err = str(e)[:120]
        wall = round(time.perf_counter() - t0, 3)
        n_compiles = compiles.getCount() - c0
        sc.setJobGroup("census_idle", "idle")
        jobs = tracker.getJobIdsForGroup(group)
        stages = set()
        tasks = 0
        for jid in jobs:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                if sid in stages:
                    continue
                stages.add(sid)
                si = tracker.getStageInfo(sid)
                if si is not None:
                    tasks += si.numTasks
        rec = {"wall_s": wall, "jobs": len(jobs),
               "stages": len(stages), "tasks": tasks,
               "codegen_compiles": n_compiles}
        if err:
            rec["err"] = err
        out[name] = rec
        try:
            spark.catalog.clearCache()
            for jrdd in sc._jsc.getPersistentRDDs().values():
                jrdd.unpersist(False)
        except Exception:
            pass

    ok = {n: r for n, r in out.items() if "err" not in r}
    payload = {
        "sf_dir": sf_dir,
        "n": len(out),
        "total_wall_s": round(sum(r["wall_s"] for r in ok.values()), 1),
        "total_jobs": sum(r["jobs"] for r in ok.values()),
        "total_stages": sum(r["stages"] for r in ok.values()),
        "total_tasks": sum(r["tasks"] for r in ok.values()),
        "total_codegen_compiles": sum(
            r["codegen_compiles"] for r in ok.values()),
        "queries": out,
    }
    print(json.dumps({k: payload[k] for k in payload if k != "queries"}))
    if out_path:
        with open(out_path, "w") as f:
            json.dump(payload, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
