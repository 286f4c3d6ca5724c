"""Session-state census: run every registry query once at sf0.001 through
the noop sink and record what it leaves behind in the session, with no
cleanup inside the query's own run.

For each query it prints one line: the CacheManager entries left
(``cache``), the persistent RDDs left, split into ``localCheckpoint``
blocks (``lcp``) and everything else (``other``), and the conf keys that
differ from the snapshot taken before the query (``conf``, as
``key:before->after``).  Between queries it restores
the conf snapshot and frees every cache entry and persistent RDD, so one
query's leftovers do not hide the next one's.  A summary line at the end
counts the queries with each kind of leftover.

Run from the repo root, with SF_DIR the sf0.001 testdata directory:
``SPARK_GRAFT_CPUS=4 python plans/pins/state_census.py SF_DIR``.
"""

import os
import sys

sys.path.insert(0, os.getcwd())

import __spark_entry__ as entry  # noqa: E402
from sf_datalake_spark.session import get_spark_session  # noqa: E402

sf_dir = sys.argv[1]
spark = get_spark_session("state_census")
sc = spark.sparkContext
cache_manager = spark._jsparkSession.sharedState().cacheManager()


def reset(snapshot: dict) -> None:
    now = dict(spark.conf.getAll)
    for k in now.keys() - snapshot.keys():
        spark.conf.unset(k)
    for k, v in snapshot.items():
        if now.get(k) != v:
            spark.conf.set(k, v)
    spark.catalog.clearCache()
    for jrdd in sc._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)


totals = {"cache": 0, "lcp": 0, "other": 0, "conf": 0}
n_lcp_rdds = 0
for name, fn in entry.queries().items():
    before = dict(spark.conf.getAll)
    err = ""
    try:
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 — record and keep going
        err = " err=" + repr(e)[:80].replace("\n", " ")
    after = dict(spark.conf.getAll)
    cache = cache_manager.numCachedEntries()
    rdds = [r.rdd() for r in sc._jsc.getPersistentRDDs().values()]
    lcp = sum(1 for r in rdds if r.isLocallyCheckpointed())
    other = len(rdds) - lcp
    conf = [
        f"{k}:{before.get(k, 'unset')}->{after.get(k, 'unset')}"
        for k in sorted(before.keys() | after.keys())
        if before.get(k) != after.get(k)
    ]
    print(f"{name} cache={cache} lcp={lcp} other={other} "
          f"conf=[{','.join(conf)}]{err}", flush=True)
    for key, hit in (("cache", cache), ("lcp", lcp), ("other", other),
                     ("conf", conf)):
        totals[key] += bool(hit)
    n_lcp_rdds += lcp
    reset(before)

print(f"# queries leaving: cache entries {totals['cache']}, "
      f"localCheckpoint RDDs {totals['lcp']} ({n_lcp_rdds} RDDs), "
      f"other persistent RDDs {totals['other']}, changed confs {totals['conf']}")
