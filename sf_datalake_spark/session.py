"""SparkSession factory with scale-appropriate defaults.

Reference behavior replaced: ``sf_datalake.utils.get_spark_session``
(reference ``src/sf_datalake/utils.py:15-20``) set an obsolete Spark-2.x
shuffle transport and a driver result cap. Here we configure a modern
Spark 4.x session: AQE on (runtime re-planning, skew-join handling,
partition coalescing), Arrow on (fast pandas interchange), UTC session
timezone (deterministic date semantics vs external oracles).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Generated classes Spark's codegen cache keeps.  A static conf: the
#: cache is one Guava cache per JVM, sized when Spark first generates
#: code, so only the session build can set it.  It is keyed by generated
#: source, so a rerun query finds its classes there instead of
#: recompiling them with Janino on the driver and JIT-ing them again.
#: Spark's default of 100 is smaller than one query set: one pass of
#: the 11 core panel queries compiles 144-146 classes, so each rerun of
#: the pass recompiled 120 of them.  One pass of all 306 queries at sf0.001
#: compiles 3878 classes (CodegenMetrics compile count, local[4]);
#: twice that leaves room for the cache's per-segment eviction and
#: for other workloads sharing the session.  The cost is the memory of
#: the classes kept: after that pass and a full GC, metaspace held
#: 283 MB against 250 MB at the default size, and the JIT code heaps
#: 153 MB against 122 MB.
CODEGEN_CACHE_ENTRIES = 8192


def get_spark_session(
    app_name: str = "sf_datalake_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from the submit environment; locally
    we default to ``local[N]`` with N = SPARK_GRAFT_CPUS. Shuffle
    partitions default to the core count — at 100 TB scale the caller
    should raise this (or rely on AQE coalescing from a high initial
    value); the knob is exposed rather than hidden.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime filtering: build a bloom filter from a join's selective
        # side and push it into the other side's scan — at 100 TB this
        # prunes shuffle input the static optimizer can't see. Pinned on
        # explicitly (the default has flipped across Spark minors).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # MIN/MAX/COUNT over parquet answer from footer statistics
        # without touching a data page (off by default).
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        # Every class Janino compiles is new to HotSpot, which JITs it
        # into the code cache from cold.  While Spark's codegen cache
        # held only its default 100 classes, a query rerun after its
        # classes were evicted compiled them again as NEW classes, so a
        # many-query drive kept adding code: JDK 17's default 240 MB
        # code cache filled, the JIT silently stopped compiling, and
        # late-run queries executed INTERPRETED — audited in round 5 as
        # a positional 5-10x inflation of small codegen-bound queries
        # at the tail of a 300-query drive.  CODEGEN_CACHE_ENTRIES now
        # stops the recompiles; the larger code cache (the setting
        # Spark's own tuning guide prescribes for many-query
        # applications) still covers the first compile of every class.
        # Only effective when this builder launches the JVM (local
        # mode / driver); harmless if a running gateway already exists.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
    )
    if master:
        builder = builder.master(master)
    else:
        # Only default to local[N] when no master was provided by the
        # submit environment — spark-submit passes --master as the
        # spark.master system property, NOT an env var, and overriding
        # it would silently run the "cluster" job single-node.
        from pyspark import SparkConf

        if not SparkConf().contains("spark.master"):
            builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
