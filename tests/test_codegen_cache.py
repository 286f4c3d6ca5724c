"""Spark's codegen cache holds a repeated workload's generated classes.

Spark caches each generated class by its source text, in a cache of
``spark.sql.codegen.cache.maxEntries`` classes (default 100).  The 11
panel queries below need more than that in one pass, so at the default
the cache evicts while the pass runs and every rerun recompiles on the
driver and JITs the new classes from cold.  ``get_spark_session`` sizes
the cache for the registry's working set; a second pass of the same
queries must then compile nothing.
"""

from __future__ import annotations

from tests.test_plans import SF_DIR

PANEL = [
    "monthly_panel", "panel_lag", "panel_moving_avg", "panel_diff",
    "target_variable", "spread_over_months", "range_join_months",
    "interval_union", "asof_backward", "sessionize", "revenue_by_nation",
]


def _compile_count(spark) -> int:
    return (
        spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME().getCount()
    )


def _run_pass(spark, qs) -> int:
    c0 = _compile_count(spark)
    for name in PANEL:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    return _compile_count(spark) - c0


def test_rerun_of_panel_queries_compiles_nothing(spark):
    import __spark_entry__ as entry

    qs = entry.queries()
    first = _run_pass(spark, qs)
    second = _run_pass(spark, qs)
    assert second == 0, (
        f"second pass recompiled {second} classes (first pass compiled "
        f"{first}; codegen cache maxEntries="
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')})"
    )
