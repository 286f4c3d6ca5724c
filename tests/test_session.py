"""What a query borrows from the session comes back: ``pinned``,
``scoped_confs`` and ``fit_ready`` release their pin or restore their
confs on exit, also when the block raises."""

from __future__ import annotations

import contextlib

import pytest

from sf_datalake_spark.ml import fit_ready
from sf_datalake_spark.session import pinned, scoped_confs

#: a conf with a Spark default that the test session does not set
_UNSET_KEY = "spark.sql.sources.partitionOverwriteMode"
#: a conf get_spark_session sets explicitly
_SET_KEY = "spark.sql.shuffle.partitions"


def _explicit(spark) -> dict:
    return dict(spark.conf.getAll)


def _cache_manager(spark):
    return spark._jsparkSession.sharedState().cacheManager()


def _cache_empty(spark) -> bool:
    return _cache_manager(spark).isEmpty()


@pytest.mark.parametrize("raises", [False, True])
def test_scoped_confs_restores_unset_and_set_keys(spark, raises):
    spark.conf.unset(_UNSET_KEY)
    old = _explicit(spark)[_SET_KEY]
    with pytest.raises(RuntimeError) if raises else contextlib.nullcontext():
        with scoped_confs(spark, {_UNSET_KEY: "dynamic", _SET_KEY: "3"}):
            assert spark.conf.get(_UNSET_KEY) == "dynamic"
            assert spark.conf.get(_SET_KEY) == "3"
            if raises:
                raise RuntimeError("block failed")
    # unset before → absent from getAll after, not set to the default
    assert _UNSET_KEY not in _explicit(spark)
    assert _explicit(spark)[_SET_KEY] == old


@pytest.mark.parametrize("raises", [False, True])
def test_pinned_releases_its_cache_entry(spark, raises):
    spark.catalog.clearCache()
    df = spark.range(100)
    with pytest.raises(RuntimeError) if raises else contextlib.nullcontext():
        with pinned(df) as p:
            assert p is df
            assert p.count() == 100
            assert not _cache_empty(spark)
            if raises:
                raise RuntimeError("block failed")
    assert _cache_empty(spark)


@pytest.mark.parametrize("raises", [False, True])
@pytest.mark.parametrize("width,parts", [(32, 4), (2, 2)])
def test_fit_ready_releases_its_copy(spark, raises, width, parts):
    """Both the coalesce handover (32 → 4) and the as-is path (2)."""
    spark.catalog.clearCache()
    df = spark.range(0, 1000).repartition(width)
    with pytest.raises(RuntimeError) if raises else contextlib.nullcontext():
        with fit_ready(df, target_rows_per_partition=250) as (train, n):
            assert n == 1000
            assert train.rdd.getNumPartitions() == parts
            # one cached copy while the block runs
            assert _cache_manager(spark).numCachedEntries() == 1
            if raises:
                raise RuntimeError("fit failed")
    assert _cache_empty(spark)
