"""Query-scoped cache lifecycle (``bigdata_spark_assignment_spark.cache``).

Every registered query starts by releasing the previous query's
persisted intermediates, so a query's cost does not depend on what ran
before it and no cached frame outlives the query after it.
"""

from __future__ import annotations

import pytest

from pyspark.storagelevel import StorageLevel

from bigdata_spark_assignment_spark import cache
from bigdata_spark_assignment_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"
Q34 = "q34_neardup_minhash_lsh"
Q52 = "q52_corpus_prep_stats"
Q53 = "q53_neardup_clusters"


def _run(spark, name: str) -> None:
    REGISTRY[name].fn(spark, SF).write.format("noop").mode("overwrite") \
        .save()


def _cache_manager_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _jobs(spark, name: str, group: str) -> int:
    """Spark jobs one run of ``name`` starts, read from the status
    tracker after the listener bus has drained."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        _run(spark, name)
    finally:
        sc.setJobGroup(None, None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_next_query_releases_tracked_frames(spark, monkeypatch):
    tracked = []
    persist = cache.persist

    def recording(df):
        tracked.append(persist(df))
        return tracked[-1]

    monkeypatch.setattr(cache, "persist", recording)
    _run(spark, Q34)
    assert tracked, f"{Q34} persisted nothing through cache.persist"
    assert all(df.storageLevel != StorageLevel.NONE for df in tracked)

    n = len(tracked)
    REGISTRY[Q53].fn(spark, SF)
    assert all(df.storageLevel == StorageLevel.NONE for df in tracked[:n])


def test_rerun_does_not_reuse_previous_run(spark):
    first = _jobs(spark, Q34, "cache-rerun-1")
    second = _jobs(spark, Q34, "cache-rerun-2")
    assert first == second


def test_q52_leaves_no_cache_behind(spark):
    spark.catalog.clearCache()
    _run(spark, Q52)
    cache.release()
    assert _cache_manager_empty(spark)


@pytest.mark.slow
def test_all_queries_back_to_back_leave_no_cache(spark):
    spark.catalog.clearCache()
    for name in sorted(REGISTRY):
        _run(spark, name)
    cache.release()
    assert _cache_manager_empty(spark)
