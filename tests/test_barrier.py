"""Operator intermediates go through one barrier
(``scale_patterns.barrier``), which never enters the session's
CacheManager: a repeated query reruns the jobs of its first run instead
of reading the first run's cached rows, and a run leaves at most its
result's checkpoint persisted."""

from __future__ import annotations

import uuid

import pytest

from etl_arcgis_spark import registry
from perfbench.tracing import SparkCounters
from test_dedup_clustering import SF  # the sf0.01 fixtures


def _run(spark, name: str) -> dict[str, float]:
    """Build and noop-materialize ``name`` once; its status-store totals."""
    counters = SparkCounters(spark)
    group = f"{name}#{uuid.uuid4().hex}"
    before = counters.begin(group)
    try:
        df = registry.all_queries()[name](spark, SF)
        df.write.format("noop").mode("overwrite").save()
    finally:
        totals = counters.end(group, before)
    return totals


@pytest.mark.parametrize(
    "name",
    [
        "graph_triangle_count",
        "etl_quarantine_split",
        "graph_hits_scores",
        pytest.param("graph_betweenness_sampled", marks=pytest.mark.slow),
        pytest.param("graph_kcore_peel", marks=pytest.mark.slow),
    ],
)
def test_repeated_query_reruns_its_jobs_and_leaks_nothing(spark, name):
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    cache = spark._jsparkSession.sharedState().cacheManager()
    runs = []
    for _ in range(2):
        persistent = jsc.getPersistentRDDs().size()
        runs.append(_run(spark, name))
        assert cache.isEmpty(), f"{name} left a plan in the CacheManager"
        assert jsc.getPersistentRDDs().size() <= persistent + 1, (
            f"{name} left more than its result's checkpoint persisted"
        )
    first, second = runs
    same = ["shuffle_write_bytes"]
    # graph_kcore_peel's job count varies by one or two between runs in
    # one session before barriers existed too (38-40 over six runs): AQE
    # decides at run time whether to broadcast a small join side
    if name != "graph_kcore_peel":
        same.append("jobs")
    assert [second[k] for k in same] == [first[k] for k in same], (
        f"{name}'s second run did different work: {first} vs {second}"
    )
