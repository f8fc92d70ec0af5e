"""bench.measure — the one timing and counting path of bench.py,
tools/sweep_all.py and tools/scaling.py — counts every job a build
runs, counts each call on its own, and the sweep writes its counters
per query."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import bench
from perfbench.tracing import SPARK_COUNTERS, SparkCounters

SF = "/root/testdata/sf0.001"
_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spy_groups(monkeypatch) -> list[str]:
    """The job groups bench.measure counts under, in call order."""
    groups: list[str] = []

    class Spy(SparkCounters):
        def begin(self, group):
            groups.append(group)
            return super().begin(group)

    monkeypatch.setattr(bench, "SparkCounters", Spy)
    return groups


def test_measure_counts_build_time_checkpoint_jobs(spark, monkeypatch):
    groups = _spy_groups(monkeypatch)

    def build():
        shuffled = spark.range(20_000).repartition(8, "id").selectExpr("id", "id % 97 AS k")
        return shuffled.localCheckpoint().groupBy("k").count()

    build_s, sec, c = bench.measure(spark, build, "checkpointed", warmups=1, runs=1)
    assert set(c) == set(SPARK_COUNTERS) and build_s > 0 and sec > 0
    tracker = spark.sparkContext.statusTracker()
    assert c["jobs"] == len(tracker.getJobIdsForGroup(groups[-1])) >= 2
    # the final plan alone: the aggregate over an already-checkpointed frame
    final = build()
    _, _, f = bench.measure(spark, lambda: final, "final_plan", warmups=1, runs=1)
    assert 0 < f["shuffle_write_bytes"] < c["shuffle_write_bytes"]

    # the same name again gets its own group: nothing accumulates
    _, _, again = bench.measure(spark, build, "checkpointed", warmups=1, runs=1)
    assert again["jobs"] == c["jobs"] == len(tracker.getJobIdsForGroup(groups[-1]))
    assert again["shuffle_write_bytes"] == c["shuffle_write_bytes"]


def test_sweep_writes_time_and_counters_per_query(tmp_path):
    out = tmp_path / "sweep.json"
    names = ["agg_groupby_stats", "join_star_multiway"]
    subprocess.run(
        [sys.executable, os.path.join(_REPO, "tools", "sweep_all.py"),
         "--sf", SF, "--n", "1", "--out", str(out), *names],
        check=True, capture_output=True, timeout=300,
    )
    got = json.loads(out.read_text())
    assert set(got["floors"]) == {
        "floor_sec_per_job", "floor_sec_per_query", "floor_sec_python_stage"}
    for name in names:
        q = got["queries"][name]
        assert {"sec", "adj_sec", "build", *SPARK_COUNTERS} <= set(q), q
        assert q["jobs"] >= 1 and q["shuffle_write_bytes"] > 0 and q["input_bytes"] > 0
