"""Tests for the skew-salting and Z-order layout utilities."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_arcgis_spark.operators.scale_patterns import salted_groupby_sum, zorder_key


def test_salted_groupby_matches_plain(spark):
    # 50k rows, 90% on one hot key — the shape that melts one reducer
    df = spark.range(50_000).select(
        F.when(F.col("id") % 10 < 9, F.lit("hot")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 100).cast("string"))
        ).alias("key"),
        (F.col("id") % 7).cast("double").alias("value"),
    )
    salted = {
        (r["key"], r["sum_value"], r["n"]) for r in salted_groupby_sum(df, "key", "value").collect()
    }
    plain = {
        (r["key"], r["sum_value"], r["n"])
        for r in df.groupBy("key")
        .agg(F.sum("value").alias("sum_value"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == plain


def test_zorder_key_preserves_locality(spark):
    """Points in a small spatial cell share a z-key range disjoint from
    a far-away cell — the property row-group pruning relies on."""
    df = spark.createDataFrame(
        [(i, -120.0 + (i % 5) * 0.01, 40.0 + (i // 5) * 0.01) for i in range(25)]
        + [(100 + i, 30.0 + (i % 5) * 0.01, -10.0 + (i // 5) * 0.01) for i in range(25)],
        "id long, lon double, lat double",
    ).withColumn("z", zorder_key(F.col("lon"), F.col("lat")))
    rows = df.collect()
    west = [r["z"] for r in rows if r["lon"] < 0]
    east = [r["z"] for r in rows if r["lon"] > 0]
    # each tight cluster spans a tiny z-range; the two clusters' ranges
    # don't overlap
    assert max(west) < min(east) or max(east) < min(west)
    span_west = max(west) - min(west)
    assert span_west < (1 << 22)  # tight cluster -> tight key range


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """At 100 TB a selective dimension filter should reach the fact
    side of a shuffle join as a runtime bloom filter (semi-join
    reduction) — rows that cannot match are dropped at the fact scan
    instead of shuffling. Fixture scans sit below the default 10 GB
    application-side threshold, so the test lowers it to observe the
    injection Spark would perform at cluster scale; results must be
    unchanged by the filter."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force non-broadcast join
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        od = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
        filtered = {(r["o_orderstatus"], r["n"]) for r in j.collect()}
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    plain = {
        (r["o_orderstatus"], r["n"])
        for r in spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .join(
            spark.read.parquet("/root/testdata/sf0.001/orders.parquet").filter(
                F.col("o_totalprice") > 400000
            ),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert filtered == plain


def test_aqe_splits_skewed_join_partition(spark):
    """At 100 TB a hot join key melts one reducer unless AQE's skew-join
    splits the oversized partition into parallel sub-reads. Fixture
    shuffles sit below the default 256 MB skew threshold, so the test
    lowers it to observe the split (skew=true in the executed plan) and
    checks the join result is unchanged by the rewrite."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # keep it a shuffle join
        "spark.sql.shuffle.partitions": "8",
    }
    old = {k: spark.conf.get(k, None) for k in confs}

    def skewed_join():
        left = spark.range(200_000).select(
            F.when(F.col("id") % 100 < 95, F.lit(0))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        return left.join(right, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("v") + F.col("w")).alias("s")
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        j = skewed_join()
        split = {(r["n"], r["s"]) for r in j.collect()}
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
    plain = {(r["n"], r["s"]) for r in skewed_join().collect()}
    assert split == plain


def test_tiled_cosine_topk_equals_untiled_at_sf01(spark):
    """The (block, strip) tile decomposition returns EXACTLY the
    un-tiled blocked-GEMM top-20 at sf0.1, and — via the audit column —
    no task materialized more than one strip's worth of the right
    matrix (the bounded-memory claim the tiling exists for)."""
    from etl_arcgis_spark.operators.similarity import (
        _vec_id_bounds,
        sim_cosine_topk_pairs,
        tiled_cosine_topk,
    )

    sf = "/root/testdata/sf0.1"
    want = [
        (r["id_a"], r["id_b"], r["cosine"])
        for r in sim_cosine_topk_pairs(spark, sf).collect()
    ]
    n_strips = 4
    audited = tiled_cosine_topk(spark, sf, k=20, n_strips=n_strips, audit=True).collect()
    got = [(r["id_a"], r["id_b"], r["cosine"]) for r in audited]
    assert got == want and len(got) == 20

    vlo, vhi = _vec_id_bounds(f"{sf}/embeddings.parquet")
    strip_cap = -(-(vhi - vlo) // n_strips)
    loaded = {r["n_right_loaded"] for r in audited}
    assert loaded and max(loaded) <= strip_cap  # never the full matrix


def test_tiled_strip_slice_reads_only_the_strip():
    """_strip_slice honors its [lo, hi) bounds and memoizes per strip."""
    import numpy as np

    from etl_arcgis_spark.operators.similarity import _strip_slice, _vec_id_bounds

    path = "/root/testdata/sf0.01/embeddings.parquet"
    vlo, vhi = _vec_id_bounds(path)
    mid = (vlo + vhi) // 2
    ids_a, m_a = _strip_slice(path, vlo, mid)
    ids_b, m_b = _strip_slice(path, mid, vhi)
    assert ids_a.max() < mid <= ids_b.min()
    assert len(ids_a) + len(ids_b) == vhi - vlo
    assert np.allclose(np.linalg.norm(m_a, axis=1), 1.0)
    # memo hit returns the identical arrays
    ids_a2, _ = _strip_slice(path, vlo, mid)
    assert ids_a2 is ids_a


def test_parquet_aggregate_pushdown_footer_only_scan(spark):
    """Whole-table MIN/MAX/COUNT can be answered from parquet FOOTERS
    (no row reads) via the v2 source's aggregate pushdown — the
    statistics pass a 100 TB table gets for ~free. Assert the plan
    pushes the aggregate into the scan and values match the row-read
    answer."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    s2.conf.set("spark.sql.sources.useV1SourceList", "")
    path = "/root/testdata/sf0.001/lineitem.parquet"
    df = s2.read.parquet(path).agg(
        F.min("l_quantity").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.count(F.lit(1)).alias("n"),
    )
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "min(l_quantity)" in p.split("BatchScan")[1][:200], p
    got = df.collect()[0]
    want = (
        spark.read.parquet(path)
        .agg(F.min("l_quantity"), F.max("l_extendedprice"), F.count(F.lit(1)))
        .collect()[0]
    )
    assert tuple(got) == tuple(want)


def test_spread_for_fanout_preserves_rows_and_spreads(spark):
    """spread_for_fanout must (a) change no rows — it is a pure
    placement hint before a multiplicative compute stage — and (b)
    yield exactly defaultParallelism partitions so the fan-out work
    downstream runs cores-wide even off a single-split scan."""
    from etl_arcgis_spark.operators.scale_patterns import spread_for_fanout

    df = spark.range(0, 1000).withColumn("v", F.col("id") * 3)
    out = spread_for_fanout(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r.id for r in out.collect()) == list(range(1000))
    # deterministic: two materializations place rows identically
    a = out.withColumn("p", F.spark_partition_id()).groupBy("p").count()
    b = spread_for_fanout(df).withColumn("p", F.spark_partition_id()).groupBy("p").count()
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_free_checkpoint_unpersist_path_fires_on_this_spark_version(spark):
    """ADVICE r12: free_checkpoint reaches through private py4j
    internals (analyzed plan -> LogicalRDD -> rdd -> unpersist) and
    silently no-ops if a Spark upgrade renames them — which would
    quietly reintroduce the checkpoint-block leak it exists to fix.
    Assert the unpersist actually fires: the checkpointed RDD's id
    must appear in the context's storage info before the call and
    disappear after it."""
    import time

    from etl_arcgis_spark.operators.scale_patterns import free_checkpoint

    df = spark.range(10_000).localCheckpoint()
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    jsc = spark.sparkContext._jsc.sc()
    ids_before = {info.id() for info in jsc.getRDDStorageInfo()}
    assert rdd_id in ids_before, (
        "localCheckpoint did not register a persisted RDD — the "
        "py4j accessor path itself has drifted"
    )
    free_checkpoint(df)
    # unpersist(False) is non-blocking; poll briefly
    for _ in range(50):
        if rdd_id not in {info.id() for info in jsc.getRDDStorageInfo()}:
            break
        time.sleep(0.1)
    assert rdd_id not in {info.id() for info in jsc.getRDDStorageInfo()}, (
        "free_checkpoint silently no-opped: the checkpoint block is "
        "still persisted — update the accessor path for this Spark "
        "version"
    )


def test_free_checkpoint_frees_block_bytes_and_warns_on_accessor_drift(spark):
    """free_checkpoint releases the storage blocks of a localCheckpoint:
    the bytes the storage status reports for the checkpoint RDD drop
    to zero, with no warning raised. A py4j accessor failure (a Spark
    upgrade renaming the path) warns instead of passing silently, and
    any other error propagates."""
    import time
    import warnings

    import pytest
    from py4j.protocol import Py4JError

    from etl_arcgis_spark.operators.scale_patterns import free_checkpoint

    jsc = spark.sparkContext._jsc.sc()

    def held_bytes(rdd_id):
        return sum(
            i.memSize() + i.diskSize()
            for i in jsc.getRDDStorageInfo()
            if i.id() == rdd_id
        )

    df = spark.range(50_000).select((F.col("id") * 3).alias("x")).localCheckpoint()
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    assert held_bytes(rdd_id) > 0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        free_checkpoint(df)
    for _ in range(50):  # unpersist(False) is non-blocking
        if held_bytes(rdd_id) == 0:
            break
        time.sleep(0.1)
    assert held_bytes(rdd_id) == 0

    class _Drifted:  # a DataFrame whose py4j accessor was renamed away
        class _jdf:
            @staticmethod
            def queryExecution():
                raise Py4JError("Method queryExecution([]) does not exist")

    with pytest.warns(RuntimeWarning, match="could not release"):
        free_checkpoint(_Drifted())
    with pytest.raises(AttributeError):
        free_checkpoint(object())


def test_barrier_frees_dead_frames_after_materializing(spark):
    """barrier frees a dead frame only after its successor is
    materialized, so a successor built from the dead frame still
    collects correctly; a lazy barrier cannot free anything."""
    import time

    import pytest

    from etl_arcgis_spark.operators.scale_patterns import barrier

    jsc = spark.sparkContext._jsc.sc()

    def released(rdd_id):
        for _ in range(50):  # unpersist(False) is non-blocking; poll briefly
            if rdd_id not in {i.id() for i in jsc.getRDDStorageInfo()}:
                return True
            time.sleep(0.1)
        return False

    dead = barrier(spark.range(1_000).select((F.col("id") * 2).alias("x")))
    dead_id = dead._jdf.queryExecution().analyzed().rdd().id()
    succ = barrier(dead.select((F.col("x") + 1).alias("y")), dead)
    assert released(dead_id)
    assert sorted(r.y for r in succ.collect()) == [2 * i + 1 for i in range(1_000)]
    with pytest.raises(ValueError, match="eager"):
        barrier(succ, dead, eager=False)
