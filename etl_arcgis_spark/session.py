"""SparkSession factory with the engine-wide determinism policy.

Policy (SURVEY.md §4, §5.3): UTC session timezone (parity with the
DuckDB oracle's UTC-naive timestamps), ANSI mode on (match DuckDB
cast/overflow semantics), AQE on (runtime re-plan: coalesce post-shuffle
partitions, skew-join splitting — required at 100 TB), Arrow enabled for
the pandas-UDF path, and shuffle partitions sized to the environment
rather than the 200 default.

At cluster scale the same factory applies; only ``shuffle_partitions``
and memory sizing change (driven by env, not code).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_session(
    app_name: str = "etl_arcgis_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    Local mode uses ``local[$SPARK_GRAFT_CPUS]`` (default all cores).
    The config below is the portable subset: on a real cluster the
    master/memory settings come from spark-submit, while the semantic
    settings (timezone, ANSI, AQE, Arrow) must hold everywhere.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Pin BLAS to one thread per Python worker (r11, VERDICT r10 #7):
    # task-level parallelism already covers the cores (32 mapInPandas
    # blocks), so an unpinned OpenBLAS would run 32 workers x 32
    # threads on the numpy-GEMM operators — pure scheduler contention.
    # Python workers fork from a daemon that inherits this process's
    # environment, so setting it before the JVM starts reaches them.
    # setdefault: an explicit user setting wins.
    for _v in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # --- semantics (must match the DuckDB oracle) ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # parquet read policy (see tables.py): events.ts TIMESTAMP(NANOS)
        # -> int64 ns; ms timestamps as UTC TIMESTAMP, not NTZ
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Python Data Source filter pushdown (sources/arcgis_sim.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- adaptive execution: runtime coalesce + skew handling ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE coalescing floor (optimization r12): the default 1 MB
        # minPartitionSize coalesces small-bytes/compute-dense shuffles
        # (candidate-pair verification, per-row lambda ladders) to 2-3
        # tasks, starving the cores — measured 16.6->5.7 s on
        # dedup_prefix_filter_join, 10.5->3.7 s on
        # dedup_semantic_buckets at sf0.1 with a 64k floor, no change
        # on scan-bound queries. Scale-safe: with parallelismFirst
        # (default true) the coalesce target is bytes/parallelism,
        # which dwarfs ANY floor on real data volumes — the floor only
        # binds on tiny-bytes stages, exactly where it should not.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
        # --- shuffle sizing: ~cores locally, data-driven on a cluster ---
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # --- Arrow for the pandas-UDF slow path ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # 16g local default (optimization r12): 32 concurrent tasks x
        # array-heavy aggregation states (collect_list adjacency
        # unions, checkpoint blocks) starved an 8g heap in long
        # sessions — a 35-query sweep died on GCLocker allocation
        # stalls and late-session queries ran 2-4x their fresh cost;
        # at 16g the same sweep completes with every query at its
        # fresh-session time. Env-overridable; on a cluster memory
        # comes from spark-submit, not this default.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
