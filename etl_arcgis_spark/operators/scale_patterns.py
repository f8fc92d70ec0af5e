"""Scale patterns — skew salting and space-filling-curve layout.

Not query-inventory operators but the physical techniques the 100 TB
posture relies on where AQE alone is not enough:

- ``salted_groupby``: two-phase aggregation for a pathologically hot
  key. AQE's skew-join splitting handles skewed *joins*; a skewed
  *aggregation* key still funnels one group through one reducer —
  salting splits it N ways, aggregates partials, then merges.
- ``zorder_key``: Morton (Z-order) interleave of quantized lon/lat.
  Sorting/partitioning a table by this key makes spatial envelope
  predicates (filter_spatial_envelope, B11) prune row groups: parquet
  min/max stats on the z column bound both dimensions at once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def spread_for_fanout(
    df: DataFrame, n_rows: int | None = None, rows_per_task: int = 50
) -> DataFrame:
    """Round-robin repartition of a SMALL frame across the session's
    default parallelism, placed immediately BEFORE a multiplicative
    compute stage (a B-replicate explode, an O(n²) pair probe, a
    per-row HOF/md5 ladder).

    Why (optimization r12, guide §2.7 stragglers): a narrow scan often
    yields far fewer splits than cores (the fixtures are single
    row-group files → ONE task), so everything downstream of it runs
    serial no matter how many cores the session has. When the next
    stage multiplies work ×B or ×n, that serialization — not the scan
    — dominates. The exchange this inserts costs one shuffle of the
    PRE-fan-out rows (the small side by construction) and buys
    cores-fold parallelism on the fan-out compute at any scale; on a
    cluster where the scan already produced enough splits it degrades
    to a cheap balancing pass of the small frame. Deterministic:
    round-robin assignment is fixed given the input order
    (sortBeforeRepartition), and every caller aggregates
    exchange-order-safely (exact integers or §5.3.1-audited doubles).

    Use ONLY before fan-outs. Scan-bound queries must NOT pay this
    exchange (OPTIMIZATION_r12.md batch-1 note).

    Width cap (optimization r13, VERDICT r12 order #7): with an
    ``n_rows`` hint (parquet-footer count of the base table — an upper
    bound for filtered frames, which is fine: the cap only needs the
    order of magnitude), the width is
    ``min(defaultParallelism, max(8, n_rows // rows_per_task))`` —
    on a many-core driver (128+) an uncapped spread of a 2k-row frame
    would produce hundreds of near-empty tasks each feeding a tiny
    fan-out, paying scheduling floors for no parallelism. At 8 and 32
    local cores the cap is inactive for every fixture table (measured
    r13), so the driver's low-core scaling point is unchanged."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    if n_rows and n_rows > 0:
        parts = min(parts, max(8, n_rows // rows_per_task))
    return df.repartition(parts)


def spread_width(spark, sf_dir: str, name: str, rows_per_task: int = 50) -> int:
    """The spread_for_fanout width cap as a bare integer, for call
    sites that spread via a SQL ``/*+ REPARTITION(n) */`` hint instead
    of DataFrame.repartition (optimization r13, VERDICT r12 order #7).
    Same formula: min(cores, max(8, footer_rows // rows_per_task))."""
    from ..tables import row_count

    parts = spark.sparkContext.defaultParallelism
    n_rows = row_count(sf_dir, name)
    if n_rows > 0:
        parts = min(parts, max(8, n_rows // rows_per_task))
    return parts


def two_phase_global_median(df: DataFrame, vcol: str, out: str = "m") -> DataFrame:
    """Exact global median as a 1-row frame WITHOUT gathering the
    column in one reducer — the agg_median_two_phase bucket
    decomposition packaged for reuse (optimization r12; that query
    keeps its own inline spelling + oracle).

    Phase 1 bins values into 1000 equi-width buckets of [min, max]
    (1-row broadcast stats) and counts per bucket — a map-side-
    combinable aggregate; cumulative bucket counts (a window over
    <= 1000 bin rows, never the input) locate the bucket(s) holding
    ranks ⌈n/2⌉ and ⌊n/2⌋+1. Phase 2 ranks ONLY those buckets' rows
    and averages the two hit values ((a+b)/2 — for p=0.5 every
    interpolation spelling agrees bit-exactly: 0.5a+0.5b and (a+b)/2
    round identically because scaling by powers of two commutes with
    IEEE rounding, so this equals Spark's percentile(v, 0.5) and
    DuckDB's median()).

    Exactness does not ride on bin-boundary float behavior: bin ids
    are monotone in the value, ranks are exact integer counts, and
    ties share a bin. Degenerate all-equal columns pin to bin 0
    (NaN-division guard). Replaces Spark's built-in `percentile`
    (single-reduce, interpreted, ~2 s per call on the 600k-row
    fixture) where an exact scalar median feeds a later pass."""
    # Evaluate-once (optimization r12 session 5, the bucketed_global_
    # rank argument): stats/needed/the 1-row result are size-BOUNDED
    # and each multiply-referenced — without the barriers every
    # reference re-ran the full input subtree (profile_outliers_mad
    # nests two medians plus a count pass: ~12 input evaluations).
    v = df.select(F.col(vcol).alias("v"))
    stats = F.broadcast(
        barrier(
            v.agg(
                F.min("v").alias("mn"),
                F.max("v").alias("mx"),
                F.count(F.lit(1)).alias("n"),
            )
        )
    )
    binned = v.crossJoin(stats).withColumn(
        "bin",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(999),
                F.floor(
                    (F.col("v") - F.col("mn")) / (F.col("mx") - F.col("mn")) * 1000
                ),
            )
        )
        .cast("int"),
    )
    bc = binned.groupBy("bin", "n").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = Window.orderBy(F.asc("bin")).rowsBetween(Window.unboundedPreceding, -1)
    cum = (
        bc.select(
            "bin",
            "n",
            "cnt",
            F.coalesce(F.sum("cnt").over(w_cum), F.lit(0)).alias("cum_before"),
        )
        .withColumn("r1", F.expr("(n + 1) div 2"))
        .withColumn("r2", F.expr("n div 2 + 1"))
    )
    needed = barrier(
        cum.filter(
            (F.col("cum_before") < F.col("r2"))
            & ((F.col("cum_before") + F.col("cnt")) >= F.col("r1"))
        ).select("bin", "cum_before", "r1", "r2")
    )
    cand = binned.select("bin", "v").join(F.broadcast(needed), "bin")
    w_in = Window.partitionBy("bin").orderBy(F.asc("v"))
    ranked = cand.withColumn("grank", F.col("cum_before") + F.row_number().over(w_in))
    hits = ranked.filter(
        (F.col("grank") == F.col("r1")) | (F.col("grank") == F.col("r2"))
    )
    return barrier(hits.agg(F.avg("v").alias(out)))


def direction_double(df: DataFrame, a: str, b: str, extra: tuple = ()) -> DataFrame:
    """Emit every (a, b) row in BOTH directions with ONE evaluation of
    the upstream plan.

    Why (optimization r12, guide §2.6 reuse-vs-recompute): the usual
    ``e.union(e.select(b, a))`` spelling inlines the upstream plan into
    both union legs, and Catalyst executes deterministic subtrees per
    reference — an expensive edge builder (join + aggregate + distinct)
    runs TWICE just to flip columns (measured: the near-dup pair
    generator's persist went 5.2 s -> 2.6 s at sf0.1 after the swap).
    explode(array(fwd_struct, rev_struct)) doubles each row in-partition
    after a single evaluation: identical rows, no extra shuffle."""
    fwd = F.struct(
        F.col(a).alias(a), F.col(b).alias(b), *[F.col(c).alias(c) for c in extra]
    )
    rev = F.struct(
        F.col(b).alias(a), F.col(a).alias(b), *[F.col(c).alias(c) for c in extra]
    )
    return df.select(F.explode(F.array(fwd, rev)).alias("_e")).select(
        *[F.col(f"_e.{c}").alias(c) for c in (a, b, *extra)]
    )


def barrier(df: DataFrame, *dead: DataFrame, eager: bool = True) -> DataFrame:
    """The one materialization barrier of the operators: return ``df``
    behind a ``localCheckpoint`` (its lineage truncated, its rows
    computed once however many plans read it), then free each frame in
    ``dead`` with ``free_checkpoint``.

    The one rule: a dead frame is freed only AFTER its successor is
    materialized, since the successor's rows may still be computed from
    the dead frame's blocks until then — so ``dead`` needs ``eager``.
    Plain (never checkpointed) frames in ``dead`` are no-ops, so a loop
    may pass its init frame as round 0.

    ``eager=False`` is the lazy barrier that replaces ``persist()``: the
    first action that reads the frame materializes it. Unlike
    ``persist()`` it never enters the session's CacheManager, so a later
    run of the same plan recomputes instead of silently reading this
    run's rows. Like ``persist()`` it keeps an explicit hash layout
    (``repartition(n, key)``, optionally ``sortWithinPartitions``: the
    partition-once, iterate-many edge lists) for the joins that follow:
    such a frame is planned with AQE off, because a checkpoint of an
    adaptive plan reports UnknownPartitioning and every consumer would
    re-shuffle and re-sort the layout. Any other frame keeps the
    session's planning.

    Why free (optimization r12, guide §5): checkpoint blocks are pinned
    until the JVM garbage-collects the backing RDD *and* the
    ContextCleaner runs — in a long session that runs hundreds of
    queries (the driver's verification window, the full-registry
    sweep) dead blocks from iterative loops accumulate for minutes,
    inflating GC pressure until allocation stalls (measured: a
    35-query sweep session died with GCLocker retry failures, and
    checkpoint-loop queries ran 2x their fresh-session cost). Loops
    therefore pass round t-1 as dead when round t lands (peak storage
    O(1 round), not O(rounds)), and a function that ends in a barrier
    passes every frame its result no longer reads."""
    if dead and not eager:
        raise ValueError("barrier frees dead frames only behind an eager checkpoint")
    conf = df.sparkSession.conf
    aqe = conf.get("spark.sql.adaptive.enabled")
    layout = None if eager else df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if layout is not None and layout.getClass().getSimpleName() == "HashPartitioning":
        conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = df.localCheckpoint(eager=eager)
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe)
    for d in dead:
        free_checkpoint(d)
    return out


def free_checkpoint(df: DataFrame) -> None:
    """Release the storage blocks behind a ``barrier``ed DataFrame
    whose data is DEAD — i.e. no live plan will read it again (see
    ``barrier`` for why). The DataFrame must not be used afterwards
    (its lineage was truncated at checkpoint time, so the blocks are
    the only copy). A frame that is not itself a checkpoint is a no-op.

    The py4j accessor path (analyzed plan -> LogicalRDD -> rdd ->
    unpersist) is version-sensitive. Failing to free is safe, so a
    ``Py4JError`` on that path (a renamed accessor) becomes a
    RuntimeWarning rather than an exception; any other error (e.g. a
    non-DataFrame argument) propagates."""
    from py4j.protocol import Py4JError

    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Py4JError as e:
        import warnings

        warnings.warn(
            f"free_checkpoint could not release the checkpoint blocks: {e}",
            RuntimeWarning,
            stacklevel=2,
        )


def salted_groupby_sum(
    df: DataFrame, key: str, value: str, n_salts: int = 16
) -> DataFrame:
    """Two-phase skew-safe aggregation: sum(value) per key.

    Phase 1 groups by (key, random salt) — the hot key's rows spread
    over ``n_salts`` reducers; phase 2 merges the partials per key. The
    salt is random per row (monotonically_increasing_id based, so
    deterministic within a plan execution's partition layout — the
    GROUPING itself never depends on salt values, only load balance
    does, so results are exact regardless).
    """
    salted = df.withColumn("_salt", (F.monotonically_increasing_id() % n_salts))
    partial = salted.groupBy(key, "_salt").agg(
        F.sum(value).alias("_psum"), F.count(F.lit(1)).alias("_pn")
    )
    return partial.groupBy(key).agg(
        F.sum("_psum").alias(f"sum_{value}"), F.sum("_pn").alias("n")
    )


_Z_BITS = 16  # per-dimension quantization


def _spread_bits(v: Column) -> Column:
    """Interleave zeros between the low 16 bits of v (Morton spread):
    classic magic-number shifts, expressed as JVM-side bit ops.

    Note PySpark's ``|``/``&`` Column operators are *logical*; bitwise
    needs ``bitwiseOR``/``bitwiseAND``.
    """
    x = v.cast("bigint")
    x = x.bitwiseOR(F.shiftleft(x, 8)).bitwiseAND(F.lit(0x00FF00FF))
    x = x.bitwiseOR(F.shiftleft(x, 4)).bitwiseAND(F.lit(0x0F0F0F0F))
    x = x.bitwiseOR(F.shiftleft(x, 2)).bitwiseAND(F.lit(0x33333333))
    x = x.bitwiseOR(F.shiftleft(x, 1)).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(lon: Column, lat: Column) -> Column:
    """Morton key of (lon, lat): quantize each to 16 bits over the
    WGS84 range, interleave. Write-time ``repartitionByRange`` /
    ``sortWithinPartitions`` on this column gives 2-D locality with a
    1-D sort key — envelope filters then prune row groups via plain
    min/max column stats."""
    qx = F.floor((lon + 180.0) / 360.0 * ((1 << _Z_BITS) - 1)).cast("bigint")
    qy = F.floor((lat + 90.0) / 180.0 * ((1 << _Z_BITS) - 1)).cast("bigint")
    return _spread_bits(qx).bitwiseOR(F.shiftleft(_spread_bits(qy), 1))


def bucketed_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_bins: int = 1024,
    out_rank: str = "grank",
    out_n: str = "n_total",
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY value, tiebreak)``
    WITHOUT an ``Exchange SinglePartition`` — the two-phase bucket-
    offset decomposition (same family as agg_median_two_phase /
    sample_global_reid):

    1. one broadcast pass computes (min, max, count);
    2. every row bins into one of ``n_bins`` equi-width value bins —
       bins are range-disjoint in the order key, so bin id is monotone
       in ``value_col`` and value ties always share a bin (any later
       tie-break inside the bin is therefore globally consistent);
    3. per-bin counts roll up to exclusive-prefix offsets via a window
       over at most ``n_bins`` rows (bounded, broadcast back);
    4. ``row_number()`` runs PARTITIONED by bin — 100 TB splits into
       ~n_bins independent sort tasks — and the global rank is
       ``bin offset + intra-bin rank``.

    Degenerate all-equal input (max == min) pins every row to bin 0;
    ranks then come from the tie-breaker alone, still exact.

    NULL ``value_col`` rows map to a dedicated first bin (-1) so they
    rank FIRST — matching the window spelling this replaces (Spark's
    ``ORDER BY value ASC`` is NULLS FIRST); before r5 the NULL bin was
    itself NULL and the offsets equi-join silently dropped those rows.

    Evaluate-once (optimization r12, guide §2.6): the 1-row stats and
    the <= n_bins+1-row offsets frames are behind barriers —
    without the barriers Catalyst inlined the stats aggregate into
    BOTH ``binned`` references (offsets leg + join leg) and re-ran the
    full input subtree under each, 4 scans of the base per run. Both
    checkpoints are size-BOUNDED (never input-sized), so the pattern
    holds at any scale; the remaining two base evaluations (offsets
    count pass at build, ranked join leg at run) are the honest
    two-pass cost of an exact global rank without a single-partition
    sort.

    Adds ``out_rank`` (bigint, 1..N dense in global order) and
    ``out_n`` (bigint row count) to ``df``; original columns pass
    through. This is the spelling to use wherever a global
    ntile/percent_rank/cume_dist/row_number over an UNBOUNDED input
    would otherwise plan an unpartitioned WindowExec (all distribution
    stats are pure functions of (rank, n))."""
    stats = F.broadcast(
        barrier(
            df.agg(
                F.min(value_col).alias("_mn"),
                F.max(value_col).alias("_mx"),
                F.count(F.lit(1)).alias(out_n),
            )
        )
    )
    binned = df.crossJoin(stats).withColumn(
        "_bin",
        F.when(F.col(value_col).isNull(), F.lit(-1))  # NULLS FIRST bin
        .when(F.col("_mx") == F.col("_mn"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor(
                    (F.col(value_col) - F.col("_mn"))
                    / (F.col("_mx") - F.col("_mn"))
                    * n_bins
                ),
            )
        )
        .cast("int"),
    )
    w_off = Window.orderBy(F.asc("_bin")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = barrier(
        binned.groupBy("_bin")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "_bin",
            F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)).alias("_offset"),
        )
    )
    w_in = Window.partitionBy("_bin").orderBy(
        F.asc(value_col), F.asc(tiebreak_col)
    )
    return (
        binned.join(F.broadcast(offsets), "_bin")
        .withColumn(
            out_rank,
            (F.col("_offset") + F.row_number().over(w_in)).cast("bigint"),
        )
        .withColumn(out_n, F.col(out_n).cast("bigint"))
        .drop("_bin", "_mn", "_mx", "_offset")
    )


def bucketed_running_sums(
    df: DataFrame,
    order_col: str,
    bucket: Column,
    sum_cols: dict[str, str],
) -> DataFrame:
    """Exact global running sums ``sum(x) OVER (ORDER BY order_col
    ROWS UNBOUNDED PRECEDING)`` for several columns at once WITHOUT an
    ``Exchange SinglePartition``.

    ``bucket`` must be monotone non-decreasing in ``order_col`` (e.g.
    ``F.expr("doc_id div 64")`` for a dense integer key, or a date
    bucket for a time series) so that bucket concatenation IS the
    global order. Phase 1 totals each column per bucket and converts
    to exclusive-prefix offsets with a window over |buckets| rows
    (bounded, broadcast back); phase 2 runs the running sum PARTITIONED
    by bucket; result = offset + intra-bucket running sum.

    ``sum_cols`` maps input column -> output running-sum column.
    ``order_col`` must be unique within a bucket for a deterministic
    row order (it is the only sort key)."""
    b = df.withColumn("_bucket", bucket)
    w_off = Window.orderBy(F.asc("_bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    totals = b.groupBy("_bucket").agg(
        *[F.sum(src).alias(f"_t_{src}") for src in sum_cols]
    )
    offsets = totals.select(
        "_bucket",
        *[
            F.coalesce(F.sum(f"_t_{src}").over(w_off), F.lit(0)).alias(
                f"_off_{src}"
            )
            for src in sum_cols
        ],
    )
    w_in = Window.partitionBy("_bucket").orderBy(F.asc(order_col)).rowsBetween(
        Window.unboundedPreceding, 0
    )
    out = b.join(F.broadcast(offsets), "_bucket")
    for src, dst in sum_cols.items():
        out = out.withColumn(
            dst, F.col(f"_off_{src}") + F.sum(src).over(w_in)
        )
    return out.drop("_bucket", *[f"_off_{src}" for src in sum_cols])
