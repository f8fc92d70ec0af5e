"""Round-4 re-spellings of the Exchange-SinglePartition global windows.

The round-3 verdict found four queries whose unpartitioned window moved
the whole (unbounded) input through ONE task. They were re-spelled on
the two-phase bucket-offset pattern (scale_patterns.bucketed_global_rank
/ bucketed_running_sums). The property each rewrite must hold is EXACT
output equality with the old single-window spelling — asserted here by
reconstructing the old spelling inline — plus the plan property that the
heavy window is partitioned (only the |bins|-row offset window may be
unpartitioned).

Also pins the audit detector itself (tools/audit_plans.unpartitioned_
window) against the probed plan-text formats, so the rule can't rot.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_arcgis_spark import registry
from etl_arcgis_spark.operators.scale_patterns import (
    bucketed_global_rank,
    bucketed_running_sums,
)
from tools.audit_plans import unpartitioned_window

SF_DIR = "/root/testdata/sf0.001"


# Slow tier (optimization r13, VERDICT r12 order #2): heavyweight
# subprocess/streaming/property suite — excluded from the default
# pytest run (pytest.ini), executed with `-m slow`.
pytestmark = pytest.mark.slow


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _run(spark, name):
    return registry.all_queries()[name](spark, SF_DIR)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ---------------------------------------------------------------- helpers


def test_bucketed_global_rank_matches_naive_window(spark):
    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 101).cast("double").alias("v"),  # many ties
        F.col("id").alias("k"),
    )
    got = bucketed_global_rank(df, "v", "k", n_bins=16)
    naive = df.withColumn(
        "grank",
        F.row_number()
        .over(Window.orderBy(F.asc("v"), F.asc("k")))
        .cast("bigint"),
    )
    assert _rows(got.select("v", "k", "grank")) == _rows(
        naive.select("v", "k", "grank")
    )
    # ranks are a permutation of 1..N and n_total is constant N
    assert _rows(got.select("grank")) == [(i,) for i in range(1, 501)]
    assert got.select("n_total").distinct().collect()[0][0] == 500


def test_bucketed_global_rank_degenerate_all_equal(spark):
    # max == min: every row pins to bin 0 explicitly (no NaN binning);
    # ranks come from the tie-breaker alone.
    df = spark.range(0, 50).select(
        F.lit(7.5).alias("v"), F.col("id").alias("k")
    )
    got = bucketed_global_rank(df, "v", "k", n_bins=8)
    assert _rows(got.select("k", "grank")) == [(i, i + 1) for i in range(50)]


def test_bucketed_running_sums_match_naive_window(spark):
    df = spark.range(0, 300).select(
        F.col("id").alias("d"),
        (F.col("id") % 7).alias("a"),
        (F.col("id") % 3).alias("b"),
    )
    got = bucketed_running_sums(
        df, "d", F.expr("d div 32"), {"a": "ca", "b": "cb"}
    )
    w = Window.orderBy(F.asc("d")).rowsBetween(Window.unboundedPreceding, 0)
    naive = df.select(
        "d", F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
    )
    assert _rows(got.select("d", "ca", "cb")) == _rows(naive)


# ------------------------------------------------- rewritten-query parity


def test_equidepth_histogram_equals_ntile_spelling(spark):
    from etl_arcgis_spark.tables import table

    got = _run(spark, "agg_equidepth_histogram")
    o = table(spark, SF_DIR, "orders")
    w = Window.orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    old = (
        o.select("o_totalprice", F.ntile(10).over(w).cast("bigint").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
            F.round(F.sum("o_totalprice"), 0).alias("total"),
        )
    )
    assert _rows(got) == _rows(old)


def test_ntile_percent_equals_window_spelling(spark):
    from etl_arcgis_spark.tables import table

    got = _run(spark, "window_ntile_percent")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    old = table(spark, SF_DIR, "orders").select(
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 4).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 4).alias("cume"),
    )
    assert _rows(got) == _rows(old)


def test_gini_equals_window_spelling(spark):
    from etl_arcgis_spark.helpers import r4
    from etl_arcgis_spark.tables import table

    got = _run(spark, "stats_gini_revenue")
    od = table(spark, SF_DIR, "orders")
    r = od.groupBy("o_custkey").agg(r4(F.sum("o_totalprice")).alias("rev"))
    wr = Window.orderBy(F.col("rev").asc(), F.col("o_custkey").asc())
    k = r.select(
        "rev",
        F.row_number().over(wr).cast("double").alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("double").alias("n"),
    )
    gini = (
        F.lit(2.0) * F.sum(F.col("rk") * F.col("rev")) / (F.col("n") * F.sum("rev"))
        - (F.col("n") + 1.0) / F.col("n")
    )
    old = (
        k.groupBy("n")
        .agg(r4(gini).alias("gini"))
        .select("gini", F.col("n").cast("bigint").alias("n_customers"))
    )
    assert _rows(got) == _rows(old)


def test_vocab_growth_equals_window_spelling(spark):
    from etl_arcgis_spark.tables import table

    got = _run(spark, "text_vocab_growth")
    docs = table(spark, SF_DIR, "documents").withColumn(
        "w", F.split("text", " ")
    )
    fw = (
        docs.select("doc_id", F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_doc = fw.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    tok = docs.select("doc_id", F.size("w").alias("n_tok"))
    w = Window.orderBy(F.col("doc_id").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    old = tok.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.sum(F.coalesce("new_words", F.lit(0)))
        .over(w)
        .cast("bigint")
        .alias("vocab_size"),
        F.sum("n_tok").over(w).cast("bigint").alias("corpus_tokens"),
    )
    assert _rows(got) == _rows(old)


# ------------------------------------------------------- plan properties


def test_rewritten_queries_heavy_window_is_bin_partitioned(spark):
    """The full-table row_number runs PARTITIONED by the range bin; the
    only unpartitioned windows left operate on the per-bin aggregate."""
    for name in ("agg_equidepth_histogram", "stats_gini_revenue", "window_ntile_percent"):
        p = _plan(_run(spark, name))
        assert any(
            line.lstrip(" +-*:").startswith("Window ") and "], [_bin#" in line
            for line in p.splitlines()
        ), f"{name}: no _bin-partitioned Window in plan:\n{p}"


def test_vocab_growth_heavy_window_is_bucket_partitioned(spark):
    p = _plan(_run(spark, "text_vocab_growth"))
    assert any(
        line.lstrip(" +-*:").startswith("Window ") and "], [_bucket#" in line
        for line in p.splitlines()
    ), f"no _bucket-partitioned Window in plan:\n{p}"


# ------------------------------------------------------ detector itself


def test_unpartitioned_window_detector_formats():
    part_only = "Window [count(1) windowspecdefinition(g#1L, specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS c#2L], [g#1L]"
    part_order = "Window [row_number() windowspecdefinition(g#1L, id#0L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS c#4], [g#1L], [id#0L ASC NULLS FIRST]"
    order_only = "Window [row_number() windowspecdefinition(id#0L ASC NULLS FIRST, specifiedwindowframe(RowFrame, unboundedpreceding$(), currentrow$())) AS c#6], [id#0L ASC NULLS FIRST]"
    empty = "Window [count(1) windowspecdefinition(specifiedwindowframe(RowFrame, unboundedpreceding$(), unboundedfollowing$())) AS c#8L]"
    assert not unpartitioned_window("+- " + part_only)
    assert not unpartitioned_window("+- " + part_order)
    assert unpartitioned_window("+- " + order_only)
    assert unpartitioned_window("+- " + empty)
    assert not unpartitioned_window("Project [a#1]\n+- Filter (a#1 > 2)")


def test_detector_live_on_spark_plans(spark):
    df = spark.range(10).withColumn("g", F.col("id") % 2)
    bad = df.withColumn("rn", F.row_number().over(Window.orderBy("id")))
    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    )
    assert unpartitioned_window(_plan(bad))
    assert not unpartitioned_window(_plan(good))


def test_bucketed_global_rank_pathological_skew(spark):
    """99.8% of rows share one value (one mega-bin) plus outliers on
    both sides: binning degenerates but ranks stay exact — ties share
    a bin by construction and the tie-breaker totals the order."""
    df = spark.range(0, 500).select(
        F.when(F.col("id") == 0, -1000.0)
        .when(F.col("id") == 499, 1000.0)
        .otherwise(42.0)
        .alias("v"),
        F.col("id").alias("k"),
    )
    got = bucketed_global_rank(df, "v", "k", n_bins=32)
    naive = df.withColumn(
        "grank",
        F.row_number().over(Window.orderBy(F.asc("v"), F.asc("k"))).cast("bigint"),
    )
    assert _rows(got.select("v", "k", "grank")) == _rows(
        naive.select("v", "k", "grank")
    )


def test_bucketed_global_rank_exponential_values(spark):
    """Exponentially-spread values: nearly all bins empty, everything
    in bin 0 except the giants — still exact."""
    df = spark.range(1, 60).select(
        F.pow(F.lit(1.5), F.col("id")).alias("v"), F.col("id").alias("k")
    )
    got = bucketed_global_rank(df, "v", "k", n_bins=16)
    assert _rows(got.select("grank")) == [(i,) for i in range(1, 60)]
    # monotone: rank order equals value order (values strictly increasing)
    pairs = sorted((r.k, r.grank) for r in got.collect())
    assert [g for _, g in pairs] == list(range(1, 60))


def test_grouped_two_phase_median_equals_naive(spark):
    """The grouped two-phase median equals a plain per-group exact
    percentile for every group (same property the global operator
    carries, along the group axis)."""
    from etl_arcgis_spark.tables import table

    got = {
        r.o_orderpriority: (r.n, r.median_price)
        for r in _run(spark, "agg_median_two_phase_grouped").collect()
    }
    naive = {
        r.o_orderpriority: (r.n, r.m)
        for r in table(spark, SF_DIR, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("m"),
        )
        .collect()
    }
    assert got == naive


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st



@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=120,
    ),
    n_bins=st.sampled_from([1, 2, 7, 64]),
)
def test_bucketed_global_rank_hypothesis(spark, vals, n_bins):
    """Randomized equivalence with the naive global window across
    arbitrary float distributions (duplicates, negatives, huge spread,
    single-element) and bin counts including the degenerate n_bins=1."""
    df = spark.createDataFrame(
        [(float(v), i) for i, v in enumerate(vals)], "v DOUBLE, k LONG"
    )
    got = bucketed_global_rank(df, "v", "k", n_bins=n_bins)
    naive = df.withColumn(
        "grank",
        F.row_number().over(Window.orderBy(F.asc("v"), F.asc("k"))).cast("bigint"),
    )
    assert _rows(got.select("v", "k", "grank")) == _rows(
        naive.select("v", "k", "grank")
    )


# --------------------------------------------- round-5 rewrite: packing


def test_pack_sequences_equals_global_window_spelling(spark):
    """r5 re-spelling of sample_pack_sequences (the last table-sized
    unpartitioned window): bucketed_running_sums over 256 md5-prefix
    buckets must equal the old sum() OVER (ORDER BY ord_key) spelling
    exactly."""
    from etl_arcgis_spark.tables import table

    got = _run(spark, "sample_pack_sequences")
    docs = table(spark, SF_DIR, "documents")
    toks = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    w = Window.orderBy("ord_key").rowsBetween(Window.unboundedPreceding, 0)
    runs = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    before = F.col("cum_tokens") - F.col("n_tokens")
    pack = F.floor(before / 2048.0).cast("bigint")
    old = runs.select(
        "doc_id",
        "n_tokens",
        pack.alias("pack_id"),
        (before - pack * 2048).cast("bigint").alias("pack_offset"),
    )
    assert _rows(got) == _rows(old)


def test_pack_sequences_heavy_window_is_bucket_partitioned(spark):
    p = _plan(_run(spark, "sample_pack_sequences"))
    assert any(
        line.lstrip(" +-*:").startswith("Window ") and "], [_bucket#" in line
        for line in p.splitlines()
    ), f"no _bucket-partitioned Window in plan:\n{p}"


def test_bucketed_global_rank_nulls_rank_first(spark):
    """ADVICE r4: NULL values previously got a NULL _bin and were
    silently DROPPED by the offsets equi-join. They now map to bin -1
    and rank first — exactly the naive window's ASC NULLS FIRST."""
    df = spark.createDataFrame(
        [(None, 0), (5.0, 1), (None, 2), (1.0, 3), (3.0, 4)],
        "v DOUBLE, k LONG",
    )
    got = bucketed_global_rank(df, "v", "k", n_bins=4)
    naive = df.withColumn(
        "grank",
        F.row_number().over(Window.orderBy(F.asc("v"), F.asc("k"))).cast("bigint"),
    )
    key = lambda r: (r[1], r[2])  # k, grank (v may be None)
    assert sorted(got.select("v", "k", "grank").collect(), key=key) == sorted(
        naive.select("v", "k", "grank").collect(), key=key
    )
    assert got.count() == 5  # nothing dropped
    # all-NULL input: ranks purely by tie-breaker
    alln = spark.createDataFrame([(None, i) for i in range(4)], "v DOUBLE, k LONG")
    got2 = bucketed_global_rank(alln, "v", "k", n_bins=4)
    assert _rows(got2.select("k", "grank")) == [(i, i + 1) for i in range(4)]


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=100
    ),
    bucket_width=st.sampled_from([1, 7, 32]),
)
def test_bucketed_running_sums_hypothesis(spark, vals, bucket_width):
    """Randomized equivalence of the two-phase running sum with the
    naive global window across arbitrary integer sequences and bucket
    widths (including width 1 = one bucket per row)."""
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "d LONG, a LONG"
    )
    got = bucketed_running_sums(
        df, "d", F.expr(f"d div {bucket_width}"), {"a": "ca"}
    )
    w = Window.orderBy(F.asc("d")).rowsBetween(Window.unboundedPreceding, 0)
    naive = df.select("d", F.sum("a").over(w).alias("ca"))
    assert _rows(got.select("d", "ca")) == _rows(naive)
