"""End-to-end training-corpus cleaning funnel — the LLM-pipeline
operators composed into one verified dataflow.

Every stage reuses the exact semantics of its standalone operator
(thresholds included), so this is the integration proof that the
pieces compose: quality gate (text.py text_quality_gate) -> exact
dedup (dedup.py dedup_exact, keep-lowest) -> bigram-Jaccard near-dup
drop (dedup.py dedup_ngram_jaccard, source-blocked) -> benchmark
n-gram decontamination (dedup.py dedup_decontaminate_ngrams). The
output is the funnel: per-stage surviving document counts — the
number every data-curation run reports — hash-checked against a
DuckDB oracle that replays the whole pipeline.

Scale: each stage is the standalone operator's plan (documented
there); composition adds NO new shuffle shapes — the funnel counts
are map-side-combined aggregates over each stage's output. At 100 TB
the stages materialize to parquet between runs (checkpointing the
funnel); here they fuse into one plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import r4
from ..registry import query
from ..tables import sql_over, table

# Spark-side pipeline: STAGED with localCheckpoint barriers (see
# _register_funnel_views below). The original one-SQL-text spelling is
# kept as the DuckDB oracle (_ORACLE_FUNNEL); Spark inlines every CTE
# per reference, so the single-text plan re-ran the near-dup pipeline
# for each of the funnel's count branches (optimization r12).
_ORACLE_FUNNEL = """
WITH t AS (
  SELECT doc_id, source, text, string_split(text, ' ') AS l FROM documents
), g AS (
  SELECT doc_id, source, text, l, len(l) AS n_tokens,
         CASE WHEN len(l) >= 2 THEN
           1.0 - CAST(len(list_distinct(list_transform(
                 generate_series(1, len(l) - 1),
                 i -> l[i] || ' ' || l[i + 1]))) AS DOUBLE) / (len(l) - 1)
         ELSE 1.0 END AS rep
  FROM t
), gated AS (
  SELECT doc_id, source, text, l FROM g
  WHERE n_tokens >= 20 AND n_tokens <= 90 AND rep <= 0.2
), exact AS (
  SELECT doc_id, source, l FROM (
    SELECT doc_id, source, l,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
), grams AS (
  SELECT DISTINCT doc_id, source, bg FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM exact
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), neardup_drop AS (
  SELECT DISTINCT id_b AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.2
), neard AS (
  SELECT e.doc_id, e.l FROM exact e
  WHERE NOT EXISTS (SELECT 1 FROM neardup_drop d WHERE d.doc_id = e.doc_id)
), g4 AS (
  SELECT doc_id, array_to_string(l[i:i+3], ' ') AS g4g
  FROM t, UNNEST(generate_series(1, len(l) - 3)) AS u(i)
  WHERE len(l) >= 4
), bench AS (
  SELECT DISTINCT g4g FROM g4 WHERE doc_id % 97 = 0
), contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM g4 c JOIN bench b ON c.g4g = b.g4g
  WHERE c.doc_id % 97 <> 0
), clean AS (
  SELECT n.doc_id FROM neard n
  WHERE n.doc_id % 97 <> 0
    AND NOT EXISTS (SELECT 1 FROM contaminated c WHERE c.doc_id = n.doc_id)
)
SELECT * FROM (
  SELECT 1 AS stage_idx, 'raw' AS stage, count(*) AS n_docs FROM t
  UNION ALL
  SELECT 2, 'quality_gated', count(*) FROM gated
  UNION ALL
  SELECT 3, 'exact_deduped', count(*) FROM exact
  UNION ALL
  SELECT 4, 'near_deduped', count(*) FROM neard
  UNION ALL
  SELECT 5, 'decontaminated', count(*) FROM clean
)
"""


def _register_funnel_views(spark: SparkSession, sf_dir: str) -> None:
    """Build the funnel's stage frames and register them as temp views
    (corpus_f_*), with THREE localCheckpoint barriers (optimization
    r13, VERDICT r12 order #5 — fused from the r12 six).

    Why barriers at all (optimization r12, guide §3.3 "materialise an
    intermediate" / §2.4): Spark inlines deterministic CTEs at every
    reference, so the original one-SQL-text funnel re-planned — and
    re-executed — the whole upstream chain for each count branch and
    each downstream CTE: the quadratic near-dup pipeline ran 3-6x per
    query. NOT result caching: the checkpoints live inside one query
    build and are recomputed from parquet on every invocation.

    Why only three (optimization r13): each barrier is a separate Spark
    job and pays the host's fixed per-job cost (~0.5-1 s here), so
    consecutive stages FUSE into one checkpoint wherever the
    intermediate had a single consumer or its consumers only need a
    filter of the fused frame:

    - ``corpus_f_exactfull`` = quality gate + md5 dedup window in ONE
      job, keeping ALL gated rows with their dedup rank ``rn``. The
      gated stage count is count(exactfull); the exact stage is the
      narrow filter rn = 1 (view ``corpus_f_exact``).
    - ``corpus_f_g4`` unchanged (its two consumers filter it two ways).
    - ``corpus_f_nclean`` = near-dup drop + decontamination in ONE job:
      the bigram `grams` set is INLINED (its three references — sizes,
      both self-join legs — share one subtree, so exchange reuse
      already bounds it to one execution; the r12 session-5 probe that
      measured checkpointing the standalone gram set SLOWER is the
      evidence), and the decontamination verdict is carried as an
      ``is_clean`` flag on the surviving near-dedup rows instead of a
      separate checkpointed anti-join. ``corpus_f_neard`` (all rows)
      and ``corpus_f_clean`` (is_clean only) are narrow filter views
      of it; ``contaminated`` doc_ids are DISTINCT, so the LEFT JOIN
      preserves row multiplicity and the flag equals the oracle's
      NOT EXISTS membership test row-for-row.

    The REPARTITION hints spread the two direct `documents` scans
    across cores before their per-token lambda ladders (the
    spread_for_fanout pattern, width-capped per VERDICT r12 order #7);
    all other stages inherit shuffle parallelism. Row sets are
    identical — placement only."""
    from .scale_patterns import barrier, spread_width

    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    p = spread_width(spark, sf_dir, "documents")

    exactfull = barrier(spark.sql(f"""
        WITH t AS (
          SELECT /*+ REPARTITION({p}) */ doc_id, source, text,
                 split(text, ' ') AS l
          FROM documents
        ), g AS (
          SELECT doc_id, source, text, l, size(l) AS n_tokens,
                 CASE WHEN size(l) >= 2 THEN
                   1.0 - CAST(size(array_distinct(transform(
                         sequence(1, size(l) - 1),
                         i -> concat(element_at(l, i), ' ', element_at(l, i + 1))))) AS DOUBLE)
                       / (size(l) - 1)
                 ELSE 1.0 END AS rep
          FROM t
        ), gated AS (
          SELECT doc_id, source, md5(text) AS h, l FROM g
          WHERE n_tokens >= 20 AND n_tokens <= 90 AND rep <= 0.2
        )
        SELECT doc_id, source, l,
               row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM gated
    """))
    exactfull.createOrReplaceTempView("corpus_f_exactfull")
    spark.sql(
        "SELECT doc_id, source, l FROM corpus_f_exactfull"
    ).createOrReplaceTempView("corpus_f_gated")
    spark.sql(
        "SELECT doc_id, source, l FROM corpus_f_exactfull WHERE rn = 1"
    ).createOrReplaceTempView("corpus_f_exact")

    g4 = barrier(spark.sql(f"""
        SELECT doc_id,
               explode(transform(sequence(1, size(l) - 3),
                       i -> concat_ws(' ', slice(l, i, 4)))) AS g4g
        FROM (SELECT /*+ REPARTITION({p}) */ doc_id, split(text, ' ') AS l
              FROM documents)
        WHERE size(l) >= 4
    """))
    g4.createOrReplaceTempView("corpus_f_g4")

    nclean = barrier(spark.sql("""
        WITH grams AS (
          SELECT DISTINCT doc_id, source, bg FROM (
            SELECT doc_id, source,
                   explode(transform(sequence(1, size(l) - 1),
                           i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))) AS bg
            FROM corpus_f_exact
          )
        ), sizes AS (
          SELECT doc_id, count(1) AS n_grams FROM grams GROUP BY doc_id
        ), inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(1) AS n_inter
          FROM grams a JOIN grams b
            ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id
        ), neardup_drop AS (
          SELECT DISTINCT id_b AS doc_id
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.2
        ), neard AS (
          SELECT e.doc_id, e.l FROM corpus_f_exact e
          WHERE NOT EXISTS (SELECT 1 FROM neardup_drop d WHERE d.doc_id = e.doc_id)
        ), bench AS (
          SELECT DISTINCT g4g FROM corpus_f_g4 WHERE doc_id % 97 = 0
        ), contaminated AS (
          SELECT DISTINCT c.doc_id
          FROM corpus_f_g4 c JOIN bench b ON c.g4g = b.g4g
          WHERE c.doc_id % 97 <> 0
        )
        SELECT n.doc_id, n.l,
               (n.doc_id % 97 <> 0 AND c.doc_id IS NULL) AS is_clean
        FROM neard n LEFT JOIN contaminated c ON c.doc_id = n.doc_id
    """), g4)  # g4 is read only inside the nclean subtree
    nclean.createOrReplaceTempView("corpus_f_nclean")
    spark.sql(
        "SELECT doc_id, l FROM corpus_f_nclean"
    ).createOrReplaceTempView("corpus_f_neard")
    spark.sql(
        "SELECT doc_id FROM corpus_f_nclean WHERE is_clean"
    ).createOrReplaceTempView("corpus_f_clean")


_FUNNEL_VIEWS = (
    "corpus_f_exactfull", "corpus_f_nclean",
    "corpus_f_gated", "corpus_f_exact",
    "corpus_f_neard", "corpus_f_g4", "corpus_f_clean",
    "corpus_f_cleanl", "corpus_f_bk2", "corpus_f_dsir",
)


def _drop_funnel_views(spark: SparkSession) -> None:
    """Drop every corpus_f_* stage view registered by this module —
    see corpus_clean_funnel for why (checkpoint-block lifetime)."""
    for v in _FUNNEL_VIEWS:
        try:
            spark.catalog.dropTempView(v)
        except Exception:
            pass


_FUNNEL_COUNTS = """
SELECT * FROM (
  SELECT 1 AS stage_idx, 'raw' AS stage, count(1) AS n_docs FROM documents
  UNION ALL
  SELECT 2, 'quality_gated', count(1) FROM corpus_f_gated
  UNION ALL
  SELECT 3, 'exact_deduped', count(1) FROM corpus_f_exact
  UNION ALL
  SELECT 4, 'near_deduped', count(1) FROM corpus_f_neard
  UNION ALL
  SELECT 5, 'decontaminated', count(1) FROM corpus_f_clean
)
"""


@query("corpus_clean_funnel", oracle=_ORACLE_FUNNEL)
def corpus_clean_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-cleaning pipeline as ONE verified dataflow:

      raw -> quality gate (20<=tokens<=90, bigram repetition <= 0.2)
          -> exact dedup (md5, keep lowest doc_id)
          -> near-dup drop (source-blocked bigram Jaccard >= 0.2,
             greedy keep-lowest: any doc that is the higher id of a
             near-dup pair is dropped)
          -> benchmark decontamination (shared word-4-gram with the
             doc_id%97 held-out slice; the slice itself leaves the
             corpus too)

    Emits per-stage surviving counts (the curation funnel report).
    Stage semantics and thresholds are identical to the standalone
    operators (text_quality_gate, dedup_exact, dedup_ngram_jaccard,
    dedup_decontaminate_ngrams) — this query is the proof they
    compose, end to end, bit-identically on both engines.

    Spark side is STAGED (see _register_funnel_views): each stage
    frame is computed once behind a localCheckpoint barrier, then the
    five counts read the checkpoints. The DuckDB oracle keeps the
    one-text CTE spelling as ground truth — the green oracle rows are
    the equivalence proof."""
    _register_funnel_views(spark, sf_dir)
    out = spark.sql(_FUNNEL_COUNTS)
    # Unpin the stage views (optimization r12 session hygiene): the
    # final frame's ANALYZED plan already embeds the checkpointed
    # stage RDDs, so the catalog references add nothing — but left in
    # place they keep the documents-scale checkpoint blocks alive for
    # the REST OF THE SESSION (a catalog pin never becomes garbage).
    # Dropping them ties the blocks' lifetime to the returned frame.
    _drop_funnel_views(spark)
    return out


# ---------------------------------------------------------------------
# corpus_curate_select: the funnel extended with SELECTION stages —
# (6) DSIR-flavored target gate, (7) PPS systematic sample. Both new
# stages keep control flow in EXACT INTEGER arithmetic (the funnel's
# float thresholds are ratios of integers, same class):
#   - the gate keeps docs where >= half their bigrams hash to buckets
#     that are target-heavier than the corpus (tc * r_tot > rc * t_tot,
#     integer cross-multiplication — no log, no division);
#   - the sample picks ~50 docs by the interval-crossing rule over
#     exact cumulative token counts, spelled TWO-PHASE (per-bucket
#     offsets + partitioned intra-bucket prefix sums) so no
#     unpartitioned window runs over the unbounded survivor set.

_ORACLE_SELECT_SUFFIX = """
, cleanl AS (
  SELECT n.doc_id, n.l FROM neard n JOIN clean c ON n.doc_id = c.doc_id
), bk2 AS (
  SELECT x.doc_id,
         (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1 AS b,
         d.lang = 'en' AS is_target
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(l) - 1),
                      i -> l[i] || ' ' || l[i + 1])) AS g
        FROM cleanl WHERE len(l) >= 2) x
  JOIN documents d ON x.doc_id = d.doc_id
), raw2 AS (
  SELECT b, count(*) AS rc,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
  FROM bk2 GROUP BY b
), tot2 AS (SELECT sum(rc) AS r_tot, sum(tc) AS t_tot FROM raw2),
posb AS (
  SELECT b FROM raw2, tot2 WHERE tc * r_tot > rc * t_tot
), scored AS (
  SELECT k.doc_id, count(*) AS n_grams,
         sum(CASE WHEN p.b IS NOT NULL THEN 1 ELSE 0 END) AS n_pos
  FROM bk2 k LEFT JOIN posb p ON k.b = p.b
  GROUP BY k.doc_id
), dsir_gated AS (
  SELECT doc_id FROM scored WHERE n_pos * 2 >= n_grams
), surv AS (
  SELECT c.doc_id, len(c.l) AS w
  FROM cleanl c JOIN dsir_gated g ON c.doc_id = g.doc_id
), sb AS (
  SELECT doc_id, w, doc_id // 64 AS bk FROM surv
), off AS (
  SELECT bk, coalesce(sum(tw) OVER (ORDER BY bk
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM (SELECT bk, sum(w) AS tw FROM sb GROUP BY bk)
), cums AS (
  SELECT s.doc_id, s.w,
         o.off + sum(s.w) OVER (PARTITION BY s.bk ORDER BY s.doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
  FROM sb s JOIN off o ON s.bk = o.bk
), tot3 AS (SELECT sum(w) AS total FROM surv),
picks AS (
  SELECT doc_id FROM cums, tot3
  WHERE (cum - w) // (total // 50) < cum // (total // 50)
    AND (cum - w) // (total // 50) < 50
)
SELECT * FROM (
  SELECT 1 AS stage_idx, 'raw' AS stage, count(*) AS n_docs FROM t
  UNION ALL SELECT 2, 'quality_gated', count(*) FROM gated
  UNION ALL SELECT 3, 'exact_deduped', count(*) FROM exact
  UNION ALL SELECT 4, 'near_deduped', count(*) FROM neard
  UNION ALL SELECT 5, 'decontaminated', count(*) FROM clean
  UNION ALL SELECT 6, 'dsir_gated', count(*) FROM dsir_gated
  UNION ALL SELECT 7, 'pps_sampled', count(*) FROM picks
)
"""


def _chain(base: str, suffix: str) -> str:
    """Splice a selection suffix onto the funnel's WITH-chain (replace
    the funnel's final SELECT with the extended one)."""
    prefix = base.split("SELECT * FROM (")[0].rstrip()
    assert prefix.endswith(")"), prefix[-40:]
    return prefix + suffix


@query(
    "corpus_curate_select",
    oracle=_chain(_ORACLE_FUNNEL, _ORACLE_SELECT_SUFFIX),
)
def corpus_curate_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 7-stage curation pipeline: the clean funnel
    (corpus_clean_funnel — gate, exact dedup, near-dup drop,
    decontaminate) extended with the two SELECTION stages a pretraining
    run performs on the surviving corpus: a DSIR-flavored target gate
    (keep docs whose hashed-bigram mass leans toward the target slice —
    integer cross-multiplied bucket comparison, no float in control
    flow) and a PPS systematic sample (~50 audit docs by exact
    interval-crossing over two-phase cumulative token counts — no
    unpartitioned window over the unbounded survivor set). Per-stage
    document counts are the output, replayed end-to-end by the DuckDB
    oracle.

    Scale: stages 1-5 are the funnel's plans (documented there); the
    gate adds one bounded (<=256-row) bucket model + a broadcastable
    posb semi-join; the sample is the sample_pps_systematic shape over
    survivors. Composition adds no new shuffle classes.

    Spark side is STAGED like corpus_clean_funnel (optimization r12):
    stage frames behind localCheckpoint barriers so the shared chains
    (cleanl feeds both the DSIR gate and the PPS sample; bk2 feeds
    both the bucket model and the scorer) execute once instead of once
    per reference. Oracle keeps the one-text spelling as ground
    truth."""
    _register_funnel_views(spark, sf_dir)
    from .scale_patterns import barrier, spread_width

    p = spread_width(spark, sf_dir, "documents")

    # cleanl = neard JOIN clean is, since the r13 nclean fusion, just
    # the is_clean filter of the nclean barrier (same doc_id set — the
    # oracle's join keys are unique — with l already attached): a
    # narrow VIEW, not a fourth checkpoint job.
    spark.sql(
        "SELECT doc_id, l FROM corpus_f_nclean WHERE is_clean"
    ).createOrReplaceTempView("corpus_f_cleanl")

    bk2 = barrier(spark.sql(f"""
        SELECT x.doc_id,
               (instr('0123456789abcdef', substring(md5(g), 1, 1)) - 1) * 16
               + instr('0123456789abcdef', substring(md5(g), 2, 1)) - 1 AS b,
               d.lang = 'en' AS is_target
        FROM (SELECT doc_id,
                     explode(transform(sequence(1, size(l) - 1),
                             i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))) AS g
              FROM (SELECT /*+ REPARTITION({p}) */ doc_id, l
                    FROM corpus_f_cleanl WHERE size(l) >= 2)) x
        JOIN documents d ON x.doc_id = d.doc_id
    """))
    bk2.createOrReplaceTempView("corpus_f_bk2")

    dsir = barrier(spark.sql("""
        WITH raw2 AS (
          SELECT b, count(1) AS rc,
                 sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
          FROM corpus_f_bk2 GROUP BY b
        ), tot2 AS (SELECT sum(rc) AS r_tot, sum(tc) AS t_tot FROM raw2),
        posb AS (
          SELECT b FROM raw2, tot2 WHERE tc * r_tot > rc * t_tot
        ), scored AS (
          SELECT k.doc_id, count(1) AS n_grams,
                 sum(CASE WHEN p.b IS NOT NULL THEN 1 ELSE 0 END) AS n_pos
          FROM corpus_f_bk2 k LEFT JOIN posb p ON k.b = p.b
          GROUP BY k.doc_id
        )
        SELECT doc_id FROM scored WHERE n_pos * 2 >= n_grams
    """), bk2)  # bk2 is read only by dsir's two CTE references
    dsir.createOrReplaceTempView("corpus_f_dsir")

    out = spark.sql("""
        WITH surv AS (
          SELECT c.doc_id, size(c.l) AS w
          FROM corpus_f_cleanl c JOIN corpus_f_dsir g ON c.doc_id = g.doc_id
        ), sb AS (
          SELECT doc_id, w, doc_id div 64 AS bk FROM surv
        ), off AS (
          SELECT bk, coalesce(sum(tw) OVER (ORDER BY bk
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
          FROM (SELECT bk, sum(w) AS tw FROM sb GROUP BY bk)
        ), cums AS (
          SELECT s.doc_id, s.w,
                 o.off + sum(s.w) OVER (PARTITION BY s.bk ORDER BY s.doc_id
                                        ROWS UNBOUNDED PRECEDING) AS cum
          FROM sb s JOIN off o ON s.bk = o.bk
        ), tot3 AS (SELECT sum(w) AS total FROM surv),
        picks AS (
          SELECT doc_id FROM cums, tot3
          WHERE (cum - w) div (total div 50) < cum div (total div 50)
            AND (cum - w) div (total div 50) < 50
        )
        SELECT * FROM (
          SELECT 1 AS stage_idx, 'raw' AS stage, count(1) AS n_docs FROM documents
          UNION ALL SELECT 2, 'quality_gated', count(1) FROM corpus_f_gated
          UNION ALL SELECT 3, 'exact_deduped', count(1) FROM corpus_f_exact
          UNION ALL SELECT 4, 'near_deduped', count(1) FROM corpus_f_neard
          UNION ALL SELECT 5, 'decontaminated', count(1) FROM corpus_f_clean
          UNION ALL SELECT 6, 'dsir_gated', count(1) FROM corpus_f_dsir
          UNION ALL SELECT 7, 'pps_sampled', count(1) FROM picks
        )
    """)
    # same unpin rationale as corpus_clean_funnel (the analyzed plan
    # above already embeds every stage checkpoint it needs)
    _drop_funnel_views(spark)
    return out


@query(
    "sample_neyman_allocation",
    oracle="""
WITH s AS (
  SELECT source,
         count(*) AS nh,
         sum(n_chars) AS sx,
         sum(n_chars * n_chars) AS sxx
  FROM documents GROUP BY source
), v AS (
  SELECT source, nh, sx, sxx,
         sqrt((CAST(nh AS DOUBLE) * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(nh AS DOUBLE) * CAST(nh - 1 AS DOUBLE))) AS sd
  FROM s WHERE nh >= 2
), tot AS (SELECT sum(CAST(nh AS DOUBLE) * sd) AS z FROM v)
SELECT source,
       CAST(nh AS BIGINT) AS stratum_size,
       round(sd, 4) AS stratum_sd,
       round(CAST(nh AS DOUBLE) * sd / z, 4) AS alloc_frac,
       round(1000 * CAST(nh AS DOUBLE) * sd / z, 4) AS n_alloc
FROM v CROSS JOIN tot
ORDER BY source
""",
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN OPTIMAL ALLOCATION (Neyman 1934) of a fixed sample
    budget (n=1000) across the corpus's source strata: n_h ∝ N_h·σ_h —
    the allocation that minimizes the stratified estimator's variance
    for a fixed total n, vs the proportional allocation a naive
    sampler uses. Variance is of the document-length variable
    (n_chars, an exact BIGINT), the quantity curation samplers
    stratify on; high-σ sources (mixed short/long docs) get
    oversampled, homogeneous boilerplate sources barely sampled.
    Output per stratum: size, SD, allocation fraction and the (real-
    valued) allotment — integerization (largest-remainder) is left to
    the caller because round-half ties are an engine knife-edge
    (§5.3.8) and downstream samplers want the exact fractions anyway.

    Exactness: Σx and Σx² are exact BIGINT sums (order-free), the
    sample variance and sqrt are identical-text IEEE expressions of
    exact operands (sqrt is correctly rounded per IEEE 754), and the
    only cross-engine divergence is the 20-term Σ N_h·σ_h group-sum
    order, ~1e-15 relative. Scale: one map-side-combined aggregate to
    |sources| rows, one 1-row total broadcast — the fact table is
    touched once."""
    s = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nh"),
            F.sum("n_chars").alias("sx"),
            F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
        )
        .filter(F.col("nh") >= 2)
    )
    sd = F.sqrt(
        (
            F.col("nh").cast("double") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double")
        )
        / (F.col("nh").cast("double") * (F.col("nh") - 1).cast("double"))
    )
    v = s.select("source", "nh", sd.alias("sd"))
    tot = F.broadcast(
        v.agg(F.sum(F.col("nh").cast("double") * F.col("sd")).alias("z"))
    )
    return (
        v.crossJoin(tot)
        .select(
            "source",
            F.col("nh").cast("bigint").alias("stratum_size"),
            r4("sd").alias("stratum_sd"),
            r4(F.col("nh").cast("double") * F.col("sd") / F.col("z")).alias(
                "alloc_frac"
            ),
            r4(
                F.lit(1000) * F.col("nh").cast("double") * F.col("sd") / F.col("z")
            ).alias("n_alloc"),
        )
        .orderBy(F.asc("source"))
    )


@query(
    "corpus_token_concentration",
    oracle="""
WITH r AS (
  SELECT n_chars,
         row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rk,
         count(*) OVER () AS n
  FROM documents
), d AS (
  SELECT CAST((rk - 1) * 10 // n AS BIGINT) + 1 AS decile,
         n_chars
  FROM r
), g AS (
  SELECT decile, count(*) AS n_docs, sum(n_chars) AS chars
  FROM d GROUP BY decile
), c AS (
  SELECT decile, n_docs, chars,
         sum(chars) OVER (ORDER BY decile) AS cum_chars,
         sum(chars) OVER () AS total
  FROM g
)
SELECT decile,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(chars AS BIGINT) AS chars,
       CAST(cum_chars AS BIGINT) AS cum_chars,
       CAST(cum_chars * 10000 // total AS BIGINT) AS cum_share_bp
FROM c ORDER BY decile
""",
)
def corpus_token_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS TOKEN CONCENTRATION (the Lorenz/Pareto curve of document
    length): rank documents by n_chars descending and report, per
    length decile, the document count, character mass, and CUMULATIVE
    share in basis points — "the longest 10% of documents hold X% of
    the tokens", the first diagnostic a curation budget planner reads
    (length-skewed corpora starve short-doc diversity under naive
    token-budget sampling; complements analytics_gini_revenue's scalar
    with the curve itself, over the corpus rather than revenue).

    Exactness: ranks come from a deterministic total order
    (n_chars DESC, doc_id ASC), decile assignment and cumulative
    shares are integer arithmetic (// and DIV) over exact BIGINT
    sums — no floats anywhere.

    Scale: the global rank routes through the audited two-phase
    bucketed decomposition (scale_patterns.bucketed_global_rank — no
    single-partition sort at 100 TB); everything after is a 10-row
    decile table (its cumulative window is bounded input, allowlisted
    like the other <=25-row tails)."""
    from .scale_patterns import bucketed_global_rank

    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", (-F.col("n_chars")).alias("neg")
    )
    ranked = bucketed_global_rank(docs, "neg", "doc_id")
    d = ranked.select(
        (F.expr("(grank - 1) * 10L DIV n_total") + 1).alias("decile"),
        "n_chars",
    )
    g = d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars")
    )
    from pyspark.sql import Window

    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        g.select(
            F.col("decile").cast("bigint").alias("decile"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("chars").cast("bigint").alias("chars"),
            F.sum("chars").over(w).cast("bigint").alias("cum_chars"),
            F.sum("chars").over(wall).cast("bigint").alias("__total"),
        )
        .select(
            "decile",
            "n_docs",
            "chars",
            "cum_chars",
            F.expr("cum_chars * 10000L DIV __total").alias("cum_share_bp"),
        )
        .orderBy("decile")
    )


@query(
    "sample_stratified_split",
    oracle="""
WITH r AS (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
           AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
), s AS (
  SELECT source,
         CASE WHEN rk * 10 <= n * 8 THEN 'train'
              WHEN rk * 10 <= n * 9 THEN 'val'
              ELSE 'test' END AS split,
         doc_id, n_chars
  FROM r
)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS n_chars,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM s GROUP BY source, split
""",
)
def sample_stratified_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C232: EXACT stratified train/val/test split — per stratum
    (source), documents rank by a deterministic hash order and the
    first floor(0.8n)/next floor(0.1n)-ish go to train/val/test via
    pure INTEGER threshold arithmetic (rk*10 <= n*8 — no float
    proportions, no per-engine rounding). Unlike the hash-threshold
    split (dedup_cross_split_leakage's splits CTE), the counts are
    EXACTLY the floor quotas per stratum (train floor(0.8n), val
    floor(0.9n)-floor(0.8n), test the remainder) — deterministic and
    engine-exact, though a stratum below n=10 can legitimately get an
    EMPTY val cell (floor(0.9n) == floor(0.8n) for n < 10; use
    ceiling quotas if non-empty slices are required). Output: per-cell doc/token counts + an id
    checksum pinning the exact membership.

    Scale: one per-stratum window rank (partitioned — never global),
    one aggregate; the membership frame (not collected here) is the
    split assignment a downstream writer partitions by. At 100 TB the
    rank is the same two-phase per-stratum sort every engine pays for
    exact quotas; the hash order makes it reproducible across runs
    and engines."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    from pyspark.sql import Window as _W

    w = _W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    wn = _W.partitionBy("source")
    r = d.select(
        "source",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    s = r.select(
        "source",
        "doc_id",
        "n_chars",
        F.when(F.col("rk") * 10 <= F.col("n") * 8, F.lit("train"))
        .when(F.col("rk") * 10 <= F.col("n") * 9, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
    )
    return s.groupBy("source", "split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.sum("doc_id").cast("bigint").alias("id_checksum"),
    )


# r12 C243: deterministic k-fold cross-validation assignment — the
# splitting contract an evaluation pipeline needs beside the exact
# train/val/test split (C232): every stratum's docs spread across k
# folds with sizes differing by at most 1, membership reproducible
# from doc_id alone. Same md5-order rank as C232; fold = rank mod k,
# which is EXACTLY balanced per stratum by construction (no hash
# binomial wobble).

_KFOLD_SQL = """
WITH ranked AS (
  SELECT lang, doc_id,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) - 1 AS rk
  FROM documents
), assigned AS (
  SELECT lang, doc_id, rk % 5 AS fold FROM ranked
)
SELECT lang, CAST(fold AS BIGINT) AS fold,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM assigned
GROUP BY lang, fold
"""


@query("sample_kfold_assign", oracle=_KFOLD_SQL)
def sample_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C243: stratified 5-fold CV assignment — per-language md5-order
    rank, fold = rank mod 5. Per stratum the fold sizes are exactly
    floor/ceil(n/5) BY CONSTRUCTION (rank is a permutation of 0..n-1),
    unlike hash-mod assignment whose per-fold sizes are binomial.
    Membership is pinned by an id checksum so the oracle verifies the
    assignment itself, not just the counts.

    Scale: one per-stratum window (partitioned — never a global sort)
    + one hash aggregate; the same plan shape as C232's split."""
    return sql_over(
        spark, sf_dir,
        _KFOLD_SQL.replace("AS VARCHAR", "AS STRING").replace("count(*)", "count(1)"),
        ("documents",),
    )
