"""Text-analysis operators — SURVEY.md §2 C44-C47 + quality scoring,
token counting, and fingerprinting (BASELINE.json north star).

All run over ``documents`` with ``split(text, ' ')`` as the canonical
tokenizer (FIXTURES.md). Everything is built-in-function relational —
tokenize/explode/group shapes that scale as hash aggregates; nothing
drops to Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..helpers import r4
from ..registry import query
from ..tables import row_count, table
from .scale_patterns import barrier, bucketed_running_sums, free_checkpoint

_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "('" + "', '".join(_STOPWORDS) + "')"


@query(
    "text_tokenize_wordcount",
    oracle="""
SELECT w AS word, count(*) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
GROUP BY w
ORDER BY n DESC, word
LIMIT 20
""",
)
def text_tokenize_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C44: tokenize + word count, top-20. Partial aggregation means the
    shuffle carries (word, partial_count), not tokens. SQL-text build
    (see tables.sql_over)."""
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
SELECT word, count(1) AS n
FROM (SELECT explode(split(text, ' ')) AS word FROM documents)
GROUP BY word
ORDER BY n DESC, word ASC
LIMIT 20
""",
        ("documents",),
    )


@query(
    "text_ngram_count",
    oracle="""
SELECT bg AS bigram, count(*) AS n
FROM (
  SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS bg
  FROM (SELECT string_split(text, ' ') AS l FROM documents)
)
GROUP BY bg
ORDER BY n DESC, bigram
LIMIT 20
""",
)
def text_ngram_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C45: bigram counts, top-20 — n-grams via an index-sequence
    transform over the token array (pure codegen, no ML stage)."""
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    return (
        docs.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(20)
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
WITH tf AS (
  SELECT doc_id, w AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY doc_id, w
), df AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), n AS (SELECT count(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term,
       round(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf
FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
ORDER BY tfidf DESC, tf.doc_id, tf.term
LIMIT 50
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C46: relational TF-IDF (exact, unlike HashingTF — so it has an
    oracle): tf per (doc, term), df per term, idf = ln(N/df); global
    top-50. The df side is terms-sized -> broadcast back onto tf."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()  # scan-count action; cheap metadata count
    tfidf = F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))
    return (
        tf.join(F.broadcast(df), "term")
        .select("doc_id", "term", r4(tfidf).alias("tfidf"))
        .orderBy(F.desc("tfidf"), F.asc("doc_id"), F.asc("term"))
        .limit(50)
    )


@query(
    "text_lang_filter_stats",
    oracle="""
SELECT lang, source, count(*) AS n_docs,
       round(avg(n_chars), 4) AS avg_chars,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
WHERE lang IN ('en', 'de', 'fr')
GROUP BY lang, source
""",
)
def text_lang_filter_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C47: per-language/source slice statistics (corpus composition
    reporting for training-data curation)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("lang").isin("en", "de", "fr"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            r4(F.avg("n_chars")).alias("avg_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


@query(
    "text_quality_score",
    oracle=f"""
WITH t AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l, n_chars FROM documents
)
SELECT doc_id, lang,
       CAST(len(l) AS BIGINT) AS n_tokens,
       round(CAST(n_chars AS DOUBLE) / len(l), 4) AS avg_token_len,
       round(CAST(len(list_filter(l, x -> x IN {_STOP_SQL})) AS DOUBLE) / len(l), 4)
         AS stop_ratio,
       round(CAST(len(list_distinct(l)) AS DOUBLE) / len(l), 4) AS uniq_ratio,
       round(ln(1.0 + len(l)) * (CAST(len(list_distinct(l)) AS DOUBLE) / len(l)), 4)
         AS quality
FROM t
""",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring for training-data filtering: token count, mean
    token length, stopword ratio, type-token (uniqueness) ratio, and a
    composite score — all array HOFs in one codegen stage."""
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    n_tok = F.size("l")
    stops = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.filter("l", lambda x: F.array_contains(stops, x)))
    n_uniq = F.size(F.array_distinct("l"))
    uniq_ratio = n_uniq.cast("double") / n_tok
    return docs.select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        r4(F.col("n_chars").cast("double") / n_tok).alias("avg_token_len"),
        r4(n_stop.cast("double") / n_tok).alias("stop_ratio"),
        r4(uniq_ratio).alias("uniq_ratio"),
        r4(F.log(F.lit(1.0) + n_tok) * uniq_ratio).alias("quality"),
    )


@query(
    "text_token_count_regex",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT) AS n_word_tokens,
       CAST(len(regexp_extract_all(text, '[a-z]{1,4}')) AS BIGINT) AS n_bpe_ish,
       CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace_chars
FROM documents
""",
)
def text_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + a BPE-ish fixed-width regex) — the
    cheap proxy corpora use for token budgeting."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)).cast("bigint").alias(
            "n_word_tokens"
        ),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{1,4}"), 0)).cast("bigint").alias(
            "n_bpe_ish"
        ),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("bigint").alias(
            "n_nonspace_chars"
        ),
    )


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id, md5(text) AS fp_md5,
       md5(array_to_string(list_sort(string_split(text, ' ')), ' ')) AS fp_bag_of_words
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: exact content hash + an order-
    insensitive bag-of-words hash (sorted-token md5) — the cheap
    near-dup prefilter before MinHash."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.md5(F.array_join(F.sort_array(F.split("text", " ")), " ")).alias(
            "fp_bag_of_words"
        ),
    )


@query(
    "text_simhash_fingerprint",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN substring(md5(w), j + 1, 1) IN
                       ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f')
                  THEN 1 ELSE -1 END) AS vote
  FROM words CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS j)
  GROUP BY doc_id, j
)
SELECT doc_id,
       CAST(sum(CASE WHEN vote > 0 THEN CAST(round(pow(2, j), 0) AS BIGINT)
                     ELSE 0 END) AS BIGINT) AS simhash16
FROM bits GROUP BY doc_id
""",
)
def text_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint (16-bit, md5-derived bit planes) — fully
    deterministic and cross-engine (unlike murmur-based simhash), so it
    carries an oracle: per word, bit j votes +/-1 by the j-th md5 hex
    digit's high bit; the fingerprint packs the positive votes."""
    docs = table(spark, sf_dir, "documents")
    return simhash_fingerprint(
        spark, docs, 16, "simhash16", n_rows=row_count(sf_dir, "documents")
    )


def simhash_fingerprint(
    spark: SparkSession,
    docs: DataFrame,
    nbits: int,
    out_col: str,
    n_rows: int | None = None,
) -> DataFrame:
    """md5-plane SimHash over whitespace tokens (nbits <= 32: one md5
    hex digit's high bit per plane). Shared by the per-doc fingerprint
    query and the hamming near-dup pair join (dedup.py).

    Scale: words x nbits is a broadcast nested-loop over an nbits-row
    plane table (no shuffle); the vote aggregate map-side-combines on
    (doc_id, j) and the final pack is a per-doc re-aggregation on the
    same doc_id partitioning."""
    from .scale_patterns import spread_for_fanout

    # optimization r12: (a) spread before the token explode — the
    # single-split docs scan otherwise runs the whole words x nbits
    # plane probe in ONE task; (b) hash each word occurrence ONCE
    # before the plane cross join — the inlined md5("w") was
    # re-evaluated per plane row (nbits x |words| md5s, 32x the work
    # for an identical value: substring(md5(w), j+1, 1) only varies
    # in j).
    words = spread_for_fanout(
        docs.select("doc_id", "text"), n_rows=n_rows
    ).select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).select("doc_id", F.md5("w").alias("h"))
    hexdigit = F.substring(F.col("h"), F.col("j") + 1, 1)
    bit = F.when(hexdigit.isin(*"89abcdef"), 1).otherwise(-1)
    planes = spark.range(nbits).select(F.col("id").cast("int").alias("j"))
    votes = words.crossJoin(F.broadcast(planes)).groupBy("doc_id", "j").agg(
        F.sum(bit).alias("vote")
    )
    fp = F.sum(
        F.when(F.col("vote") > 0, F.pow(F.lit(2), F.col("j")).cast("bigint")).otherwise(0)
    ).cast("bigint")
    return votes.groupBy("doc_id").agg(fp.alias(out_col))


# Language-ID heuristic: per-language marker (stopword) sets. The driver
# fixture's vocabulary is language-independent, so this operator is
# exercised on constructed multilingual text in
# tests/test_langid.py; it still registers over documents (predicting
# 'und' = undetermined when no markers hit) to keep the inventory
# honest about fixture behavior.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "de": ("der", "die", "und", "ist", "nicht"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "y", "es", "los"),
}


def langid_predict(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Language-ID by marker-hit rate (the classic cheap n-gram/stopword
    heuristic): score(lang) = fraction of tokens in that language's
    marker set; predict the argmax, 'und' if every score is zero.
    One codegen stage: token split + one array-filter per language +
    greatest() argmax — no shuffle, no Python."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)

    def score_for(markers: tuple[str, ...]):
        arr = F.array(*[F.lit(w) for w in markers])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).cast("double") / n

    scores = {lang: score_for(markers) for lang, markers in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0.0, "und")
    for lang, s in scores.items():
        pred = pred.when(s == best, lang)
    out = df.withColumn("lang_pred", pred)
    for lang, s in scores.items():
        out = out.withColumn(f"score_{lang}", F.round(s, 4))
    return out


@query(
    "text_langid_heuristic",
    oracle="""
SELECT doc_id,
       CASE WHEN len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'and', 'of', 'to', 'is'))) > 0
            THEN 'en' ELSE 'und' END AS lang_pred,
       round(CAST(len(list_filter(string_split(text, ' '),
                 x -> x IN ('the', 'and', 'of', 'to', 'is'))) AS DOUBLE)
             / len(string_split(text, ' ')), 4) AS score_en
FROM documents
""",
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic over the fixture corpus. The fixture
    vocabulary only contains English markers ('the'), so the checked
    projection is the en-vs-undetermined decision + en score; the full
    multi-language argmax operator is ``langid_predict`` (unit-tested on
    constructed multilingual text)."""
    docs = table(spark, sf_dir, "documents")
    out = langid_predict(docs)
    return out.select("doc_id", "lang_pred", "score_en")


@query(
    "text_repetition_ratio",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), g AS (
  SELECT doc_id,
         list_transform(generate_series(1, len(l) - 1),
                        i -> l[i] || ' ' || l[i + 1]) AS bgs
  FROM t WHERE len(l) >= 2
)
SELECT doc_id,
       CAST(len(bgs) AS BIGINT) AS n_bigrams,
       round(1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs), 4)
         AS rep_ratio,
       (1.0 - CAST(len(list_distinct(bgs)) AS DOUBLE) / len(bgs)) <= 0.2
         AS keep
FROM g
""",
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition — the Gopher/MassiveText-style quality
    signal: fraction of duplicated bigrams in a doc (boilerplate and
    looped generations score high). Pure array HOFs, one codegen stage,
    no explode — the per-doc state never leaves the row, so this is
    embarrassingly parallel at any scale. ``keep`` applies the usual
    <= 0.2 filter threshold as a column (the pipeline's filter stage).
    """
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    docs = docs.filter(F.size("l") >= 2).withColumn(
        "bgs",
        F.expr(
            "transform(sequence(1, size(l) - 1), "
            "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
        ),
    )
    n_bg = F.size("bgs")
    rep = F.lit(1.0) - F.size(F.array_distinct("bgs")).cast("double") / n_bg
    return docs.select(
        "doc_id",
        n_bg.cast("bigint").alias("n_bigrams"),
        r4(rep).alias("rep_ratio"),
        (rep <= 0.2).alias("keep"),
    )


@query(
    "sample_hash_deterministic",
    oracle="""
SELECT doc_id, source, substr(md5(text), 1, 4) AS bucket
FROM documents
WHERE substr(md5(text), 1, 4) <= '28f5'
""",
)
def sample_hash_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling — the reproducible way to
    subsample a corpus (survives reruns, joins, and engine changes,
    unlike rand()). Keep a doc iff a prefix of md5(text) falls under a
    threshold: '28f5' / 'ffff' ≈ 16%. Stratification = one threshold
    per stratum (source, lang, ...) joined in; dedup-aware pipelines
    hash the content, so exact duplicates sample identically — both
    engines agree bit-for-bit on md5, making this oracle-exact where
    rand()-based sampling never can be. At 100 TB the filter sits
    directly on the scan: no shuffle, no state."""
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5("text"), 1, 4)
    return (
        docs.select("doc_id", "source", bucket.alias("bucket"))
        .filter(F.col("bucket") <= "28f5")
    )


@query(
    "text_collocation_lift",
    oracle="""
WITH toks AS (
  SELECT string_split(text, ' ') AS l FROM documents
), uni AS (
  SELECT w, count(*) AS c
  FROM (SELECT unnest(l) AS w FROM toks) GROUP BY w
), n_uni AS (
  SELECT sum(c) AS nu FROM uni
), bi AS (
  SELECT w1, w2, count(*) AS c
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i])) AS w1,
           unnest(list_transform(generate_series(1, len(l) - 1), i -> l[i + 1])) AS w2
    FROM toks
  ) GROUP BY w1, w2
), n_bi AS (
  SELECT sum(c) AS nb FROM bi
)
SELECT w1 || ' ' || w2 AS bigram, bi.c AS n,
       round(CAST(bi.c * nu * nu AS DOUBLE)
             / CAST(u1.c * u2.c * nb AS DOUBLE), 4) AS lift
FROM bi
JOIN uni u1 ON bi.w1 = u1.w
JOIN uni u2 ON bi.w2 = u2.w
CROSS JOIN n_uni
CROSS JOIN n_bi
WHERE bi.c >= 5
ORDER BY CAST(bi.c * nu * nu AS DOUBLE) / CAST(u1.c * u2.c * nb AS DOUBLE) DESC,
         bigram ASC
LIMIT 20
""",
)
def text_collocation_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by lift: p(xy) / (p(x)·p(y)) over corpus
    bigram/unigram frequencies — the association score behind
    PMI (= ln(lift)), kept rational so it is ORACLE-EXACT: both
    factors are exact int64 products (~1e16 max, one IEEE rounding on
    the int→double conversion, identical on both engines) and the
    score is a single division — no libm, no summation order. Top-20
    by the exact unrounded score with a bigram tiebreak; emitted
    r4-rounded.

    Scale: unigram and bigram count passes are map-side-combinable
    shuffles on the token key; the two unigram joins broadcast (vocab
    is small relative to the corpus by Heaps' law, and the c>=5 filter
    shrinks the bigram side first). The global totals are 1-row
    broadcasts, never a shuffle."""
    toks = table(spark, sf_dir, "documents").select(F.split("text", " ").alias("l"))
    uni = (
        toks.select(F.explode("l").alias("w"))
        .groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    )
    n_uni = uni.agg(F.sum("c").alias("nu"))
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> struct(element_at(l, i) AS w1, element_at(l, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 5)
    )
    n_bi = (
        toks.select((F.size("l") - 1).alias("k"))
        .agg(F.sum("k").alias("nb"))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    scored = (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            F.col("c").alias("n"),
            (
                (F.col("c") * F.col("nu") * F.col("nu")).cast("double")
                / (F.col("c1") * F.col("c2") * F.col("nb")).cast("double")
            ).alias("lift_exact"),
        )
    )
    return (
        scored.orderBy(F.desc("lift_exact"), F.asc("bigram"))
        .limit(20)
        .select("bigram", "n", r4("lift_exact").alias("lift"))
    )


@query(
    "sample_stratified_balanced",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(text) ASC, doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, source, rn AS rank_in_stratum
FROM ranked WHERE rn <= 10
""",
)
def sample_stratified_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced stratified subsample: at most 10 docs per source,
    chosen by md5(text) rank — a deterministic stand-in for uniform
    random order that is reproducible across engines, reruns, and
    repartitions (rand() is none of those). The shape behind balanced
    eval sets and per-domain mixture caps in training-data curation.

    Scale: one shuffle on the stratum key; the rank filter is a
    per-group top-k, which Catalyst executes as a group-limit (no full
    sort of each stratum beyond the k boundary)."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("text")).asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "source",
                    F.row_number().over(w).cast("bigint").alias("rank_in_stratum"))
        .filter(F.col("rank_in_stratum") <= 10)
    )


@query(
    "sample_shard_assign",
    oracle="""
WITH h AS (
  SELECT doc_id,
         CAST((strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) % 8
              AS BIGINT) AS shard,
         md5(text) AS ord_key
  FROM documents
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard
                          ORDER BY ord_key ASC, doc_id ASC) AS pos
FROM h
""",
)
def sample_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard assignment: every doc gets a deterministic
    (shard, position) — shard from a content-independent key hash
    (first md5 hex digit of the id, mod 8: balanced and engine-
    portable), position from a content-hash order within the shard.
    This is the global-shuffle-then-shard step that precedes writing
    training files; determinism means a re-run resumes to identical
    shards instead of reshuffling the world.

    Scale: one shuffle on the shard key (8-way here; 10k-way at 100 TB
    with the same two-line change), then a per-shard sort. Positions
    are contiguous 1..n_shard — ready to become file offsets via
    partitionBy('shard') on write."""
    docs = table(spark, sf_dir, "documents")
    shard = (
        (F.instr(F.lit("0123456789abcdef"),
                 F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) - 1) % 8
    ).cast("bigint")
    w = Window.partitionBy("shard").orderBy(F.col("ord_key").asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", shard.alias("shard"), F.md5("text").alias("ord_key"))
        .select("doc_id", "shard", F.row_number().over(w).cast("bigint").alias("pos"))
    )


@query(
    "text_quality_gate",
    oracle="""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), g AS (
  SELECT doc_id, len(l) AS n_tokens,
         CASE WHEN len(l) >= 2 THEN
           1.0 - CAST(len(list_distinct(list_transform(
                 generate_series(1, len(l) - 1),
                 i -> l[i] || ' ' || l[i + 1]))) AS DOUBLE) / (len(l) - 1)
         ELSE 1.0 END AS rep
  FROM t
)
SELECT doc_id,
       n_tokens < 20  AS too_short,
       n_tokens > 90  AS too_long,
       rep > 0.2      AS repetitive,
       (n_tokens >= 20 AND n_tokens <= 90 AND rep <= 0.2) AS keep
FROM g
""",
)
def text_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate: the pipeline's keep/drop decision with
    per-rule attribution (length band + Gopher-style duplicated-bigram
    repetition), one boolean column per rule so the drop REASONS are
    queryable — rule-level drop rates are one groupBy away, which is
    how a curation run is actually debugged.

    Scale: pure per-row array HOFs (no explode, no shuffle, no
    Python) — embarrassingly parallel; the gate's selectivity then
    shrinks everything downstream of it."""
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    n = F.size("l")
    rep = F.when(
        n >= 2,
        F.lit(1.0)
        - F.size(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                )
            )
        ).cast("double") / (n - 1).cast("double"),
    ).otherwise(F.lit(1.0))
    too_short = n < 20
    too_long = n > 90
    repetitive = rep > 0.2
    return docs.select(
        "doc_id",
        too_short.alias("too_short"),
        too_long.alias("too_long"),
        repetitive.alias("repetitive"),
        (~too_short & ~too_long & ~repetitive).alias("keep"),
    )


@query(
    "text_lang_entropy_by_source",
    oracle="""
WITH c AS (
  SELECT source, lang, CAST(count(*) AS DOUBLE) AS n
  FROM documents GROUP BY source, lang
), t AS (
  SELECT source, sum(n) AS tot FROM c GROUP BY source
)
SELECT c.source AS source,
       round(-sum((n / tot) * ln(n / tot)), 4) AS lang_entropy,
       CAST(count(*) AS BIGINT) AS n_langs
FROM c JOIN t ON c.source = t.source
GROUP BY c.source
""",
)
def text_lang_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the language mix per source — the corpus-
    composition diagnostic (a source collapsing to one language, or a
    scraper suddenly ingesting a new one, moves this number before any
    downstream metric notices). -sum(p ln p) over per-source language
    shares.

    Scale: counts are |sources| x |langs| regardless of SF — one
    map-side-combined shuffle, then arithmetic on a tiny table. ln()
    can differ by 1 ulp across libm implementations; at the r4 grid
    that flips a rounded value only within ~1e-12 of a boundary —
    negligible over tens of groups (determinism rules, SURVEY §5.3)."""
    c = table(spark, sf_dir, "documents").groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("double").alias("n")
    )
    t = c.groupBy("source").agg(F.sum("n").alias("tot"))
    p = F.col("n") / F.col("tot")
    return (
        c.join(F.broadcast(t), "source")
        .groupBy("source")
        .agg(
            r4(-F.sum(p * F.log(p))).alias("lang_entropy"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        )
    )


_HASH_D = 512  # feature-hash buckets
_HEX = "0123456789abcdef"


@query(
    "text_feature_hashing",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS w FROM documents
), h AS (
  SELECT w,
         ((strpos('{_HEX}', substr(md5(w), 1, 1)) - 1) * 256
        + (strpos('{_HEX}', substr(md5(w), 2, 1)) - 1) * 16
        + (strpos('{_HEX}', substr(md5(w), 3, 1)) - 1)) % {_HASH_D} AS idx
  FROM tok
)
SELECT CAST(idx AS BIGINT) AS idx,
       count(*) AS n_tokens,
       CAST(count(DISTINCT w) AS BIGINT) AS n_terms
FROM h
GROUP BY idx
ORDER BY n_tokens DESC, idx ASC
LIMIT 30
""",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (HashingTF's idea) with a DETERMINISTIC,
    engine-portable hash — bucket = first 3 md5 hex digits mod 512 —
    so, unlike ml.feature.HashingTF (JVM murmur3, irreproducible in
    any other engine), the featurization is oracle-exact. Output: the
    top-30 buckets with token counts AND distinct-term counts — the
    n_terms > 1 rows are hash collisions, the quantity a feature-
    hashing pipeline must monitor when sizing D.

    Scale: fixed D-dimensional output regardless of vocabulary — the
    entire point of feature hashing at 100 TB (no vocab build, no
    dictionary broadcast); one map-side-combined shuffle on the bucket
    id."""
    tok = table(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w")
    )
    hexv = lambda i: F.instr(F.lit(_HEX), F.substring(F.md5("w"), i, 1)) - 1  # noqa: E731
    idx = ((hexv(1) * 256 + hexv(2) * 16 + hexv(3)) % _HASH_D).cast("bigint")
    return (
        tok.select(idx.alias("idx"), "w")
        .groupBy("idx")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_distinct("w").cast("bigint").alias("n_terms"),
        )
        .orderBy(F.desc("n_tokens"), F.asc("idx"))
        .limit(30)
    )


@query(
    "sample_pack_sequences",
    oracle="""
WITH toks AS (
  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS ord_key,
         CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), runs AS (
  SELECT doc_id, ord_key, n_tokens,
         sum(n_tokens) OVER (ORDER BY ord_key ROWS UNBOUNDED PRECEDING)
           AS cum_tokens
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(floor((cum_tokens - n_tokens) / CAST(2048 AS DOUBLE)) AS BIGINT)
         AS pack_id,
       CAST(cum_tokens - n_tokens
         - CAST(floor((cum_tokens - n_tokens) / CAST(2048 AS DOUBLE))
                AS BIGINT) * 2048
         AS BIGINT) AS pack_offset
FROM runs
""",
)
def sample_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training shards: documents get a
    deterministic global order (md5 of the id — the same reshuffle
    trick as sample_shard_assign), a running token count, and a pack
    assignment every 2048 tokens; pack_offset is the document's start
    inside its pack. This is the locality-preserving packing step that
    turns a deduped corpus into fixed-budget training sequences (each
    pack is then truncated/padded downstream).

    Assignment is by the tokens BEFORE each doc (cum - n), so a doc
    that straddles a boundary belongs to the pack it starts in —
    matching a greedy sequential packer.

    Oracle note: DuckDB's windowed ``sum(BIGINT)`` is HUGEINT, which
    pandas renders as float64 — every expression derived from
    ``cum_tokens`` is therefore CAST back to BIGINT in the oracle
    (both ``pack_id`` and ``pack_offset``) so typed value hashes match
    Spark's int64 output.

    Scale: the global running token sum is spelled on
    scale_patterns.bucketed_running_sums — bucket = the first 2 hex
    chars of the md5 order key (256 buckets, monotone in the global
    order), so phase 1 is a 256-row offsets table broadcast back and
    phase 2 runs the window PARTITIONED by bucket. No ``Exchange
    SinglePartition`` anywhere; the oracle's single-window spelling
    pins identical semantics."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("ord_key"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_tokens"),
    )
    runs = bucketed_running_sums(
        toks,
        "ord_key",
        F.substring("ord_key", 1, 2),
        {"n_tokens": "cum_tokens"},
    )
    before = F.col("cum_tokens") - F.col("n_tokens")
    pack = F.floor(before / 2048.0).cast("bigint")
    return runs.select(
        "doc_id",
        "n_tokens",
        pack.alias("pack_id"),
        (before - pack * 2048).cast("bigint").alias("pack_offset"),
    )


@query(
    "sample_source_rebalance",
    oracle="""
WITH s AS (
  SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM documents GROUP BY source
),
t AS (
  SELECT sum(n_docs) AS total_docs,
         count(*) AS n_sources
  FROM s
)
SELECT source, n_docs, total_chars,
       round(least(1.0, (total_docs / CAST(n_sources AS DOUBLE)) / n_docs), 4)
         AS keep_prob,
       CAST(floor(n_docs * least(1.0, (total_docs / CAST(n_sources AS DOUBLE)) / n_docs))
         AS BIGINT) AS expected_docs
FROM s CROSS JOIN t
ORDER BY source
""",
)
def sample_source_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mix rebalancing: compute the per-source downsampling
    probability that moves the corpus toward a uniform source mix —
    the domain-reweighting step (DoReMi/The-Pile-style) that runs
    before shard sampling. keep_prob = target_share / actual_share,
    capped at 1 (downsample-only; upsampling is a repeat factor the
    sampler applies separately); expected_docs floors the resulting
    per-source document budget.

    Scale: one aggregation to |sources| rows, a one-row grand total
    cross-joined back (broadcast of a scalar), and per-row arithmetic
    — the plan is two map-side-combinable aggs regardless of corpus
    size. The actual sampling pass that consumes keep_prob is
    sample_hash_deterministic (hash-threshold, shuffle-free)."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )
    t = F.broadcast(
        s.agg(
            F.sum("n_docs").alias("total_docs"),
            F.count(F.lit(1)).alias("n_sources"),
        )
    )
    keep = F.least(
        F.lit(1.0),
        (F.col("total_docs") / F.col("n_sources").cast("double")) / F.col("n_docs"),
    )
    return (
        s.crossJoin(t)
        .select(
            "source",
            "n_docs",
            "total_chars",
            r4(keep).alias("keep_prob"),
            F.floor(F.col("n_docs") * keep).cast("bigint").alias("expected_docs"),
        )
        .orderBy(F.asc("source"))
    )


@query(
    "text_vocab_growth",
    oracle="""
WITH fw AS (
  SELECT w, min(doc_id) AS first_doc
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
per_doc AS (
  SELECT first_doc AS doc_id, count(*) AS new_words FROM fw GROUP BY first_doc
),
tok AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents)
SELECT t.doc_id,
       CAST(sum(coalesce(p.new_words, 0)) OVER (ORDER BY t.doc_id ASC) AS BIGINT)
         AS vocab_size,
       CAST(sum(t.n_tok) OVER (ORDER BY t.doc_id ASC) AS BIGINT) AS corpus_tokens
FROM tok t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
""",
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative distinct-word
    count vs cumulative token count in doc_id ingestion order — the
    corpus statistic that tells a curation pipeline whether new data
    still adds vocabulary. Running-distinct via the first-seen trick
    (ts_cumulative_users pattern): each word contributes at its
    minimal doc, so a cumulative sum of per-doc first-seen counts IS
    the running distinct count — no quadratic distinct-per-prefix.

    Scale: two hash aggregates collapse tokens to |vocab| then to
    |docs|; the per-doc curve is still unbounded (one row per
    document), so the running sums must NOT be an unpartitioned window
    (``Exchange SinglePartition`` — the round-3 verdict's finding).
    Both cumulative columns now come from
    scale_patterns.bucketed_running_sums: doc_id div 64 buckets are
    contiguous id ranges, per-bucket totals roll up to broadcast
    offsets (|buckets| rows — the only bounded unpartitioned window),
    and the heavy prefix sums run PARTITIONED by bucket."""
    docs = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    fw = (
        docs.select("doc_id", F.explode("w").alias("word"))
        .groupBy("word")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    per_doc = fw.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_words")
    )
    tok = docs.select("doc_id", F.size("w").alias("n_tok"))
    joined = tok.join(per_doc, "doc_id", "left").select(
        "doc_id", F.coalesce("new_words", F.lit(0)).alias("nw"), "n_tok"
    )
    out = bucketed_running_sums(
        joined,
        "doc_id",
        F.expr("doc_id div 64"),
        {"nw": "vocab_size", "n_tok": "corpus_tokens"},
    )
    return out.select(
        "doc_id",
        F.col("vocab_size").cast("bigint").alias("vocab_size"),
        F.col("corpus_tokens").cast("bigint").alias("corpus_tokens"),
    )


@query(
    "text_chunk_sliding",
    oracle="""
WITH tok AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
n AS (
  SELECT doc_id, l, len(l) AS n_tok,
         greatest(1, (len(l) + 15) // 24) AS nc
  FROM tok
)
SELECT doc_id, k AS chunk_id, n_tok,
       len(list_slice(l, 1 + k * 24, 32 + k * 24)) AS chunk_tokens,
       array_to_string(list_slice(l, 1 + k * 24, 32 + k * 24), ' ') AS chunk
FROM n, unnest(generate_series(0, nc - 1)) AS t(k)
ORDER BY doc_id, chunk_id
""",
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style sliding-window chunking: split each document into
    32-token chunks with stride 24 (8-token overlap), the retrieval
    preprocessing step every embedding pipeline runs before encoding.
    Chunk starts are 1 + k*24 for k in [0, nc), nc = max(1,
    ceil((n_tok - 8) / 24)) spelled in exact integer arithmetic
    ((n_tok + 15) div 24) so both engines enumerate identical chunk
    grids; the final chunk is the only short one.

    Scale: split + sequence + explode is a narrow per-row pipeline —
    no shuffle at all; output size is input tokens x (32/24). At
    100 TB this runs as a map-only stage feeding the embedding UDF,
    and the 8-token overlap bound keeps write amplification at 1.33x.
    Spark `slice(l, start, 24)` and DuckDB `list_slice(l, start,
    start+23)` clamp identically at the array end.
    """
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH tok AS (SELECT doc_id, split(text, ' ') AS l FROM documents),
n AS (
  SELECT doc_id, l, size(l) AS n_tok,
         greatest(1, (size(l) + 15) div 24) AS nc
  FROM tok
)
SELECT doc_id, k AS chunk_id, n_tok,
       size(slice(l, 1 + k * 24, 32)) AS chunk_tokens,
       array_join(slice(l, 1 + k * 24, 32), ' ') AS chunk
FROM n LATERAL VIEW explode(sequence(0, nc - 1)) AS k
ORDER BY doc_id ASC, chunk_id ASC
""",
        ("documents",),
    )


@query(
    "text_bm25_score",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dlen) / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok
  WHERE w IN ('table', 'join', 'query') GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
sc AS (
  SELECT tf.doc_id, tf.w,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dlen / avgdl)) AS s
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id,
       round(coalesce(max(CASE WHEN w = 'table' THEN s END), 0)
           + coalesce(max(CASE WHEN w = 'join' THEN s END), 0)
           + coalesce(max(CASE WHEN w = 'query' THEN s END), 0), 4) AS bm25
FROM sc GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
""",
)
def text_bm25_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scoring (k1=1.2, b=0.75, Lucene idf
    variant) for the fixed query {table, join, query}: top-20 docs.
    The per-(doc,term) score chain mirrors the oracle operand-for-
    operand (all inputs are exact integers, avgdl the same double on
    both engines), and the <=3 per-doc term scores are summed in FIXED
    textual order via the conditional-max pivot — not a float group-sum
    whose accumulation order could differ across engines (the
    dedup_semantic_buckets lesson from ADVICE r2).

    Scale: two token-level hash aggregates (tf, df) with map-side
    partial aggregation, a |terms|-row broadcast (df) and a 1-row
    broadcast (corpus stats) joined back to the tf rows — the shuffles
    carry (doc, term) partials, never raw tokens. The top-20 is a
    TakeOrderedAndProject heap, not a global sort.
    """
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH tok AS (
  SELECT doc_id, explode(split(text, ' ')) AS w FROM documents
),
dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
stats AS (SELECT count(*) AS n_docs, sum(dlen) / count(*) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, w, count(*) AS tf FROM tok
  WHERE w IN ('table', 'join', 'query') GROUP BY doc_id, w
),
df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
sc AS (
  SELECT tf.doc_id, tf.w,
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
           * (tf * 2.2)
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dlen / avgdl)) AS s
  FROM tf JOIN df USING (w) JOIN dl USING (doc_id) CROSS JOIN stats
)
SELECT doc_id,
       CAST(signum(coalesce(max(CASE WHEN w = 'table' THEN s END), 0)
           + coalesce(max(CASE WHEN w = 'join' THEN s END), 0)
           + coalesce(max(CASE WHEN w = 'query' THEN s END), 0))
         * floor(abs(coalesce(max(CASE WHEN w = 'table' THEN s END), 0)
           + coalesce(max(CASE WHEN w = 'join' THEN s END), 0)
           + coalesce(max(CASE WHEN w = 'query' THEN s END), 0)) * 10000 + 0.5)
         / 10000 AS DOUBLE) AS bm25
FROM sc GROUP BY doc_id
ORDER BY bm25 DESC, doc_id ASC
LIMIT 20
""",
        ("documents",),
    )


@query(
    "sample_temperature_mix",
    oracle="""
WITH s AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
tot AS (SELECT sum(n_docs) AS total FROM s),
z AS (
  SELECT sum(power(n_docs / CAST(total AS DOUBLE), 0.3)) AS zsum
  FROM s CROSS JOIN tot
)
SELECT lang, n_docs,
       round(n_docs / CAST(total AS DOUBLE), 4) AS p_raw,
       round(power(n_docs / CAST(total AS DOUBLE), 0.3) / zsum, 4) AS p_temp,
       round((power(n_docs / CAST(total AS DOUBLE), 0.3) / zsum)
             / (n_docs / CAST(total AS DOUBLE)), 4) AS boost
FROM s CROSS JOIN tot CROSS JOIN z
ORDER BY lang
""",
)
def sample_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language sampling (alpha=0.3, the
    mBERT/XLM-R multilingual recipe): renormalize per-language corpus
    shares as p^alpha / sum(p^alpha), flattening the head so
    low-resource languages are upsampled. Outputs the raw share, the
    temperature share, and the effective repeat factor (boost) the
    sampler applies per language.

    Scale: one hash aggregate to |langs| rows, then two scalar
    broadcasts (grand total, partition function Z) cross-joined back —
    constant-size joins regardless of corpus size. The float partition
    sum Z is |langs| terms; its cross-engine accumulation-order drift
    is ~1e-16 against a 1e-4 rounding grid (output-only, no control
    flow on the value — the safe side of the semantic-buckets rule).
    """
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    tot = F.broadcast(s.agg(F.sum("n_docs").alias("total")))
    p = F.col("n_docs") / F.col("total").cast("double")
    z = F.broadcast(
        s.crossJoin(tot).agg(F.sum(F.pow(p, F.lit(0.3))).alias("zsum"))
    )
    p_temp = F.pow(p, F.lit(0.3)) / F.col("zsum")
    return (
        s.crossJoin(tot)
        .crossJoin(z)
        .select(
            "lang",
            "n_docs",
            r4(p).alias("p_raw"),
            r4(p_temp).alias("p_temp"),
            r4(p_temp / p).alias("boost"),
        )
        .orderBy(F.asc("lang"))
    )


@query(
    "sample_global_reid",
    oracle="""
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id ASC) AS BIGINT) AS new_id,
       doc_id // 64 AS bucket
FROM documents
ORDER BY doc_id
""",
)
def sample_global_reid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed dense re-ID: assign contiguous 1..N ids in doc_id
    order WITHOUT a global single-partition window — the relational
    spelling of zipWithIndex that every shard-and-pack pipeline needs
    (contiguous example ids before sharding). Two-phase: per-range-
    bucket counts roll up to bucket offsets (a |buckets|-row window,
    broadcast back), then row_number() runs independently INSIDE each
    bucket; new_id = offset + intra-bucket rank. Because buckets are
    contiguous doc_id ranges, the concatenation is exactly the global
    order — the oracle is the naive global row_number().

    Scale: the global-sort window Spark would otherwise plan funnels
    100 TB through ONE task; here the heavy window is partitioned by
    bucket (range-disjoint), and the only global object is the
    |buckets|-row offset table. Same decomposition works for any
    range-partitionable key (file splits, date buckets).
    """
    docs = table(spark, sf_dir, "documents").select("doc_id")
    b = docs.withColumn("bucket", F.expr("doc_id div 64"))
    w_off = Window.orderBy(F.asc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset"),
        )
    )
    w_in = Window.partitionBy("bucket").orderBy(F.asc("doc_id"))
    return (
        b.join(F.broadcast(offsets), "bucket")
        .select(
            "doc_id",
            (F.col("offset") + F.row_number().over(w_in)).cast("bigint").alias("new_id"),
            "bucket",
        )
        .orderBy(F.asc("doc_id"))
    )


@query(
    "sample_top_p_nucleus",
    oracle="""
WITH s AS (
  SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY lang, source
),
r AS (
  SELECT lang, source, chars,
         sum(chars) OVER (PARTITION BY lang ORDER BY chars DESC, source ASC
                          ROWS UNBOUNDED PRECEDING) AS cum_chars,
         sum(chars) OVER (PARTITION BY lang) AS total_chars
  FROM s
)
SELECT lang, source, chars, CAST(cum_chars AS BIGINT) AS cum_chars,
       round(chars / CAST(total_chars AS DOUBLE), 4) AS share
FROM r
WHERE (cum_chars - chars) * 10 < total_chars * 8
ORDER BY lang, cum_chars
""",
)
def sample_top_p_nucleus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-p (nucleus) source selection per language: keep the
    smallest set of sources covering >= 80% of each language's
    character mass — the curation move that drops the long tail of
    marginal sources while keeping coverage (the sampling analogue of
    nucleus decoding). A source is kept iff the cumulative mass BEFORE
    it is still under the threshold, so the crossing source is
    included and every language keeps >= 1 source.

    Determinism: the keep decision is INTEGER arithmetic —
    (cum_before * 10) < (total * 8) on exact bigint char sums — no
    float threshold in the control flow (the semantic-buckets rule);
    only the reported share is a rounded double.

    Scale: one hash aggregate to |lang x source| rows, then two
    windows sharing the lang partition (one exchange). The heavy data
    never enters a window — only the aggregate does.
    """
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy("lang", "source").agg(
        F.sum("n_chars").cast("bigint").alias("chars")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy(F.desc("chars"), F.asc("source"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("lang")
    r = s.select(
        "lang",
        "source",
        "chars",
        F.sum("chars").over(w_cum).alias("cum_chars"),
        F.sum("chars").over(w_tot).alias("total_chars"),
    )
    return (
        r.filter((F.col("cum_chars") - F.col("chars")) * 10 < F.col("total_chars") * 8)
        .select(
            "lang",
            "source",
            "chars",
            F.col("cum_chars").cast("bigint").alias("cum_chars"),
            r4(F.col("chars") / F.col("total_chars").cast("double")).alias("share"),
        )
        .orderBy(F.asc("lang"), F.asc("cum_chars"))
    )


@query(
    "text_perplexity_unigram",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
),
uni AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
n AS (SELECT sum(c) AS total FROM uni),
d AS (
  SELECT tok.doc_id,
         count(*) AS n_tokens,
         sum(ln(c / CAST(total AS DOUBLE))) AS ll
  FROM tok JOIN uni USING (w) CROSS JOIN n
  GROUP BY tok.doc_id
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(exp(-ll / n_tokens), 4) AS ppl
FROM d
ORDER BY doc_id
""",
)
def text_perplexity_unigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM perplexity per document — the CCNet-style fluency
    signal quality pipelines bucket corpora by (low ppl = looks like
    the corpus, high ppl = noise/outlier). The LM here is the corpus's
    own unigram distribution (c/N, no smoothing needed: every token in
    the corpus has corpus support); ppl = exp(-mean log p).

    Scale: one token-level hash aggregate builds the |vocab|-row LM,
    broadcast back onto the token stream; the per-doc log-likelihood
    is a second map-side-combinable aggregate. The float log-sum
    accumulates in engine-specific order — output-only (r4), never
    control flow. At 100 TB the LM table is exactly the kind of
    dim that must NOT be collected: it stays a broadcast relation.
    """
    docs = table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    uni = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n = F.broadcast(uni.agg(F.sum("c").alias("total")))
    d = (
        tok.join(F.broadcast(uni), "w")
        .crossJoin(n)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.log(F.col("c") / F.col("total").cast("double"))).alias("ll"),
        )
    )
    return d.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        r4(F.exp(-F.col("ll") / F.col("n_tokens"))).alias("ppl"),
    ).orderBy(F.asc("doc_id"))


@query(
    "sample_train_val_test",
    oracle="""
WITH s AS (
  SELECT lang, n_chars,
         CASE WHEN substr(md5(text), 1, 4) <= 'e665' THEN 'train'
              WHEN substr(md5(text), 1, 4) <= 'f332' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT lang, split, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM s GROUP BY lang, split
ORDER BY lang, split
""",
)
def sample_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratum-auditable train/val/test split (~90/5/5):
    the split label is a pure function of the CONTENT hash (md5 prefix
    against fixed hex thresholds — 0xe665/0xffff ≈ 90%, next ≈ 5%), so
    the assignment is reproducible across engines, reruns, and
    repartitions, and exact duplicates land in the same split (no
    train/test leakage through dupes — the property rand() splits
    silently lose). Output: per-(lang, split) document and char
    counts, the audit table reviewers ask for.

    Scale: label assignment is map-only on the scan; the audit is one
    small hash aggregate. The full split materialization is the same
    expression used as a partitionBy('split') write.
    """
    docs = table(spark, sf_dir, "documents")
    b = F.substring(F.md5("text"), 1, 4)
    split = (
        F.when(b <= "e665", "train").when(b <= "f332", "val").otherwise("test")
    )
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy(F.asc("lang"), F.asc("split"))
    )


@query(
    "text_bpe_pair_counts",
    oracle="""
WITH words AS (
  SELECT w, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE len(w) >= 2
  GROUP BY w
),
pairs AS (
  SELECT substr(w, i, 1) || substr(w, i + 1, 1) AS pair, freq
  FROM words, unnest(generate_series(1, len(w) - 1)) AS t(i)
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 30
""",
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge step of tokenizer training: corpus-weighted
    adjacent character-pair counts. The trick that makes this scale is
    the one real BPE trainers use — collapse the corpus to the
    (word, frequency) vocabulary FIRST (token-level hash aggregate),
    then enumerate each distinct word's character pairs once and weight
    by frequency, instead of walking every corpus character. The top
    pair is the merge a BPE trainer would perform; iterating
    (merge, recount) is driver-side orchestration of this same query
    over a re-encoded vocabulary.

    Scale: |vocab| is sublinear in corpus size (Heaps' law — measured
    by text_vocab_growth), so the pair enumeration touches a shrinking
    fraction of the data as the corpus grows; both aggregates are
    map-side combinable and the top-30 is a heap.
    """
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH words AS (
  SELECT w, count(1) AS freq
  FROM (SELECT explode(split(text, ' ')) AS w FROM documents)
  WHERE length(w) >= 2
  GROUP BY w
),
pairs AS (
  SELECT concat(substr(w, i, 1), substr(w, i + 1, 1)) AS pair, freq
  FROM words LATERAL VIEW explode(sequence(1, length(w) - 1)) AS i
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 30
""",
        ("documents",),
    )


@query(
    "text_heavy_hitters",
    oracle="""
WITH wc AS (
  SELECT w, count(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
tot AS (SELECT sum(n) AS total FROM wc)
SELECT w AS word, CAST(n AS BIGINT) AS n,
       round(n / CAST(total AS DOUBLE), 4) AS support
FROM wc CROSS JOIN tot
WHERE n * 100 >= total
ORDER BY n DESC, word
""",
)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: tokens with support >= 1% of the corpus —
    the exact answer count-min/Misra-Gries sketches approximate, and
    the vocabulary-pruning / stop-list-induction primitive curation
    pipelines run. The keep decision is INTEGER arithmetic
    (n*100 >= total) — no float threshold in control flow; only the
    reported support ratio is a rounded double.

    Scale: by the pigeonhole bound at most 100 items can clear a 1%
    support floor, so the output is tiny no matter the corpus; the
    plan is one map-side-combinable token aggregate + a 1-row total
    broadcast. When even |vocab| partials are too big, the sketch
    path is the fallback — this exact spelling is the oracle for it.
    """
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = F.broadcast(wc.agg(F.sum("n").alias("total")))
    return (
        wc.crossJoin(tot)
        .filter(F.col("n") * 100 >= F.col("total"))
        .select(
            F.col("w").alias("word"),
            F.col("n").cast("bigint").alias("n"),
            r4(F.col("n") / F.col("total").cast("double")).alias("support"),
        )
        .orderBy(F.desc("n"), F.asc("word"))
    )


def dsir_weights(docs: DataFrame, target_pred, n_buckets: int = 256) -> DataFrame:
    """Hashed-n-gram importance weights (DSIR, Xie et al. 2023,
    arXiv:2302.03169): score each document by how much its hashed bigram
    distribution looks like a TARGET corpus relative to the RAW corpus.

    weight(doc) = Σ_g log( p_target(bucket(g)) / p_raw(bucket(g)) )
    over the doc's bigram instances, with Laplace-smoothed bucket
    probabilities p(b) = (count_b + 1) / (total + n_buckets).

    The bucket function is cross-engine exact: the first two hex chars
    of md5(bigram) via positional lookup in '0123456789abcdef' (no
    hex->int builtin shared by Spark and DuckDB), giving 256 buckets.

    Scale: the entire model is the <=n_buckets-row log-ratio table —
    built with two map-side-combinable aggregates and broadcast back;
    scoring joins each GRAM to the broadcast table and sums straight
    into groupBy(doc_id), so partial aggregation collapses every doc's
    grams map-side and the scoring shuffle carries ~|docs| partial
    rows (measured by tools/shuffle_report.py: the earlier
    groupBy(doc, bucket) intermediate spelling shuffled ~16 records
    per scanned row; this one ~1 per doc). At 100 TB this is the
    cheapest useful data-selection signal (the DSIR paper's point:
    importance resampling over hashed features, not model forward
    passes).

    ``target_pred``: boolean Column selecting the target slice.
    """
    toks = docs.select(
        "doc_id", target_pred.alias("is_target"), F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 2)
    grams = toks.select(
        "doc_id",
        "is_target",
        F.explode(
            F.expr("transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))")
        ).alias("g"),
    )
    hexpos = "instr('0123456789abcdef', substring(md5(g), {}, 1)) - 1"
    bk = grams.select(
        "doc_id",
        "is_target",
        (
            F.expr(hexpos.format(1)) * 16 + F.expr(hexpos.format(2))
        ).cast("int").alias("b"),
    )
    raw = bk.groupBy("b").agg(
        F.count(F.lit(1)).alias("rc"),
        F.sum(F.col("is_target").cast("bigint")).alias("tc"),
    )
    tot = F.broadcast(
        raw.agg(F.sum("rc").alias("r_tot"), F.sum("tc").alias("t_tot"))
    )
    lr = F.broadcast(
        raw.crossJoin(tot).select(
            "b",
            (
                F.log((F.col("tc") + 1) / (F.col("t_tot") + n_buckets).cast("double"))
                - F.log((F.col("rc") + 1) / (F.col("r_tot") + n_buckets).cast("double"))
            ).alias("logratio"),
        )
    )
    return (
        bk.join(lr, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            r4(F.sum("logratio")).alias("dsir_weight"),
        )
    )


@query(
    "text_dsir_importance",
    oracle="""
WITH toks AS (
  SELECT doc_id, lang = 'en' AS is_target, string_split(text, ' ') AS w
  FROM documents WHERE len(string_split(text, ' ')) >= 2
),
grams AS (
  SELECT doc_id, is_target, w[i] || ' ' || w[i + 1] AS g
  FROM toks, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
),
bk AS (
  SELECT doc_id, is_target,
         (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
         + strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1 AS b
  FROM grams
),
raw AS (
  SELECT b, count(*) AS rc,
         sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tc
  FROM bk GROUP BY b
),
tot AS (
  SELECT sum(rc) AS r_tot, sum(tc) AS t_tot FROM raw
),
lr AS (
  SELECT b,
         ln((tc + 1) / CAST(t_tot + 256 AS DOUBLE))
         - ln((rc + 1) / CAST(r_tot + 256 AS DOUBLE)) AS logratio
  FROM raw, tot
),
per AS (SELECT doc_id, b, count(*) AS c FROM bk GROUP BY doc_id, b)
SELECT per.doc_id,
       CAST(sum(c) AS BIGINT) AS n_bigrams,
       round(sum(c * logratio), 4) AS dsir_weight
FROM per JOIN lr ON per.b = lr.b
GROUP BY per.doc_id
""",
)
def text_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights with target = English documents: the
    data-selection score a pretraining pipeline computes to resample
    a raw crawl toward a target domain (see :func:`dsir_weights` for
    the algorithm, scale design, and the cross-engine bucket hash).

    Float discipline: bucket log-ratios derive from exact integer
    counts — both engines evaluate ln() of identical rationals — and
    each doc sums <=256 such terms scaled by integer counts; the
    accumulation noise (~1e-14 relative) is far below the r4 grid.
    Output only — no control flow on the float (the semantic-buckets
    rule)."""
    docs = table(spark, sf_dir, "documents")
    return dsir_weights(docs, F.col("lang") == "en")


@query(
    "text_normalize_dedup_gain",
    oracle="""
WITH n AS (
  SELECT source, text,
         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                             ' +', ' ', 'g')) AS norm
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_raw,
       CAST(count(DISTINCT md5(norm)) AS BIGINT) AS distinct_norm,
       CAST(count(DISTINCT md5(text)) - count(DISTINCT md5(norm)) AS BIGINT)
         AS dedup_gain
FROM n
GROUP BY source
ORDER BY source
""",
)
def text_normalize_dedup_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup audit: per source, how many
    additional duplicates does canonicalization (lowercase, strip
    non-alphanumerics, collapse whitespace, trim) expose over raw
    byte-exact hashing? This is the preprocessing decision every exact
    dedup stage makes first (C4/CCNet normalize before hashing;
    RefinedWeb measures exactly this gain) — run as an audit BEFORE
    committing to a normalization, because the gain is also the
    false-merge risk budget.

    Cross-engine: the normalization is two regexp_replace passes with
    shared-syntax character-class patterns ('[^a-z0-9 ]', ' +') that
    Java regex and RE2 interpret identically; hashing is md5 on both.

    Scale: count(DISTINCT md5) per group — at 100 TB spell each as the
    bitmap/HLL rollup (agg_bitmap_distinct / agg_hll_sketch_rollup);
    the normalization itself is a narrow map. The md5 indirection
    keeps the shuffle rows at 16 bytes instead of document size."""
    docs = table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    n = docs.select("source", F.md5("text").alias("h_raw"), F.md5(norm).alias("h_norm"))
    return (
        n.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("h_raw").cast("bigint").alias("distinct_raw"),
            F.countDistinct("h_norm").cast("bigint").alias("distinct_norm"),
            (F.countDistinct("h_raw") - F.countDistinct("h_norm"))
            .cast("bigint")
            .alias("dedup_gain"),
        )
        .orderBy(F.asc("source"))
    )


@query(
    "sample_token_budget_waterfill",
    oracle="""
WITH s AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tok
  FROM documents GROUP BY source
),
tot AS (SELECT sum(tok) AS total, count(*) AS n_src,
               CAST(floor(sum(tok) * 0.6) AS BIGINT) AS budget
        FROM s),
r AS (
  SELECT source, tok, total, n_src, budget,
         row_number() OVER (ORDER BY tok ASC, source ASC) AS rk,
         sum(tok) OVER (ORDER BY tok ASC, source ASC
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM s, tot
),
tau AS (
  SELECT max((budget - (cum - tok)) / CAST(n_src - rk + 1 AS DOUBLE)) AS cap
  FROM r
  WHERE tok * CAST(n_src - rk + 1 AS DOUBLE) >= budget - (cum - tok)
)
SELECT source, tok,
       round(least(CAST(tok AS DOUBLE), cap), 4) AS allocated,
       tok > cap AS capped
FROM r, tau
ORDER BY source
""",
)
def sample_token_budget_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling across sources: given a global
    training budget B (60% of total corpus tokens), allocate each
    source min(tokens, τ) where the common cap τ makes the allocations
    sum exactly to B — the max-min fair allocator a data-mixing
    pipeline runs when it must DOWN-sample big sources without
    touching small ones (the flat-cap dual of temperature sampling;
    cf. the per-source caps in Llama/PaLM data recipes).

    τ in closed form: sort sources by size ascending with prefix sums;
    for each position the candidate cap is (B - cum_before) / n_remaining,
    and τ is the largest candidate whose position is feasible
    (tok * n_remaining >= B - cum_before, i.e. the crossing source
    itself would not be force-capped below a smaller source). Every
    comparison is a single IEEE division of exact integers — correctly
    rounded and engine-identical, no accumulated float in control flow.

    Scale: everything after the per-source aggregate operates on
    |sources| rows (bounded — the windows here are the audit-allowlist
    shape); the heavy input collapses in one map-side-combinable
    aggregate. Invariant (tested): Σ allocated == B exactly up to the
    closed-form rational, and uncapped sources keep their full mass."""
    s = (
        table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("bigint").alias("tok"))
    )
    tot = F.broadcast(
        s.agg(
            F.sum("tok").alias("total"),
            F.count(F.lit(1)).alias("n_src"),
            F.floor(F.sum("tok") * 0.6).cast("bigint").alias("budget"),
        )
    )
    w = Window.orderBy(F.asc("tok"), F.asc("source"))
    r = (
        s.crossJoin(tot)
        .withColumn("rk", F.row_number().over(w))
        .withColumn(
            "cum", F.sum("tok").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    )
    remaining = (F.col("n_src") - F.col("rk") + 1).cast("double")
    cand = (F.col("budget") - (F.col("cum") - F.col("tok"))) / remaining
    feasible = F.col("tok") * remaining >= F.col("budget") - (F.col("cum") - F.col("tok"))
    tau = F.broadcast(
        r.filter(feasible).agg(F.max(cand).alias("cap"))
    )
    return (
        r.crossJoin(tau)
        .select(
            "source",
            "tok",
            r4(F.least(F.col("tok").cast("double"), F.col("cap"))).alias("allocated"),
            (F.col("tok") > F.col("cap")).alias("capped"),
        )
        .orderBy(F.asc("source"))
    )


@query(
    "text_zipf_fit",
    oracle="""
WITH wc AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
top AS (
  SELECT w, n FROM wc ORDER BY n DESC, w ASC LIMIT 1000
),
rk AS (
  SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, w ASC) AS DOUBLE)) AS x,
         ln(CAST(n AS DOUBLE)) AS y
  FROM top
)
SELECT CAST(count(*) AS BIGINT) AS n_terms,
       round((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x)), 4) AS zipf_slope,
       round((sum(y) - ((count(*) * sum(x * y) - sum(x) * sum(y))
             / (count(*) * sum(x * x) - sum(x) * sum(x))) * sum(x))
             / count(*), 4) AS intercept
FROM rk
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token frequencies: the
    least-squares slope of ln(count) against ln(rank) — the corpus-
    health statistic curation pipelines track (natural language sits
    near slope -1; heavily templated/boilerplate corpora flatten, OCR
    noise steepens the tail; cf. Piantadosi 2014's review). Slope and
    intercept come from the closed-form normal equations over the
    1000-point log-log cloud.

    Scale: the token count is one map-side-combinable aggregate; the
    top-1000 cut is TakeOrderedAndProject (never a full sort); rank
    and the regression sums run over exactly 1000 rows (bounded —
    the audit-allowlist shape). Float discipline: ln() of exact
    integers on both engines, ~1000-term sums whose accumulation-order
    noise (~1e-13 relative) sits far below the r4 grid; output-only.
    """
    docs = table(spark, sf_dir, "documents")
    wc = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    top = wc.orderBy(F.desc("n"), F.asc("w")).limit(1000)
    w_rk = Window.orderBy(F.desc("n"), F.asc("w"))
    rk = top.select(
        F.log(F.row_number().over(w_rk).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    cnt = F.count(F.lit(1)).cast("double")
    slope = (cnt * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        cnt * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return rk.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        r4(slope).alias("zipf_slope"),
        r4((F.sum("y") - slope * F.sum("x")) / cnt).alias("intercept"),
    )


@query(
    "sample_pps_systematic",
    oracle="""
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS w FROM documents
),
c AS (
  SELECT doc_id, w,
         sum(w) OVER (ORDER BY doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
),
tot AS (SELECT sum(w) AS total FROM t),
sel AS (
  SELECT doc_id, w, cum, (cum - w) AS cum_before, total,
         total // 100 AS step
  FROM c, tot
)
SELECT doc_id, CAST(w AS BIGINT) AS n_tokens,
       CAST(cum_before // step AS BIGINT) AS pick_idx
FROM sel
WHERE cum_before // step < cum // step AND cum_before // step < 100
ORDER BY doc_id
""",
)
def sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sampling:
    pick ~100 documents with inclusion probability proportional to
    token count — the standard way to draw a token-budgeted audit/eval
    subset whose coverage follows the corpus mass (big docs can't hide;
    tiny docs don't flood the sample). A doc is selected iff its token
    interval [cum_before, cum) crosses a multiple of step = total/100 —
    the classic systematic-sampling rule, entirely INTEGER arithmetic
    (token counts, exact cumulative sums, integer division), so
    selection is bit-deterministic on both engines — no float ever
    reaches control flow.

    Scale: the cumulative sum uses scale_patterns.bucketed_running_sums
    (two-phase bucket-offset) — no single-partition window anywhere;
    selection and projection are narrow. Docs longer than step can
    cross several multiples (pick_idx jumps) — the standard PPS
    certainty-inclusion behavior for oversized units.
    """
    t = table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("w")
    )
    c = bucketed_running_sums(t, "doc_id", F.expr("doc_id div 64"), {"w": "cum"})
    tot = F.broadcast(t.agg(F.sum("w").alias("total")))
    sel = c.crossJoin(tot).select(
        "doc_id",
        "w",
        (F.col("cum") - F.col("w")).alias("cum_before"),
        "cum",
        F.expr("total div 100").alias("step"),
    )
    return (
        sel.filter(
            (F.expr("cum_before div step") < F.expr("cum div step"))
            & (F.expr("cum_before div step") < 100)
        )
        .select(
            "doc_id",
            F.col("w").cast("bigint").alias("n_tokens"),
            F.expr("cum_before div step").cast("bigint").alias("pick_idx"),
        )
        .orderBy(F.asc("doc_id"))
    )


@query(
    "sample_epoch_shuffle",
    oracle="""
WITH e AS (
  SELECT doc_id, epoch, md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS k
  FROM documents, (SELECT unnest([1, 2]) AS epoch)
),
r AS (
  SELECT doc_id, epoch,
         CAST(row_number() OVER (PARTITION BY epoch ORDER BY k ASC, doc_id ASC)
              AS BIGINT) AS pos
  FROM e
)
SELECT doc_id, epoch, pos FROM r WHERE doc_id < 100
ORDER BY epoch, doc_id
""",
)
def sample_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffling: every training epoch
    reorders all documents by md5(epoch:doc_id) — reproducible across
    restarts and workers (no rand()), different every epoch, and each
    epoch's order is a full permutation. The primitive behind
    epoch-shuffled data loading without materializing shuffled copies.

    Positions are EXACT global ranks computed with the two-phase
    bucket-offset pattern over STRING keys: the first two hex chars of
    the shuffle key give 256 range-disjoint prefix buckets (prefix
    binning is monotone in string order), per-bucket counts roll up to
    broadcast offsets, and row_number runs partitioned by (epoch,
    bucket) — the string-keyed sibling of bucketed_global_rank, never
    an unpartitioned window. Output restricted to doc_id < 100 so the
    check stays bounded while ranks are computed over the FULL corpus.

    Scale: 2 narrow map passes + one (epoch, bucket) window; at 100 TB
    the ranks shard the corpus into loader assignments directly
    (position div shard_size)."""
    docs = table(spark, sf_dir, "documents").select("doc_id")
    e = docs.crossJoin(
        F.broadcast(
            docs.sparkSession.createDataFrame([(1,), (2,)], "epoch INT")
        )
    ).select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat(
                F.col("epoch").cast("string"), F.lit(":"), F.col("doc_id").cast("string")
            )
        ).alias("k"),
    )
    b = e.withColumn("bucket", F.substring("k", 1, 2))
    w_off = Window.partitionBy("epoch").orderBy(F.asc("bucket")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        b.groupBy("epoch", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "epoch",
            "bucket",
            F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("off"),
        )
    )
    w_in = Window.partitionBy("epoch", "bucket").orderBy(F.asc("k"), F.asc("doc_id"))
    return (
        b.join(F.broadcast(offsets), ["epoch", "bucket"])
        .select(
            "doc_id",
            "epoch",
            (F.col("off") + F.row_number().over(w_in)).cast("bigint").alias("pos"),
        )
        .filter(F.col("doc_id") < 100)
        .orderBy(F.asc("epoch"), F.asc("doc_id"))
    )


@query(
    "text_top_ngram_coverage",
    oracle="""
WITH g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1),
                                       i -> l[i] || ' ' || l[i + 1])) AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
), c AS (
  SELECT doc_id, bg, count(*) AS n FROM g GROUP BY doc_id, bg
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_bigrams,
       round(max(n) / CAST(sum(n) AS DOUBLE), 4) AS top_share,
       round(max(n) / CAST(sum(n) AS DOUBLE), 4) <= 0.08 AS keep
FROM c GROUP BY doc_id
""",
)
def text_top_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER Gopher/MassiveText repetition signal (Rae et al. 2021
    §A1.1, public), complementing text_repetition_ratio's duplicate-
    bigram fraction: TOP-n-gram coverage — the share of all bigram
    occurrences claimed by the single most frequent bigram. A doc
    looping one phrase shows near-1 coverage even when its overall
    duplicate fraction is moderate; the published pipelines threshold
    both (top-2-gram share <= 0.08 is keep, mirrored here as a
    column).

    Scale: MAP-ONLY — a doc's grams all live in its own row, so the
    max per-gram count is the longest equal run of the SORTED gram
    array, computed with an aggregate() HOF carrying a (best, current,
    prev) struct; no explode, no shuffle, no vocabulary (the r5
    shuffle_report caught the first draft shuffling 55 gram records
    per document through a (doc_id, bigram) combine — this spelling
    moves zero). O(n log n) per doc inside codegen."""
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    docs = docs.filter(F.size("l") >= 2).withColumn(
        "bgs",
        F.expr(
            "array_sort(transform(sequence(1, size(l) - 1), "
            "i -> concat(element_at(l, i), ' ', element_at(l, i + 1))))"
        ),
    )
    maxrun = F.expr(
        "aggregate(bgs, "
        "struct(0 AS best, 0 AS cur, CAST(NULL AS STRING) AS prev), "
        "(acc, x) -> struct("
        "  greatest(acc.best, IF(x <=> acc.prev, acc.cur + 1, 1)), "
        "  IF(x <=> acc.prev, acc.cur + 1, 1), "
        "  x), "
        "acc -> acc.best)"
    )
    n_bg = F.size("bgs")
    share = r4(maxrun / n_bg.cast("double"))
    return docs.select(
        "doc_id",
        n_bg.cast("bigint").alias("n_bigrams"),
        share.alias("top_share"),
        (share <= 0.08).alias("keep"),
    )


@query(
    "text_winnowing_fingerprint",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), g AS (
  SELECT doc_id, unnest(generate_series(1, len(l) - 2)) AS pos, l FROM t
), h AS (
  SELECT doc_id, pos,
         ((strpos('{_HEX}', substr(md5(l[pos] || ' ' || l[pos+1] || ' ' || l[pos+2]), 1, 1)) - 1) * 4096
        + (strpos('{_HEX}', substr(md5(l[pos] || ' ' || l[pos+1] || ' ' || l[pos+2]), 2, 1)) - 1) * 256
        + (strpos('{_HEX}', substr(md5(l[pos] || ' ' || l[pos+1] || ' ' || l[pos+2]), 3, 1)) - 1) * 16
        + (strpos('{_HEX}', substr(md5(l[pos] || ' ' || l[pos+1] || ' ' || l[pos+2]), 4, 1)) - 1)) AS hv,
         len(l) - 2 AS n_grams
  FROM g
), w AS (
  SELECT doc_id, pos, n_grams,
         min(hv) OVER (PARTITION BY doc_id ORDER BY pos ASC
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
  FROM h
)
SELECT doc_id,
       CAST(max(n_grams) - 3 AS BIGINT) AS n_windows,
       CAST(count(DISTINCT wmin) AS BIGINT) AS n_fingerprints
FROM w
WHERE pos <= n_grams - 3
GROUP BY doc_id
""",
)
def text_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every token 3-gram
    (deterministic 16-bit md5-prefix hash, the engine-portable trick
    from text_feature_hashing), slide a window of 4 consecutive gram
    hashes, keep each window's MINIMUM — the guaranteed-coverage
    fingerprint set used for plagiarism/near-dup detection (any match
    of >= w+k-1 tokens shares a fingerprint). Output: per-doc window
    count and distinct-fingerprint count (the stored sketch size).

    Scale: MAP-ONLY — grams, hashes, window minima, and the distinct
    count all compute inside the document's own row with array HOFs
    (the r5 shuffle_report caught the first draft shuffling every gram
    row through a per-doc window — this spelling moves zero; per-doc
    work is bounded by doc length). Fingerprints then feed the
    standard inverted-index join exactly like minhash bands. Entire
    pipeline is codegen expressions — no UDF, no vocabulary."""
    hx = "0123456789abcdef"
    # two-stage transform: md5 once per gram, THEN extract the 4 hex
    # digits — Catalyst does not CSE common subexpressions inside
    # lambdas, so a single-stage spelling computes each md5 4x (the r5
    # scaling probe measured the 4x as ~0.75 s at sf0.1)
    md5s = (
        "transform(sequence(1, size(l) - 2), i -> "
        "substr(md5(concat(element_at(l, i), ' ', element_at(l, i + 1), "
        "' ', element_at(l, i + 2))), 1, 4))"
    )
    hv = (
        f"transform(ms, m -> "
        f"  ((instr('{hx}', substr(m, 1, 1)) - 1) * 4096"
        f" + (instr('{hx}', substr(m, 2, 1)) - 1) * 256"
        f" + (instr('{hx}', substr(m, 3, 1)) - 1) * 16"
        f" + (instr('{hx}', substr(m, 4, 1)) - 1)))"
    )
    docs = (
        table(spark, sf_dir, "documents")
        .withColumn("l", F.split("text", " "))
        .filter(F.size("l") >= 6)  # >= 4 grams -> >= 1 full window
        .withColumn("ms", F.expr(md5s))
        .withColumn("hv", F.expr(hv))
        .drop("ms")
        .withColumn(
            "wmins",
            F.expr(
                "transform(sequence(1, size(hv) - 3), "
                "i -> array_min(slice(hv, i, 4)))"
            ),
        )
    )
    return docs.select(
        "doc_id",
        F.size("wmins").cast("bigint").alias("n_windows"),
        F.size(F.array_distinct("wmins")).cast("bigint").alias("n_fingerprints"),
    )


@query(
    "text_js_divergence",
    oracle="""
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
  WHERE source IN ('src0', 'src1')
), c AS (
  SELECT source, w, count(*) AS n FROM tok GROUP BY source, w
), t AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY source
), d AS (
  SELECT w,
         coalesce(max(CASE WHEN c.source = 'src0' THEN n END), 0)
           / CAST(max(CASE WHEN t.source = 'src0' THEN tot END) AS DOUBLE) AS p,
         coalesce(max(CASE WHEN c.source = 'src1' THEN n END), 0)
           / CAST(max(CASE WHEN t.source = 'src1' THEN tot END) AS DOUBLE) AS q
  FROM c CROSS JOIN t
  WHERE c.source = t.source
  GROUP BY w
)
SELECT CAST(count(*) AS BIGINT) AS vocab_union,
       round(sum(CASE WHEN p > 0 THEN 0.5 * p * ln(p / ((p + q) / 2)) ELSE 0 END)
           + sum(CASE WHEN q > 0 THEN 0.5 * q * ln(q / ((p + q) / 2)) ELSE 0 END),
           4) AS js_nats
FROM d
""",
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between two sources' unigram
    distributions — the symmetric, bounded (<= ln 2) corpus-drift
    measure LLM curation uses to quantify how different two domains
    are before deciding mixture weights (DSIR's importance weights,
    text_dsir_importance, are the per-document version of the same
    comparison; this is the corpus-level scalar).

    Scale: per-source word counts are one map-side-combined shuffle;
    the distributions merge with a full-vocabulary outer join (word-
    keyed, balanced), and the divergence is a single sum — output is
    one row. Smoothing-free: JS is finite on disjoint support (each
    one-sided KL term uses the mixture as reference), which is why it
    beats raw KL for corpus pairs.

    Engine note: the oracle spells the pivot with conditional max
    (CROSS JOIN t matched on source) — same values, set-based; the
    Spark side uses the clearer two-frame outer join. ln() agrees
    cross-engine (both correctly-rounded libm doubles, same operands).
    """
    tok = (
        table(spark, sf_dir, "documents")
        .filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(F.split("text", " ")).alias("w"))
    )
    c = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("tot"))
    cp = (
        c.join(tot, "source")
        .select("source", "w", (F.col("n") / F.col("tot").cast("double")).alias("f"))
    )
    p = cp.filter(F.col("source") == "src0").select("w", F.col("f").alias("p"))
    q = cp.filter(F.col("source") == "src1").select("w", F.col("f").alias("q"))
    d = (
        p.join(q, "w", "full_outer")
        .select(
            F.coalesce("p", F.lit(0.0)).alias("p"),
            F.coalesce("q", F.lit(0.0)).alias("q"),
        )
    )
    mid = (F.col("p") + F.col("q")) / 2
    term_p = F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log(F.col("p") / mid)).otherwise(0.0)
    term_q = F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log(F.col("q") / mid)).otherwise(0.0)
    return d.agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab_union"),
        r4(F.sum(term_p) + F.sum(term_q)).alias("js_nats"),
    )


@query(
    "sample_gumbel_topk_weighted",
    oracle=f"""
WITH u AS (
  SELECT doc_id, n_chars,
         ((strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
        + (strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
        + (strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
        + (strpos('{_HEX}', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) + 1)
           / CAST(65537 AS DOUBLE) AS unif
  FROM documents
), k AS (
  SELECT doc_id, n_chars, round(ln(unif) / n_chars, 10) AS key
  FROM u
)
SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, round(key * 1e6, 4) AS key_e6
FROM k
ORDER BY key DESC, doc_id ASC
LIMIT 20
""",
)
def sample_gumbel_topk_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis-
    Spirakis A-Res key (2006, public): each item ranks by
    ``u^(1/w)`` — equivalently ``ln(u)/w`` — with u a deterministic
    md5-derived uniform in (0, 1]; the top-k by key IS an exact
    weight-proportional sample without replacement. One ranked pass,
    no sequential draws — the distributed-sampling trick that replaces
    the inherently serial urn process (here: character-weighted doc
    selection, the same weighting as token-budget curation).

    Determinism: u = (16-bit md5 prefix + 1) / 65537 — exact dyadic-
    rational arithmetic into ln() on identical operands; the key is
    rounded to 10 decimals BEFORE ranking so both engines rank the
    same grid (the tie-break is doc_id).

    Scale: map-only key computation + one TakeOrderedAndProject
    top-k; at any corpus size this is the cheapest possible weighted
    sampler (no global sort — per-partition top-k then merge)."""
    d = table(spark, sf_dir, "documents")
    m = F.md5(F.col("doc_id").cast("string"))
    hexv = lambda i: F.instr(F.lit(_HEX), F.substring(m, i, 1)) - 1  # noqa: E731
    unif = (hexv(1) * 4096 + hexv(2) * 256 + hexv(3) * 16 + hexv(4) + 1) / F.lit(
        65537.0
    )
    key = F.round(F.log(unif) / F.col("n_chars"), 10)
    return (
        d.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("weight"),
            r4(key * 1e6).alias("key_e6"),
        )
        .orderBy(F.desc("key_e6"), F.asc("doc_id"))
        .limit(20)
    )


@query(
    "sample_length_bucketed_batches",
    oracle="""
WITH d AS (
  SELECT doc_id, CAST(length(string_split(text, ' ')) AS BIGINT) AS n_tok,
         CAST(CASE WHEN length(string_split(text, ' ')) < 32 THEN 0
                   WHEN length(string_split(text, ' ')) < 64 THEN 1
                   WHEN length(string_split(text, ' ')) < 128 THEN 2
                   ELSE 3 END AS BIGINT) AS bucket
  FROM documents
), r AS (
  SELECT doc_id, n_tok, bucket,
         (row_number() OVER (PARTITION BY bucket
                             ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
                                      doc_id ASC) - 1) // 8 AS batch_in_bucket
  FROM d
)
SELECT bucket, CAST(batch_in_bucket AS BIGINT) AS batch_in_bucket,
       CAST(count(*) AS BIGINT) AS batch_rows,
       CAST(max(n_tok) AS BIGINT) AS max_len,
       CAST(sum(n_tok) AS BIGINT) AS real_tokens,
       CAST(max(n_tok) * count(*) AS BIGINT) AS padded_tokens
FROM r
GROUP BY bucket, batch_in_bucket
""",
)
def sample_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching: documents bin into 4 length
    buckets, shuffle deterministically within their bucket (md5
    order), and pack into batches of 8; per batch the real-token vs
    padded-token counts quantify PADDING WASTE — the reason training
    loaders bucket by length at all (batching unsorted docs pads every
    sequence to the batch max; bucketing bounds the waste to the
    bucket's length spread). Σ padded - Σ real across batches is the
    compute thrown away.

    Scale: bucket assignment is map-only; the within-bucket rank is a
    4-partition window (bucket count is fixed, but each bucket is
    corpus-sized — at cluster SF swap the rank for
    scale_patterns.bucketed_global_rank per bucket, the documented
    composition); the batch rollup is a map-side-combined aggregate."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    ).withColumn(
        "bucket",
        F.when(F.col("n_tok") < 32, 0)
        .when(F.col("n_tok") < 64, 1)
        .when(F.col("n_tok") < 128, 2)
        .otherwise(3)
        .cast("bigint"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    r = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "batch_in_bucket", F.expr("(rn - 1) div 8").cast("bigint")
    )
    return (
        r.groupBy("bucket", "batch_in_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("batch_rows"),
            F.max("n_tok").cast("bigint").alias("max_len"),
            F.sum("n_tok").cast("bigint").alias("real_tokens"),
            (F.max("n_tok") * F.count(F.lit(1))).cast("bigint").alias("padded_tokens"),
        )
    )


@query(
    "text_ngram_novelty",
    oracle="""
WITH ref AS (
  SELECT DISTINCT bg FROM (
    SELECT unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM (SELECT string_split(text, ' ') AS l FROM documents
          WHERE source = 'src0')
  )
), g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1),
                                       i -> l[i] || ' ' || l[i + 1])) AS bg
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        WHERE source <> 'src0')
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(count(*) FILTER (ref.bg IS NULL) AS BIGINT) AS n_novel,
       round(count(*) FILTER (ref.bg IS NULL) / CAST(count(*) AS DOUBLE), 4)
         AS novelty
FROM g LEFT JOIN ref ON g.bg = ref.bg
GROUP BY g.doc_id
""",
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty against a reference corpus (src0): per document,
    the fraction of its bigram OCCURRENCES absent from the reference's
    bigram set — the memorization/novelty axis LLM evals measure on
    generations (low novelty = the text restates the reference; the
    inverse of dedup_decontaminate_ngrams' overlap direction, scored
    per-occurrence instead of filtered).

    Scale: the reference distinct-gram set builds with one map-side-
    combined pass; the membership test is a LEFT join keyed on the
    gram (broadcast when the reference fits, shuffle otherwise; a
    Bloom filter of the reference set is the lossy-but-tiny variant —
    same sidecar machinery as acid.read_point). Per-doc rollup is the
    usual combine."""
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    grams = F.expr(
        "transform(sequence(1, size(l) - 1), "
        "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
    )
    ref = (
        docs.filter(F.col("source") == "src0")
        .select(F.explode(grams).alias("bg"))
        .distinct()
        .withColumn("in_ref", F.lit(1))
    )
    g = docs.filter(F.col("source") != "src0").select(
        "doc_id", F.explode(grams).alias("bg")
    )
    j = g.join(ref, "bg", "left")
    novel = F.sum(F.when(F.col("in_ref").isNull(), 1).otherwise(0))
    return g.join(ref, "bg", "left").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        novel.cast("bigint").alias("n_novel"),
        r4(novel / F.count(F.lit(1)).cast("double")).alias("novelty"),
    )


@query("text_zlib_compression_ratio")  # weak: no zlib in SQL engines
def text_zlib_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compression-ratio quality signal (Gopher/RefinedWeb-class
    curation, public): zlib-compress each document and report
    compressed/raw byte ratio — low ratio = repetitive/templated text
    (compressors ARE repetition detectors; this catches long-range
    boilerplate the bigram signals miss), near-1 = high-entropy noise;
    natural prose sits in between. Both tails get a keep=false flag at
    the published-style thresholds (0.35, 0.95).

    Weak registration: no SQL engine exposes zlib, so there is no
    cross-engine oracle — but the computation is exactly reproducible
    (zlib level 6 is deterministic bytes-in/bytes-out), and
    tests/test_backlog_invariants.py pins ordering properties on
    constructed repetitive/random/natural docs.

    Scale: Arrow-batched pandas UDF (the declared Python surface) —
    one map-only pass, ~100 MB/s/core for zlib-6; the bytes never
    leave the executor."""
    @F.pandas_udf("double")
    def zratio(texts: pd.Series) -> pd.Series:
        import zlib

        def ratio(t: str) -> float:
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 4)

        return texts.map(ratio)

    d = table(spark, sf_dir, "documents")
    out = d.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        zratio(F.col("text")).alias("zratio"),
    )
    return out.withColumn(
        "keep", (F.col("zratio") > 0.35) & (F.col("zratio") < 0.95)
    )


@query(
    "text_cdc_chunks",
    oracle="""
WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS l FROM documents),
pos AS (
  SELECT doc_id, source, i AS pos, l[i] AS w
  FROM tok, unnest(generate_series(1, len(l))) AS t(i)
), b AS (
  SELECT doc_id, source, pos, w,
         CASE WHEN substring(md5(w), 32, 1) IN ('0', '8') THEN 1 ELSE 0 END AS cut
  FROM pos
), c AS (
  SELECT doc_id, source, pos, w,
         coalesce(sum(cut) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS chunk_id
  FROM b
), ch AS (
  SELECT doc_id, source, chunk_id,
         string_agg(w, ' ' ORDER BY pos) AS chunk,
         count(*) AS n_tok
  FROM c GROUP BY 1, 2, 3
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(count(DISTINCT chunk) AS BIGINT) AS n_distinct,
       round(1.0 - count(DISTINCT chunk) * 1.0 / count(*), 4) AS dup_ratio,
       round(avg(n_tok), 4) AS avg_chunk_tokens
FROM ch GROUP BY source ORDER BY source
""",
)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the rolling-hash boundary idea behind
    rsync/LBFS/FastCDC, applied to token streams): a chunk boundary
    falls AFTER any token whose md5's last hex digit is in {0, 8} —
    a content-derived 1-in-8 cut, so expected chunk length is 8 tokens
    and, unlike fixed-stride chunking (text_chunk_sliding), an
    insertion early in a document shifts NO downstream boundaries:
    identical passages yield byte-identical chunks wherever they
    appear. The query reports the chunk-level dedup signal per source
    — total vs distinct chunks, duplicated fraction, mean chunk size —
    the measurement a corpus pipeline runs to decide whether
    passage-level dedup is worth a pass.

    Scale: boundary flags are a map-only expression; chunk assembly is
    one doc-partitioned running sum + one (doc, chunk) hash aggregate;
    the per-source rollup is |sources|-bounded. Nothing global — at
    100 TB this is the same plan with more partitions. Chunk ids key
    on content hashes, so the distinct-count shuffle carries md5-sized
    keys, not chunk text, in the production variant (here the chunk
    string itself for oracle comparability)."""
    # In-row chunk assembly (zero-shuffle): the boundary positions and
    # the chunk segments are pure functions of the row's OWN token
    # array, so the whole CDC step is array HOFs — no posexplode into
    # a doc-partitioned window (the naive spelling shuffled every
    # token row; shuffle_report measured 57 records/doc, this spelling
    # shuffles only the (source, chunk) rollup). The oracle keeps the
    # readable window spelling as ground truth. Staged withColumns:
    # Catalyst does not CSE inside lambdas.
    from .scale_patterns import spread_for_fanout

    docs = (
        # spread BEFORE the per-token md5/HOF ladder (optimization
        # r12): the single-split documents scan otherwise evaluates
        # every token's boundary hash serially in one task
        spread_for_fanout(
            table(spark, sf_dir, "documents"),
            n_rows=row_count(sf_dir, "documents"),
        )
        .withColumn("l", F.split("text", " "))
        # cut AFTER token i when md5's last hex digit is in {0, 8}
        .withColumn(
            "b",
            F.expr(
                "filter(sequence(1, size(l)), "
                "i -> substring(md5(element_at(l, i)), 32, 1) IN ('0', '8'))"
            ),
        )
        .withColumn(
            "segs",
            F.expr(
                "filter(transform(sequence(1, size(b) + 1), j -> named_struct("
                "  's', CASE WHEN j = 1 THEN 1 ELSE element_at(b, j - 1) + 1 END,"
                "  'e', CASE WHEN j <= size(b) THEN element_at(b, j) ELSE size(l) END"
                ")), seg -> seg.e >= seg.s)"
            ),
        )
        .withColumn(
            "chunks",
            F.expr(
                "transform(segs, seg -> named_struct("
                "  'chunk', array_join(slice(l, seg.s, seg.e - seg.s + 1), ' '),"
                "  'n_tok', seg.e - seg.s + 1))"
            ),
        )
    )
    # materialization barrier before the explode (optimization r12):
    # without it Catalyst inlines the whole b/segs/chunks lambda
    # cascade into BOTH the Generate's pushed-down null/size filter and
    # the struct-field extract projection, so every doc re-runs the
    # per-token md5 ladder several times (12.0 s at sf0.1; 3.4 s with
    # the barrier). The checkpoint holds one row per doc with its chunk
    # array — document-table-sized, recomputed from parquet every run.
    ch = barrier(docs.select("source", "chunks")).select(
        "source", F.explode("chunks").alias("c")
    )
    return (
        ch.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.countDistinct(F.col("c.chunk")).cast("bigint").alias("n_distinct"),
            r4(1.0 - F.countDistinct(F.col("c.chunk")) / F.count(F.lit(1))).alias(
                "dup_ratio"
            ),
            r4(F.avg(F.col("c.n_tok"))).alias("avg_chunk_tokens"),
        )
        .orderBy(F.asc("source"))
    )


@query(
    "text_source_vocab_overlap",
    oracle="""
WITH v AS (
  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS w
  FROM documents
),
sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n_vocab FROM v GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_inter
  FROM v a JOIN v b ON a.w = b.w AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, sa.n_vocab AS n_a, sb.n_vocab AS n_b, n_inter,
       round(n_inter / CAST(sa.n_vocab + sb.n_vocab - n_inter AS DOUBLE), 4)
         AS jaccard
FROM inter
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
""",
)
def text_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between document SOURCES — the
    corpus-composition diagnostic a data-mixing pipeline runs before
    setting source weights (two sources with near-identical
    vocabularies add redundancy, not coverage). Distinct from the
    row-level dedup family: this compares the DISTINCT-token SETS of
    whole sources, not documents.

    Scale: the (source, token) distinct is one map-side-combined hash
    agg over exploded tokens; the intersection is a token-keyed
    equi-join whose per-token fan-out is bounded by |sources|² (a
    handful), never a document pair explosion; source sizes broadcast.
    Tokenization matches text_tokenize_wordcount (split on ' ')."""
    d = table(spark, sf_dir, "documents")
    v = (
        d.select(
            "source", F.explode(F.split("text", " ")).alias("w")
        ).distinct()
    )
    sz = v.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vocab")
    )
    a, b = v.alias("a"), v.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sz.select(
        F.col("source").alias("source_a"), F.col("n_vocab").alias("n_a")
    )
    sb = sz.select(
        F.col("source").alias("source_b"), F.col("n_vocab").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "n_inter",
            r4(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("jaccard"),
        )
    )


@query(
    "text_lexical_richness",
    oracle="""
WITH w AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
),
pw AS (
  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1, 2
)
SELECT source,
       CAST(sum(cnt) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS BIGINT) AS n_hapax,
       round(CAST(count(*) AS DOUBLE) / sum(cnt), 4) AS ttr,
       round(CAST(count(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE)
             / count(*), 4) AS hapax_ratio,
       round(ln(CAST(count(*) AS DOUBLE)) / ln(CAST(sum(cnt) AS DOUBLE)), 4)
         AS herdan_c
FROM pw GROUP BY source
""",
)
def text_lexical_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C166: lexical-richness profile per source — type-token ratio,
    hapax-legomenon share (Baayen, Word Frequency Distributions 2001)
    and Herdan's C (log-log TTR, the scale-robust variant; Herdan
    1960) — the vocabulary-health triple a corpus-curation pipeline
    tracks per ingest source (template/boilerplate sources crater the
    hapax share long before dedup metrics move; complements
    text_vocab_growth's corpus-level Heaps curve with a per-source
    snapshot).

    Scale: one explode -> (source, word) hash aggregate (map-side
    combined — the wordcount shape) -> per-source count/count-if tail;
    all counts are exact BIGINTs, floats appear only in the three
    final ratios (scale-free, §5.3.1 grid-safe; ln differs by <=1 ulp
    across libm — ~1e-12 on the rounded grid, negligible over tens of
    groups)."""
    pw = (
        table(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    v = F.count(F.lit(1)).cast("bigint")
    n = F.sum("cnt").cast("bigint")
    v1 = F.count(F.when(F.col("cnt") == 1, 1)).cast("bigint")
    return pw.groupBy("source").agg(
        n.alias("n_tokens"),
        v.alias("n_types"),
        v1.alias("n_hapax"),
        r4(v.cast("double") / n).alias("ttr"),
        r4(v1.cast("double") / v).alias("hapax_ratio"),
        r4(F.log(v.cast("double")) / F.log(n.cast("double"))).alias("herdan_c"),
    )


_QM_SCORE = "CAST(n_chars AS DOUBLE) / (1 + size(split(text, ' ')))"
_QM_SCORE_DUCK = "CAST(n_chars AS DOUBLE) / (1 + len(string_split(text, ' ')))"


@query(
    "text_quantile_map_scores",
    oracle=f"""
WITH d AS (
  SELECT doc_id, source, {_QM_SCORE_DUCK} AS score FROM documents
),
a AS (
  SELECT doc_id, source, score,
         row_number() OVER (PARTITION BY source
                            ORDER BY score ASC, doc_id ASC) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM d WHERE source <> 'src0'
),
ref AS (
  SELECT score AS v,
         row_number() OVER (ORDER BY score ASC, doc_id ASC) - 1 AS idx,
         count(*) OVER () AS nr
  FROM d WHERE source = 'src0'
),
pos AS (
  SELECT doc_id, source, score,
         CASE WHEN n = 1 THEN 0.0
              ELSE CAST(rk - 1 AS DOUBLE) / (n - 1) END
         * (SELECT max(nr) - 1 FROM ref) AS p
  FROM a
),
ip AS (
  SELECT doc_id, source, score, p,
         CAST(floor(p) AS BIGINT) AS lo_i,
         CAST(least(floor(p) + 1,
                    (SELECT max(nr) - 1 FROM ref)) AS BIGINT) AS hi_i
  FROM pos
)
SELECT ip.doc_id, ip.source,
       round(ip.score, 4) AS score,
       round(rl.v + (ip.p - ip.lo_i) * (rh.v - rl.v), 4) AS mapped
FROM ip
JOIN ref rl ON rl.idx = ip.lo_i
JOIN ref rh ON rh.idx = ip.hi_i
""",
)
def text_quantile_map_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C183: cross-source QUANTILE MAPPING — align every source's
    quality-score distribution onto a reference source's (the
    domain-adaptation / bias-correction transform: a threshold tuned
    on the reference then applies to every source without per-source
    re-tuning; same mechanics as climate-model quantile-mapping bias
    correction). Each doc's within-source quantile p = (rank-1)/(n-1)
    is looked up in the reference's order statistics with linear
    interpolation between the two bracketing values.

    Determinism: the score is an exact-integer ratio (chars per
    token), ranks are exact (value + doc_id tiebreak), p and the
    interpolation are identical IEEE arithmetic on identical doubles.

    Scale: per-source rank windows (partitioned), then two equi-joins
    against the reference's order statistics — a table the size of
    ONE source, broadcast; nothing global ever sorts."""
    from pyspark.sql import Window as _W

    d = table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_QM_SCORE).alias("score")
    )
    wsrc = _W.partitionBy("source").orderBy(
        F.col("score").asc(), F.col("doc_id").asc()
    )
    a = (
        d.filter(F.col("source") != "src0")
        .withColumn("rk", F.row_number().over(wsrc))
        .withColumn("n", F.count("*").over(_W.partitionBy("source")))
    )
    ref = (
        d.filter(F.col("source") == "src0")
        .withColumn("idx", F.row_number().over(wsrc) - 1)
        .withColumn("nr", F.count("*").over(_W.partitionBy("source")))
        .select(F.col("score").alias("v"), "idx", "nr")
    )
    nr1 = ref.agg(F.max("nr").alias("nr")).select(
        (F.col("nr") - 1).alias("ref_max")
    )
    pos = a.crossJoin(F.broadcast(nr1)).select(
        "doc_id",
        "source",
        "score",
        (
            F.when(F.col("n") == 1, F.lit(0.0)).otherwise(
                (F.col("rk") - 1).cast("double") / (F.col("n") - 1)
            )
            * F.col("ref_max")
        ).alias("p"),
        F.col("ref_max"),
    )
    ip = pos.select(
        "doc_id",
        "source",
        "score",
        "p",
        F.floor("p").cast("bigint").alias("lo_i"),
        F.least(F.floor("p") + 1, F.col("ref_max")).cast("bigint").alias(
            "hi_i"
        ),
    )
    rl = ref.select(F.col("idx").alias("lo_i"), F.col("v").alias("vl"))
    rh = ref.select(F.col("idx").alias("hi_i"), F.col("v").alias("vh"))
    out = ip.join(F.broadcast(rl), "lo_i").join(F.broadcast(rh), "hi_i")
    return out.select(
        "doc_id",
        "source",
        r4(F.col("score")).alias("score"),
        r4(
            F.col("vl") + (F.col("p") - F.col("lo_i")) * (F.col("vh") - F.col("vl"))
        ).alias("mapped"),
    )


@query(
    "text_intradoc_repetition",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), bg AS MATERIALIZED (
  SELECT doc_id, ws,
         list_transform(generate_series(1, len(ws) - 1),
                        i -> ws[i] || ' ' || ws[i + 1]) AS bs
  FROM toks WHERE len(ws) >= 2
), rep AS (
  SELECT doc_id,
         unnest(list_filter(generate_series(2, len(bs)),
                            i -> list_contains(list_slice(bs, 1, i - 1),
                                               bs[i]))) AS i
  FROM bg
), cov AS (
  SELECT doc_id, count(DISTINCT p) AS covered FROM (
    SELECT doc_id, i AS p FROM rep
    UNION ALL
    SELECT doc_id, i + 1 FROM rep
  ) GROUP BY doc_id
), nb AS (
  SELECT doc_id, len(bs) AS n_b, len(list_distinct(bs)) AS n_dist FROM bg
)
SELECT t.doc_id,
       CAST(len(t.ws) AS BIGINT) AS n_tokens,
       CAST(coalesce(nb.n_b, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(nb.n_dist, 0) AS BIGINT) AS distinct_bigrams,
       CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(coalesce(cov.covered, 0) * 10000 // len(t.ws) AS BIGINT)
         AS repetition_bp
FROM toks t
LEFT JOIN nb ON t.doc_id = nb.doc_id
LEFT JOIN cov ON t.doc_id = cov.doc_id
""",
)
def text_intradoc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-DOCUMENT repetition profile (the Rae et al. 2021 /
    Gopher "repetition" quality filters; also the intra-document leg
    of Lee et al. 2022): per document, the token mass covered by
    bigrams that already occurred EARLIER IN THE SAME document —
    boilerplate, keyword stuffing and degenerate generation all crater
    this before any cross-document dedup signal moves. Output: bigram
    counts (total/distinct), covered token mass (overlapping repeated
    spans interval-merged, same contract as dedup_substring_exact but
    doc-internal), and the repetition rate in basis points (integer
    division, engine-exact).

    Distinct from text_repetition_ratio (the SET quantity
    1 − distinct/total bigrams — insensitive to WHERE repeats sit:
    "a b a b a" scores 0.5 there but 3-of-5 covered tokens = 6000 bp
    here, because coverage counts the merged positional spans a
    dedup rewrite would actually cut), from text_lexical_richness
    (per-SOURCE vocabulary health), text_ngram_novelty (cross-doc
    novelty), and zlib ratio (compression proxy, declared weak).

    Scale: the dream shape — ZERO SHUFFLE. Tokens, bigrams, the
    earlier-occurrence test and the interval-merge fold all run
    in-row over the bounded token array (O(n²) with n <= ~100, pure
    JVM HOFs); the output is one narrow projection of the scan.
    100 TB of documents = a map-only job."""
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH w AS (
  SELECT doc_id, split(text, ' ') AS ws FROM documents
), b AS (
  SELECT doc_id, ws,
         CASE WHEN size(ws) >= 2 THEN
           transform(sequence(0, size(ws) - 2),
                     i -> concat(ws[i], ' ', ws[i + 1]))
         ELSE array() END AS bs
  FROM w
), r AS (
  SELECT doc_id, ws, bs,
         CASE WHEN size(bs) >= 2 THEN
           filter(sequence(1, size(bs) - 1),
                  i -> array_contains(slice(bs, 1, i), bs[i]))
         ELSE array() END AS rep
  FROM b
)
, c AS (
  -- the fold is staged once (multi-use non-cheap aliases survive
  -- CollapseProject — the r8 HOF-CSE rule: Catalyst would otherwise
  -- evaluate the whole interval-merge twice)
  SELECT doc_id, ws, bs,
         aggregate(
           rep,
           named_struct('tot', 0L, 'e', CAST(-1 AS BIGINT)),
           (acc, p) -> named_struct(
             'tot', acc.tot + greatest(0L, CAST(p + 1 AS BIGINT)
                                       - greatest(CAST(p - 1 AS BIGINT), acc.e)),
             'e', greatest(acc.e, CAST(p + 1 AS BIGINT))),
           acc -> acc.tot) AS covered
  FROM r
)
SELECT doc_id,
       CAST(size(ws) AS BIGINT) AS n_tokens,
       CAST(size(bs) AS BIGINT) AS n_bigrams,
       CAST(size(array_distinct(bs)) AS BIGINT) AS distinct_bigrams,
       covered AS covered_tokens,
       covered * 10000L DIV size(ws) AS repetition_bp
FROM c
""",
        ("documents",),
    )


@query(
    "text_perplexity_kn_bigram",
    oracle="""
WITH tok AS MATERIALIZED (
  SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents
), bg AS MATERIALIZED (
  SELECT source,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i])) AS w1,
         unnest(list_transform(generate_series(1, len(ws) - 1),
                               i -> ws[i + 1])) AS w2
  FROM tok WHERE len(ws) >= 2
), bc AS MATERIALIZED (
  SELECT w1, w2, count(*) AS c FROM bg GROUP BY w1, w2
), ctx AS MATERIALIZED (
  SELECT w1, sum(c) AS c1, count(*) AS t1 FROM bc GROUP BY w1
), cont AS MATERIALIZED (
  SELECT w2, count(*) AS n1w FROM bc GROUP BY w2
), nbt AS (SELECT count(*) AS total_types FROM bc)
SELECT bg.source,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(-sum(ln(
         (greatest(CAST(bc.c AS DOUBLE) - 0.75, 0) / CAST(ctx.c1 AS DOUBLE))
         + (0.75 * CAST(ctx.t1 AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
           * (CAST(cont.n1w AS DOUBLE) / CAST(nbt.total_types AS DOUBLE))
       )) / count(*), 4) AS avg_nll,
       round(exp(-sum(ln(
         (greatest(CAST(bc.c AS DOUBLE) - 0.75, 0) / CAST(ctx.c1 AS DOUBLE))
         + (0.75 * CAST(ctx.t1 AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
           * (CAST(cont.n1w AS DOUBLE) / CAST(nbt.total_types AS DOUBLE))
       )) / count(*)), 4) AS ppl
FROM bg
JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
JOIN ctx ON bg.w1 = ctx.w1
JOIN cont ON bg.w2 = cont.w2
CROSS JOIN nbt
GROUP BY bg.source
ORDER BY bg.source
""",
)
def text_perplexity_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated KNESER-NEY bigram perplexity per source (Kneser &
    Ney 1995; Chen & Goodman 1999's interpolated form, fixed discount
    D=0.75) — the LM-quality signal one tier above
    text_perplexity_unigram: KN's continuation probability ranks a
    word by how many distinct CONTEXTS it follows, which is exactly
    what separates boilerplate-heavy sources (few contexts, repeated)
    from fluent ones. P(w2|w1) = max(c(w1w2)−D, 0)/c(w1) +
    D·|{w: c(w1 w)>0}|/c(w1) · N1+(·w2)/|bigram types|; evaluated on
    the corpus itself (every bigram has support, no OOV branch).

    Scale: the classic LM star — bigram/context/continuation count
    tables built by map-side-combined hash aggregates, then broadcast
    back onto the bigram stream (the model tables are |vocab|-sized
    dims, never collected); per-source NLL is one more combinable
    aggregate. Floats: all probabilities are identical-text IEEE
    expressions over exact counts; ln/exp differ across libm by ≤1 ulp
    per term — output-only, ~1e-11 on the r4 grid (the
    text_lexical_richness precedent)."""
    docs = table(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("ws")
    ).filter(F.size("ws") >= 2)
    bg = docs.select(
        "source",
        F.posexplode(
            F.expr("transform(sequence(0, size(ws) - 2), i -> "
                   "named_struct('w1', ws[i], 'w2', ws[i + 1]))")
        ).alias("pos", "b"),
    ).select("source", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c"))
    ctx = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("t1")
    )
    cont = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("n1w"))
    nbt = F.broadcast(bc.agg(F.count(F.lit(1)).alias("total_types")))
    p = F.expr(
        "(greatest(CAST(c AS DOUBLE) - 0.75, 0) / CAST(c1 AS DOUBLE))"
        " + (0.75 * CAST(t1 AS DOUBLE) / CAST(c1 AS DOUBLE))"
        "   * (CAST(n1w AS DOUBLE) / CAST(total_types AS DOUBLE))"
    )
    d = (
        bg.join(F.broadcast(bc), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(nbt)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("nb"),
            F.sum(F.log(p)).alias("ll"),
        )
    )
    return d.select(
        "source",
        F.col("nb").cast("bigint").alias("n_bigrams"),
        r4(-F.col("ll") / F.col("nb")).alias("avg_nll"),
        r4(F.exp(-F.col("ll") / F.col("nb"))).alias("ppl"),
    ).orderBy(F.asc("source"))


# ---------------------------------------------------------------------------
# C204: syllable-heuristic readability profile — the syllable/complex-
# word machinery of the Flesch Reading Ease / Gunning-Fog family
# (Flesch 1948; Gunning 1952), per (source, lang) corpus slice. The
# fixture corpus carries no sentence punctuation, so the
# sentence-length term is out of scope by construction; the emitted
# components (syllables per word, >=3-syllable complex-word ratio,
# mean word length) are exactly the lexical-difficulty inputs those
# indices combine — the quality signal a readability-filtered corpus
# (textbook-style selection) actually thresholds on.

# vowel-group count per word: replace-all runs of vowels with '#',
# count by length difference. DuckDB needs the explicit 'g' flag to
# match Spark's replace-ALL semantics.
_SYL_SPARK = (
    "greatest(1, length(regexp_replace(w, '[aeiouy]+', '#'))"
    " - length(regexp_replace(w, '[aeiouy]+', '')))"
)
_SYL_DUCK = (
    "greatest(1, length(regexp_replace(w, '[aeiouy]+', '#', 'g'))"
    " - length(regexp_replace(w, '[aeiouy]+', '', 'g')))"
)


@query(
    "text_readability_syllables",
    oracle=f"""
WITH t AS (
  SELECT source, lang, string_split(text, ' ') AS l FROM documents
), d AS (
  SELECT source, lang,
         len(l) AS nw,
         list_sum(list_transform(l, w -> {_SYL_DUCK})) AS ns,
         len(list_filter(l, w -> {_SYL_DUCK} >= 3)) AS ncx,
         list_sum(list_transform(l, w -> length(w))) AS nch
  FROM t
)
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS n_words,
       CAST(sum(ns) AS BIGINT) AS n_syllables,
       round(CAST(sum(ns) AS DOUBLE) / sum(nw), 4) AS syll_per_word,
       round(CAST(sum(ncx) AS DOUBLE) / sum(nw), 4) AS complex_ratio,
       round(CAST(sum(nch) AS DOUBLE) / sum(nw), 4) AS avg_word_len
FROM d GROUP BY source, lang
""",
)
def text_readability_syllables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C204: per-(source, lang) readability components via the
    vowel-group syllable heuristic (a maximal [aeiouy]+ run == one
    syllable, floor 1 — the standard dictionary-free approximation).

    Scale: per-doc syllable/complex/char counts are IN-ROW array
    folds (zero shuffle, exact BIGINTs); the slice profile is one
    map-side-combined hash aggregate over |sources|x|langs| groups.
    Determinism: integer sums all the way; each reported ratio is one
    IEEE division + r4. Cross-engine regex parity is pinned by the
    explicit 'g' flag on the DuckDB side (replace-ALL on both)."""
    t = table(spark, sf_dir, "documents").select(
        "source", "lang", F.split("text", " ").alias("l")
    )
    d = t.select(
        "source",
        "lang",
        F.size("l").cast("bigint").alias("nw"),
        F.expr(
            f"aggregate(l, 0L, (acc, w) -> acc + {_SYL_SPARK})"
        ).alias("ns"),
        F.expr(
            f"size(filter(l, w -> {_SYL_SPARK} >= 3))"
        ).cast("bigint").alias("ncx"),
        F.expr("aggregate(l, 0L, (acc, w) -> acc + length(w))").alias("nch"),
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("nw").cast("bigint").alias("n_words"),
        F.sum("ns").cast("bigint").alias("n_syllables"),
        r4(F.sum("ns").cast("double") / F.sum("nw")).alias("syll_per_word"),
        r4(F.sum("ncx").cast("double") / F.sum("nw")).alias("complex_ratio"),
        r4(F.sum("nch").cast("double") / F.sum("nw")).alias("avg_word_len"),
    )


# ---------------------------------------------------------------------------
# C212: BPE merge rounds — TOKENIZER TRAINING (Sennrich et al. 2016),
# the iterative half of the BPE story beside the static pair counts
# (text_bpe_pair_counts): 3 rounds of highest-weighted-pair merge over
# the corpus vocabulary. The merge itself runs on the BOUNDED distinct
# -word table; only the frequency weighting touches the corpus.

_BPE_ROUNDS = 3


def _bpe_oracle() -> str:
    parts = [
        """
WITH wv AS (
  SELECT w AS word, count(*) AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
v0 AS (
  SELECT word, freq,
         list_aggregate(list_transform(string_split_regex(word, ''),
                                       c -> '[' || c || ']'),
                        'string_agg', '') AS seq
  FROM wv WHERE length(word) > 0
)"""
    ]
    prev = "v0"
    for t in range(1, _BPE_ROUNDS + 1):
        parts.append(f""",
sy{t} AS (
  SELECT word, freq,
         string_split_regex(substr(seq, 2, length(seq) - 2), '\\]\\[') AS sym
  FROM {prev}
),
pc{t} AS (
  SELECT sym[i] AS a, sym[i + 1] AS b, sum(freq) AS cnt
  FROM (SELECT word, freq, sym, unnest(range(1, len(sym))) AS i FROM sy{t})
  GROUP BY 1, 2
),
best{t} AS (
  SELECT a, b, cnt FROM pc{t} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
),
v{t} AS (
  SELECT v.word, v.freq,
         replace(v.seq, '[' || p.a || '][' || p.b || ']',
                 '[' || p.a || p.b || ']') AS seq
  FROM {prev} v CROSS JOIN best{t} p
)"""
        )
        prev = f"v{t}"
    selects = " UNION ALL ".join(
        f"SELECT {t} AS round, a || '+' || b AS merged_pair, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM best{t}"
        for t in range(1, _BPE_ROUNDS + 1)
    )
    return "".join(parts) + f"\n{selects}"


@query("text_bpe_merge_rounds", oracle=_bpe_oracle())
def text_bpe_merge_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C212: BPE tokenizer training, {n} unrolled merge rounds: per
    round, count corpus-frequency-weighted adjacent symbol pairs, pick
    the argmax pair ((count DESC, pair ASC) total order), and merge it
    GREEDILY LEFT-TO-RIGHT in every word. Symbols live bracket-
    delimited in one string ('[b][a][t][c][h]'): literal replace() is
    leftmost-non-overlapping on BOTH engines (verified: '[a][a][a]'
    with pair (a,a) -> '[aa][a]'), which IS the BPE merge order, and
    brackets make cross-symbol false matches impossible.

    Scale: the corpus-sized work is ONE tokenize+count pass (the same
    shape as text_tokenize_wordcount); every merge round then runs on
    the bounded DISTINCT-WORD table (|vocab| rows — the standard BPE
    implementation trick: merge the vocabulary, weight by frequency).
    Determinism: integer weights, lexicographic tie-break, identical
    replace semantics — no float anywhere."""
    wv = (
        table(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy(F.col("w").alias("word"))
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    v = barrier(
        wv.withColumn(
            "seq",
            F.expr(
                "aggregate(split(word, ''), '', "
                "(acc, c) -> CASE WHEN c = '' THEN acc "
                "ELSE acc || '[' || c || ']' END)"
            ),
        )
    )
    out_rows = []
    for t in range(1, _BPE_ROUNDS + 1):
        sy = v.withColumn(
            "sym",
            F.expr(r"split(substr(seq, 2, length(seq) - 2), '\\]\\[')"),
        )
        pc = (
            # single-symbol words contribute no pairs; the guard also
            # dodges Spark's descending sequence(0, -1) on them
            sy.filter(F.expr("size(sym) >= 2"))
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(0, size(sym) - 2), "
                        "i -> named_struct('a', sym[i], 'b', sym[i + 1]))"
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        best = barrier(pc.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b")).limit(1))
        out_rows.append(
            best.select(
                F.lit(t).alias("round"),
                F.concat(F.col("a"), F.lit("+"), F.col("b")).alias(
                    "merged_pair"
                ),
                F.col("cnt").cast("bigint").alias("pair_count"),
            )
        )
        if t == _BPE_ROUNDS:
            break  # the last round's merged vocabulary is never read
        v = barrier(
            v.crossJoin(F.broadcast(best)).select(
                "word",
                "freq",
                F.expr(
                    "replace(seq, '[' || a || '][' || b || ']', "
                    "'[' || a || b || ']')"
                ).alias("seq"),
            ),
            v,
        )
    free_checkpoint(v)  # the output reads only the `best` barriers
    out = out_rows[0]
    for o in out_rows[1:]:
        out = out.unionAll(o)
    return out


text_bpe_merge_rounds.__doc__ = text_bpe_merge_rounds.__doc__.format(
    n=_BPE_ROUNDS
)


# ---------------------------------------------------------------------------
# C217: multinomial Naive Bayes trained IN-ENGINE — the quality/
# domain classifier a curation pipeline trains on its own corpus
# (FineWeb-Edu-style filter, here supervised by the lang label):
# md5 train/test split, Laplace-smoothed token likelihoods, log-space
# scoring, confusion matrix on the held-out half.

_NB_Q = 1_000_000_000  # log-prob quantization grid (1e-9)


def _nb_logq(num: str, den: str) -> str:
    """floor(ln(num/den) * 1e9 + 0.5) as BIGINT — ln of ONE division
    of exact integers is bit-identical cross-engine, and the integer
    grid makes every later SUM order-free."""
    return (
        f"CAST(floor(ln(CAST({num} AS DOUBLE) / CAST({den} AS DOUBLE))"
        f" * {_NB_Q} + 0.5) AS BIGINT)"
    )


@query(
    "ml_naive_bayes_lang",
    oracle=f"""
WITH d AS (
  SELECT doc_id, lang, string_split(text, ' ') AS l,
         substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8' AS is_train
  FROM documents
), tr_tok AS (
  SELECT lang AS c, unnest(l) AS w FROM d WHERE is_train
), counts AS (
  SELECT c, w, count(*) AS n FROM tr_tok GROUP BY c, w
), ctot AS (SELECT c, sum(n) AS toks FROM counts GROUP BY c),
vocab AS (SELECT count(DISTINCT w) AS v FROM tr_tok),
prior AS (
  SELECT lang AS c, count(*) AS dn FROM d WHERE is_train GROUP BY lang
), ptot AS (SELECT sum(dn) AS dtot FROM prior),
model AS (
  SELECT counts.c, counts.w,
         {_nb_logq("counts.n + 1", "ctot.toks + vocab.v")} AS logq
  FROM counts JOIN ctot ON counts.c = ctot.c CROSS JOIN vocab
), unseen AS (
  SELECT ctot.c, {_nb_logq("1", "ctot.toks + vocab.v")} AS logq
  FROM ctot CROSS JOIN vocab
), priorq AS (
  SELECT prior.c, {_nb_logq("prior.dn", "ptot.dtot")} AS plogq
  FROM prior CROSS JOIN ptot
), te_tok AS (
  SELECT doc_id, lang, unnest(l) AS w FROM d WHERE NOT is_train
), scored AS (
  SELECT t.doc_id, t.lang, u.c,
         sum(coalesce(m.logq, u.logq)) AS wsum
  FROM te_tok t
  CROSS JOIN unseen u
  LEFT JOIN model m ON m.c = u.c AND m.w = t.w
  GROUP BY t.doc_id, t.lang, u.c
), best AS (
  SELECT doc_id, lang AS actual,
         min({{'neg': CAST(-(s.wsum + p.plogq) AS BIGINT), 'c': s.c}}).c
           AS predicted
  FROM scored s JOIN priorq p ON p.c = s.c
  GROUP BY doc_id, lang
)
SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n_docs
FROM best GROUP BY actual, predicted
""",
)
def ml_naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C217: multinomial Naive Bayes lang classifier, trained and
    evaluated entirely in-engine: deterministic md5 half-split,
    Laplace(+1) token likelihoods, argmax of ln P(c) + sum ln P(w|c)
    over the held-out half, emitted as the confusion matrix
    (actual x predicted x count) — the supervised twin of the
    heuristic langid (C-text) whose agreement C202 measures.

    Determinism: every log-prob is ln of ONE division of exact
    integer counts, quantized to a 1e-9 BIGINT grid BEFORE summation
    (order-free integer sums); argmax by (score, class) total order.
    Scale: the model is |vocab| x |classes| rows (broadcast); scoring
    is one explode + broadcast left join + (doc, class)-keyed
    aggregate — token-stream bound, classes a constant fan-out; the
    confusion matrix is a |classes|^2 aggregate."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("l"),
        (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "8").alias(
            "is_train"
        ),
    )
    tr_tok = d.filter("is_train").select(
        F.col("lang").alias("c"), F.explode("l").alias("w")
    )
    counts = tr_tok.groupBy("c", "w").agg(F.count(F.lit(1)).alias("n"))
    ctot = counts.groupBy("c").agg(F.sum("n").alias("toks"))
    vocab = tr_tok.agg(F.countDistinct("w").alias("v"))
    prior = (
        d.filter("is_train").groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("dn"))
    )
    ptot = prior.agg(F.sum("dn").alias("dtot"))
    model = (
        counts.join(ctot, "c")
        .crossJoin(F.broadcast(vocab))
        .select("c", "w", F.expr(_nb_logq("n + 1", "toks + v")).alias("logq"))
    )
    unseen = ctot.crossJoin(F.broadcast(vocab)).select(
        "c", F.expr(_nb_logq("1", "toks + v")).alias("logq")
    )
    priorq = prior.crossJoin(F.broadcast(ptot)).select(
        "c", F.expr(_nb_logq("dn", "dtot")).alias("plogq")
    )
    te_tok = d.filter(~F.col("is_train")).select(
        "doc_id", "lang", F.explode("l").alias("w")
    )
    scored = (
        te_tok.crossJoin(F.broadcast(unseen.select(F.col("c"), F.col("logq").alias("ulogq"))))
        .join(
            F.broadcast(model.select(F.col("c"), F.col("w"), F.col("logq").alias("mlogq"))),
            ["c", "w"],
            "left",
        )
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(F.coalesce(F.col("mlogq"), F.col("ulogq"))).alias("wsum"))
    )
    best = (
        scored.join(F.broadcast(priorq), "c")
        .groupBy("doc_id", F.col("lang").alias("actual"))
        .agg(
            F.expr(
                "min_by(c, named_struct('neg', -(wsum + plogq), 'c', c))"
            ).alias("predicted")
        )
    )
    return best.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# C220: TextRank keyword extraction (Mihalcea & Tarau 2004) —
# PageRank on the word co-occurrence graph: the graph-tier power
# iteration (C-graph PageRank / C205 HITS) applied to the text tier.

_TR_D = 0.85
_TR_ITERS = 5
_TR_TOPK = 15


def _tr_oracle() -> str:
    steps = []
    prev = "r0"
    for k in range(1, _TR_ITERS + 1):
        steps.append(f"""
r{k} AS (
  SELECT m.dst AS w, {1.0 - _TR_D!r} + {_TR_D!r} * sum(m.p * {prev}.score)
           AS score
  FROM norm m JOIN {prev} ON m.src = {prev}.w
  GROUP BY m.dst
)"""
        )
        prev = f"r{k}"
    return f"""
WITH t AS (
  SELECT string_split(text, ' ') AS l FROM documents
), bg AS (
  SELECT l[i] AS a, l[i + 1] AS b
  FROM (SELECT l, unnest(range(1, len(l))) AS i FROM t)
  WHERE l[i] <> l[i + 1]
), e0 AS (
  SELECT a, b, CAST(count(*) AS DOUBLE) AS wt FROM bg GROUP BY a, b
), edges AS (
  SELECT a AS src, b AS dst, wt FROM e0
  UNION ALL SELECT b, a, wt FROM e0
), und AS (SELECT src, dst, sum(wt) AS wt FROM edges GROUP BY src, dst),
outw AS (SELECT src, sum(wt) AS ow FROM und GROUP BY src),
norm AS (
  SELECT und.src, und.dst, und.wt / outw.ow AS p
  FROM und JOIN outw ON und.src = outw.src
),
r0 AS (SELECT src AS w, 1.0 AS score FROM outw),
{",".join(steps)}
SELECT w AS keyword, round(score, 4) AS textrank
FROM {prev}
ORDER BY textrank DESC, keyword LIMIT {_TR_TOPK}
"""


@query("text_textrank_keywords", oracle=_tr_oracle())
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C220: TextRank — PageRank (d=0.85, {it} unrolled rounds, init
    1.0) over the undirected word co-adjacency graph (window 2,
    self-loops dropped, weights = corpus co-occurrence counts);
    top-{k} keywords. The graph-tier machinery (C-graph PageRank /
    C205) applied to text — keyword extraction as a QUERY, the way a
    curation pipeline summarizes a corpus slice.

    Scale: the corpus-scale stage is ONE bigram count aggregate; the
    iterations run on the |vocab|^2-bounded transition graph (tiny
    here; at web scale vocab is capped by min-frequency pruning — the
    standard TextRank practice). Determinism: transition probs are
    single divisions of exact counts; rank sums over the bounded
    neighbor lists carry ~1e-15 relative drift against the 1e-4 grid
    (C-graph precedent); (score, keyword) total order for top-k.""".format(
        it=_TR_ITERS, k=_TR_TOPK
    )
    t = table(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("l")
    )
    bg = t.select(
        F.explode(
            F.expr(
                "filter(transform(sequence(0, size(l) - 2), "
                "i -> named_struct('a', l[i], 'b', l[i + 1])), "
                "p -> p.a <> p.b)"
            )
        ).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    e0 = bg.groupBy("a", "b").agg(F.count(F.lit(1)).cast("double").alias("wt"))
    edges = e0.select(F.col("a").alias("src"), F.col("b").alias("dst"), "wt").unionAll(
        e0.select(F.col("b").alias("src"), F.col("a").alias("dst"), "wt")
    )
    und = edges.groupBy("src", "dst").agg(F.sum("wt").alias("wt"))
    outw = und.groupBy("src").agg(F.sum("wt").alias("ow"))
    norm = barrier(
        und.join(outw, "src")
        .select("src", "dst", (F.col("wt") / F.col("ow")).alias("p"))
    )
    # Rank init reads the checkpointed transition table, NOT outw —
    # referencing outw here re-executed the whole bigram-count chain a
    # second time (it sits above the checkpoint barrier); norm's src
    # set IS outw's key set (every source has outgoing weight by
    # construction). Round t-1's checkpoint is freed as round t lands
    # (batch-8 hygiene), and the transition table is freed once the
    # last round pins its result. (optimization r12 session 5)
    ranks = norm.select(F.col("src").alias("w")).distinct().withColumn(
        "score", F.lit(1.0)
    )
    for _ in range(_TR_ITERS):
        ranks = barrier(
            norm.join(ranks, norm["src"] == ranks["w"])
            .groupBy(norm["dst"].alias("w2"))
            .agg(
                (
                    F.lit(1.0 - _TR_D)
                    + F.lit(_TR_D) * F.sum(norm["p"] * ranks["score"])
                ).alias("score")
            )
            .select(F.col("w2").alias("w"), "score"),
            ranks,  # round 0 is the plain init frame: a no-op free
        )
    # Freeing norm is only safe because _TR_ITERS >= 1 guarantees the
    # returned `ranks` is a checkpointed frame independent of norm; at
    # 0 iterations the init frame would still read norm's blocks
    # (ADVICE r12).
    assert _TR_ITERS >= 1
    free_checkpoint(norm)
    return (
        ranks.select(
            F.col("w").alias("keyword"), r4(F.col("score")).alias("textrank")
        )
        .orderBy(F.desc("textrank"), F.asc("keyword"))
        .limit(_TR_TOPK)
    )


# r12 C212-APPLY (VERDICT r11 "next" #7): C212 TRAINS merges; this is
# the other half of the tokenizer story — APPLYING a trained merge
# table to the corpus in-engine. The merge table is a bounded trained
# artifact (top-10 adjacent distinct-word pairs by exact count, total
# order (count DESC, a, b)); each application pass is ONE set of
# doc-partitioned window functions: mark merge HEADS (tok=a, next=b),
# drop CONSUMED positions (prev=a, tok=b — unambiguous because a<>b
# means heads are never adjacent), renumber. Greedy left-to-right
# non-overlapping, exactly BPE's convention. All integers + strings:
# full oracle, hash-exact.

_BPE_APPLY_MERGES = 10


def _bpe_tok_cte(engine: str) -> str:
    if engine == "spark":
        return (
            "SELECT doc_id, source, pos, tok FROM (SELECT doc_id, source,"
            " posexplode(split(text, ' ')) AS (pos, tok) FROM documents)"
        )
    return (
        "SELECT doc_id, source, generate_subscripts(string_split(text, ' '), 1)"
        " AS pos, unnest(string_split(text, ' ')) AS tok FROM documents"
    )


def _bpe_merge_train_sql(engine: str) -> str:
    """The bounded trained artifact: top-10 adjacent distinct-word
    pairs by exact corpus count, (count DESC, a, b) total order."""
    return f"""
WITH t0 AS ({_bpe_tok_cte(engine)}),
pairs AS (
  SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT doc_id, pos, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM t0)
  WHERE nxt IS NOT NULL AND tok <> nxt
  GROUP BY tok, nxt
)
SELECT a, b, cnt FROM pairs
ORDER BY cnt DESC, a, b LIMIT {_BPE_APPLY_MERGES}
"""


def _bpe_apply_sql(engine: str, merges: list[tuple[str, str]]) -> str:
    """Unrolled application passes for a LITERAL merge list (the
    trained artifact is inlined — on a cluster it ships broadcast).
    MATERIALIZED on DuckDB so the pass chain is evaluated once."""
    mat = "" if engine == "spark" else "MATERIALIZED "
    parts = [f"WITH t0 AS {mat}({_bpe_tok_cte(engine)})"]
    prev = "t0"
    for k, (a, b) in enumerate(merges, 1):
        qa = a.replace("'", "''")
        qb = b.replace("'", "''")
        parts.append(f""",
p{k} AS {mat}(
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         new_tok AS tok
  FROM (
    SELECT doc_id, source, pos,
           CASE WHEN tok = '{qa}' AND nxt = '{qb}'
                THEN tok || '_' || nxt ELSE tok END AS new_tok,
           CASE WHEN prv = '{qa}' AND tok = '{qb}' THEN 1 ELSE 0 END
             AS consumed
    FROM (SELECT doc_id, source, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prv
          FROM {prev}) w
  ) x WHERE consumed = 0
)"""
        )
        prev = f"p{k}"
    parts.append(f""",
before AS {mat}(
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS nb
  FROM t0 GROUP BY doc_id, source
),
after AS {mat}(
  SELECT doc_id, CAST(count(*) AS BIGINT) AS na FROM {prev} GROUP BY doc_id
)
SELECT before.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(before.nb) AS BIGINT) AS tok_before,
       CAST(sum(after.na) AS BIGINT) AS tok_after,
       CAST(sum(before.nb) - sum(after.na) AS BIGINT) AS merges_applied,
       round(CAST(sum(before.nb) AS DOUBLE) / CAST(sum(after.na) AS DOUBLE), 4)
         AS compression
FROM before JOIN after ON after.doc_id = before.doc_id
GROUP BY before.source
"""
    )
    return "".join(parts)


def _bpe_apply_oracle() -> str:
    """DuckDB oracle: train + apply in ONE statement — the merge list
    the unrolled passes need is not known until runtime, so the oracle
    re-derives it CTE-side and applies pass k with merge rank k via
    scalar subqueries (MATERIALIZED, so nothing re-expands)."""
    train = _bpe_merge_train_sql("duck")
    # inline the trained table as a MATERIALIZED CTE, then pass k uses
    # rank-k scalar subqueries instead of literals
    parts = [f"""
WITH t0 AS MATERIALIZED ({_bpe_tok_cte("duck")}),
mpairs AS MATERIALIZED (
  SELECT a, b, row_number() OVER (ORDER BY cnt DESC, a, b) AS rk
  FROM (
    SELECT tok AS a, nxt AS b, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT doc_id, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
          FROM t0)
    WHERE nxt IS NOT NULL AND tok <> nxt
    GROUP BY tok, nxt
  ) c
  ORDER BY cnt DESC, a, b LIMIT {_BPE_APPLY_MERGES}
)"""]
    prev = "t0"
    for k in range(1, _BPE_APPLY_MERGES + 1):
        a = f"(SELECT a FROM mpairs WHERE rk = {k})"
        b = f"(SELECT b FROM mpairs WHERE rk = {k})"
        parts.append(f""",
p{k} AS MATERIALIZED (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS pos,
         new_tok AS tok
  FROM (
    SELECT doc_id, source, pos,
           CASE WHEN tok = {a} AND nxt = {b}
                THEN tok || '_' || nxt ELSE tok END AS new_tok,
           CASE WHEN prv = {a} AND tok = {b} THEN 1 ELSE 0 END AS consumed
    FROM (SELECT doc_id, source, pos, tok,
                 lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt,
                 lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prv
          FROM {prev}) w
  ) x WHERE consumed = 0
)"""
        )
        prev = f"p{k}"
    parts.append(f""",
before AS MATERIALIZED (
  SELECT doc_id, source, CAST(count(*) AS BIGINT) AS nb
  FROM t0 GROUP BY doc_id, source
),
after AS MATERIALIZED (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS na FROM {prev} GROUP BY doc_id
)
SELECT before.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(before.nb) AS BIGINT) AS tok_before,
       CAST(sum(after.na) AS BIGINT) AS tok_after,
       CAST(sum(before.nb) - sum(after.na) AS BIGINT) AS merges_applied,
       round(CAST(sum(before.nb) AS DOUBLE) / CAST(sum(after.na) AS DOUBLE), 4)
         AS compression
FROM before JOIN after ON after.doc_id = before.doc_id
GROUP BY before.source
"""
    )
    return "".join(parts)


@query("text_bpe_apply", oracle=_bpe_apply_oracle())
def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C212-APPLY: apply a trained 10-merge BPE table to the corpus —
    the missing half of the tokenizer story beside text_bpe_merge_
    rounds (training). Phase 1 trains the bounded artifact (top-10
    adjacent distinct-word pairs, exact counts, (count DESC, a, b)
    total order) and COLLECTS its 10 rows — the realistic contract: a
    tokenizer ships as a small artifact and is broadcast, never
    recomputed per batch. Phase 2 inlines the merges as literals into
    10 unrolled passes, each one set of doc-partitioned windows: heads
    (tok=a, nxt=b) merge into 'a_b', consumed positions (prv=a, tok=b)
    drop — unambiguous greedy left-to-right because a<>b merges can
    never have adjacent heads — and row_number renumbers for the next
    pass. Per-source token counts before/after + compression.

    Scale: every pass is partitioned by doc_id — one exchange, then 10
    pipelined window stages; no global window, no UDF, no driver loop
    over data (only the 10-row artifact is collected). At 100 TB the
    trained table is a broadcast dict in the same plan shape.

    Determinism: integer counts, lexicographic tie-breaks, string
    equality — no float until the final r4 compression ratio."""
    from ..tables import sql_over

    trained = sql_over(
        spark, sf_dir, _bpe_merge_train_sql("spark"), ("documents",)
    ).collect()
    merges = [(r["a"], r["b"]) for r in trained]
    return sql_over(
        spark, sf_dir, _bpe_apply_sql("spark", merges), ("documents",)
    )


# r12 C245: tokenizer vocabulary coverage / OOV-rate audit — the
# missing readout of the tokenizer story (C212 trains BPE merges,
# text_bpe_apply applies them): given a fixed top-K vocabulary, what
# fraction of each language's token OCCURRENCES and token TYPES falls
# outside it? The per-language OOV rate is the standard gate for
# "does this tokenizer cover this slice of the corpus" before
# training. Vocabulary = top 200 tokens by global count with a
# deterministic tie-break (count DESC, token ASC), so the boundary of
# the LIMIT is identical in both engines.


@query(
    "text_vocab_oov_rate",
    oracle="""
WITH tok AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
), cnt AS (
  SELECT word, count(*) AS n FROM tok GROUP BY word
), vocab AS (
  SELECT word FROM cnt ORDER BY n DESC, word ASC LIMIT 200
)
SELECT t.lang,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(count(DISTINCT t.word) AS BIGINT) AS total_types,
       CAST(count(DISTINCT CASE WHEN v.word IS NULL THEN t.word END)
            AS BIGINT) AS oov_types,
       round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS oov_token_rate,
       round(CAST(count(DISTINCT CASE WHEN v.word IS NULL THEN t.word END)
                  AS DOUBLE)
             / CAST(count(DISTINCT t.word) AS DOUBLE), 6) AS oov_type_rate
FROM tok t LEFT JOIN vocab v ON v.word = t.word
GROUP BY t.lang
""",
)
def text_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C245: per-language OOV rate against a fixed top-200 vocabulary
    — the tokenizer-coverage gate a training pipeline runs per corpus
    slice (high OOV = the tokenizer fragments that language into
    bytes/unk). Occurrence-level AND type-level rates; the vocabulary
    cut is deterministic (count DESC, token ASC) so the LIMIT boundary
    is bit-identical cross-engine.

    Scale: the vocabulary is a TakeOrderedAndProject to 200 rows
    broadcast back onto the token stream (no data-sized shuffle for
    the membership join); the per-language aggregate is map-side
    combined; distinct-counts shuffle (lang, word) partials only."""
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH tok AS (
  SELECT lang, explode(split(text, ' ')) AS word FROM documents
), cnt AS (
  SELECT word, count(1) AS n FROM tok GROUP BY word
), vocab AS (
  SELECT word FROM cnt ORDER BY n DESC, word ASC LIMIT 200
)
SELECT t.lang,
       CAST(count(1) AS BIGINT) AS total_tokens,
       CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS oov_tokens,
       CAST(count(DISTINCT t.word) AS BIGINT) AS total_types,
       CAST(count(DISTINCT CASE WHEN v.word IS NULL THEN t.word END)
            AS BIGINT) AS oov_types,
       round(CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(1) AS DOUBLE), 6) AS oov_token_rate,
       round(CAST(count(DISTINCT CASE WHEN v.word IS NULL THEN t.word END)
                  AS DOUBLE)
             / CAST(count(DISTINCT t.word) AS DOUBLE), 6) AS oov_type_rate
FROM tok t LEFT JOIN vocab v ON v.word = t.word
GROUP BY t.lang
""",
        ("documents",),
    )


# r12 C266: vocabulary coverage & richness estimators — the
# "how much of the language have we actually seen" readout a corpus
# build reports before freezing a tokenizer: Turing/Good coverage
# (1 - hapax share: the probability the NEXT n-gram is already
# known), the bias-corrected Chao1 lower bound on TRUE vocabulary
# size, and the first Good-Turing smoothed counts
# r* = (r+1)N_{r+1}/N_r that a KN-style LM (C196) builds on. The
# species domain is word TRIGRAMS: the fixture's unigram vocabulary
# is closed (31 words, zero hapaxes — the estimators would be
# degenerate), while its trigram space has the heavy tail these
# estimators exist for (n1 ~ 9400 at sf0.001). Everything derives
# from the frequency-of-frequencies table: trigram counts (the one
# data-sized map-side-combined shuffle), counts-of-counts
# (O(sqrt N) rows), then exact BIGINT moments and four IEEE
# divisions.

_VOCAB_COV_SPARK = """
WITH toks AS (
  SELECT split(text, ' ') AS l FROM documents
), tri AS (
  SELECT explode(transform(sequence(1, size(l) - 2),
                 i -> concat(element_at(l, i), ' ', element_at(l, i + 1),
                             ' ', element_at(l, i + 2)))) AS g
  FROM toks
), tc AS (
  SELECT g, CAST(count(1) AS BIGINT) AS c FROM tri GROUP BY g
), fof AS (
  SELECT c, CAST(count(1) AS BIGINT) AS nr FROM tc GROUP BY c
), m AS (
  SELECT CAST(sum(c * nr) AS BIGINT) AS n_tokens,
         CAST(sum(nr) AS BIGINT) AS vocab,
         CAST(coalesce(sum(CASE WHEN c = 1 THEN nr END), 0) AS BIGINT) AS n1,
         CAST(coalesce(sum(CASE WHEN c = 2 THEN nr END), 0) AS BIGINT) AS n2,
         CAST(coalesce(sum(CASE WHEN c = 3 THEN nr END), 0) AS BIGINT) AS n3
  FROM fof
)
SELECT n_tokens, vocab, n1 AS hapax, n2 AS dis_legomena,
       round(1 - n1 / CAST(n_tokens AS DOUBLE), 6) AS turing_coverage,
       round(vocab + n1 * (n1 - 1) / CAST(2 * (n2 + 1) AS DOUBLE), 4)
         AS chao1_vocab,
       round(2 * n2 / CAST(n1 AS DOUBLE), 6) AS gt_rstar_1,
       round(3 * n3 / CAST(n2 AS DOUBLE), 6) AS gt_rstar_2
FROM m
"""

_VOCAB_COV_ORACLE = """
WITH toks AS (
  SELECT string_split(text, ' ') AS l FROM documents
), tri AS (
  SELECT unnest(list_transform(generate_series(1, len(l) - 2),
                i -> l[i] || ' ' || l[i + 1] || ' ' || l[i + 2])) AS g
  FROM toks
),""" + _VOCAB_COV_SPARK[_VOCAB_COV_SPARK.index(" tc AS ("):]


@query("text_vocab_coverage_estimators", oracle=_VOCAB_COV_ORACLE)
def text_vocab_coverage_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C266: Turing coverage + bias-corrected Chao1 vocabulary bound
    + first Good-Turing smoothed counts over the trigram species
    domain, from one frequency-of-frequencies pass (Good 1953; Chao
    1984; Gale & Sampson 1995). The Chao1 spelling is the
    bias-corrected n1(n1-1)/(2(n2+1)) form, defined even when no
    species occurs exactly twice.

    Scale: n-gram counting is THE data-sized shuffle (map-side
    combined, same shape as C45); counts-of-counts is O(sqrt N)
    rows; everything after is exact BIGINT moments and four IEEE
    divisions — no windows, no joins."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _VOCAB_COV_SPARK, ("documents",))
