"""Deduplication operators — SURVEY.md §2 C37/C39/C40 + n-gram Jaccard.

The LLM-training-pipeline dedup family over ``documents``:

- exact dedup (hash group-by on content);
- keyed last-write-wins (the reference's upsert key semantics,
  task.ts:272, as streaming dropDuplicates' batch shape);
- n-gram Jaccard near-dup (exact, oracle-checked) within a bounded
  blocking key;
- MinHash-LSH near-dup (the 100 TB path: band-bucket join, never a
  global cross join) — seeded hashing, so declared weak;
- connected-components clustering of the near-dup graph (exact,
  oracle-checked against a DuckDB recursive-CTE closure) — turns
  pairwise edges into dedup groups, the step every production dedup
  pipeline needs between "pairs" and "keep one per cluster".

Scale notes are in each docstring; the common theme: every pair
generation step is blocked (by LSH band bucket or by a partition key),
so candidate pairs ~ O(n·bucket), not O(n²).
"""

from __future__ import annotations



from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import ev_us, r4
from ..registry import query
from ..tables import row_count, table
from .scale_patterns import barrier, free_checkpoint


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash, min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39 exact content dedup: group by content hash, keep the lowest
    id. Written group-by-shaped so it is correct whether or not
    duplicates exist (FIXTURES.md). At 100 TB: hash the content early
    (md5 column) so the shuffle carries 16 bytes, not documents."""
    docs = table(spark, sf_dir, "documents")
    return docs.groupBy(F.md5("text").alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


@query(
    "dedup_key_last_write",
    oracle="""
SELECT user_id, event_id, value, us FROM (
  SELECT user_id, event_id, value, epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
""",
)
def dedup_key_last_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39 keyed dedup, last write wins — the reference's upsert
    resolution (newest record per cotuid, task.ts:316-349). Rank-filter
    shape -> Catalyst group-limit; streaming twin is
    ``dropDuplicates(['user_id'])`` within a watermark."""
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", ev_us().alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("us"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source, bg FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM toks
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.2
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40 (exact flavor): bigram-Jaccard near-dup pairs — see
    ``_bigram_jaccard_pairs`` for the blocked pair-generation design."""
    docs = table(spark, sf_dir, "documents")
    pairs = _bigram_jaccard_pairs(docs, 0.2)
    return pairs.select("id_a", "id_b", r4(F.col("jac")).alias("jaccard"))


def _bigram_jaccard_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact bigram-Jaccard near-dup pairs (id_a < id_b), blocked by
    ``source``. Pair generation joins on (block, gram) — the inverted-
    index trick: candidate pairs are generated per shared gram, never by
    cross join, and the block key bounds the per-gram posting list. At
    100 TB the block is the LSH band bucket (see minhash_lsh_dedup).
    Returns columns (id_a, id_b, jac) with ``jac`` unrounded.

    Evaluate-once probe (optimization r12 session 5, measured and
    REVERTED): localCheckpoint()ing ``grams`` + ``sizes`` read
    1.71 -> 3.25 s total at sf0.1 — the two self-join legs already
    share one (source, bg) shuffle via ReusedExchange, so the barrier
    only saved the sizes leg's explode while paying materialization
    of ~1M wide string gram rows. Recompute beats materialize here
    (the spatial_lof_outliers counter-example, guide §2.6)."""
    docs = docs.withColumn("l", F.split("text", " "))
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("transform(sequence(1, size(l) - 1), i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))")
        ).alias("bg"),
    ).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.alias("a")
    b = grams.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.bg") == F.col("b.bg"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("n_inter").cast("double") / (
        F.col("sa.n_grams") + F.col("sb.n_grams") - F.col("n_inter")
    )
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("id_a"))
        .join(sb, F.col("sb.doc_id") == F.col("id_b"))
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jac"))
    )


# MinHash parameters: 16 permutations h_i(x) = (a_i*x + b_i) mod P over
# xxhash64 shingle hashes, banded 4x4. Deterministic (fixed a_i/b_i) but
# xxhash64 is Spark-specific -> weak (rows-only) per SURVEY.md §5.3.6.
_P = 2147483647  # 2^31 - 1 (Mersenne prime; keeps a*h+b inside int64 under ANSI)
_PERMS = [(2 * i + 3, 104729 * (i + 1)) for i in range(16)]
_BANDS = 4
_ROWS_PER_BAND = 4


@query("minhash_lsh_dedup")  # weak: seeded/engine-specific hashing
def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40: MinHash-LSH near-dup detection — the 100 TB design.

    Pipeline (all relational, no UDFs):
      1. word-trigram shingles per doc (explode, distinct);
      2. 16 minhashes per doc = min over permuted shingle hashes — one
         groupBy(doc) with 16 min() aggregates;
      3. band signatures (4 bands x 4 rows): candidate pairs via
         self-join on (band_idx, band_hash) — the ONLY pair generator,
         so work is O(sum bucket²), tunable by bands/rows, never O(n²);
      4. verify candidates with exact trigram Jaccard >= 0.5.

    Skew safety: a degenerate band bucket (all-identical docs) is the
    classic hot key; AQE skew-join splitting handles it, and the band
    hash includes the band index so buckets spread across partitions.
    """
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    shingles = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 2), "
                "i -> concat_ws(' ', element_at(l, i), element_at(l, i + 1), element_at(l, i + 2)))"
            )
        ).alias("sh"),
    ).distinct()
    h = shingles.withColumn("h", F.abs(F.xxhash64("sh")) % _P)
    sig = h.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * a + b) % _P).alias(f"mh{i}")
            for i, (a, b) in enumerate(_PERMS)
        ]
    )
    bands = [
        F.struct(
            F.lit(bi).alias("band"),
            F.xxhash64(
                *[F.col(f"mh{bi * _ROWS_PER_BAND + r}") for r in range(_ROWS_PER_BAND)]
            ).alias("bh"),
        )
        for bi in range(_BANDS)
    ]
    banded = sig.select(
        "doc_id", F.explode(F.array(*bands)).alias("b")
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )
    # exact-Jaccard verification of candidates only
    sizes = shingles.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa, sb = shingles.alias("sa"), shingles.alias("sb")
    inter = (
        cand.join(sa, F.col("sa.doc_id") == F.col("id_a"))
        .join(sb, (F.col("sb.doc_id") == F.col("id_b")) & (F.col("sa.sh") == F.col("sb.sh")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    za, zb = sizes.alias("za"), sizes.alias("zb")
    jac = F.col("n_inter").cast("double") / (
        F.col("za.n_sh") + F.col("zb.n_sh") - F.col("n_inter")
    )
    return (
        inter.join(za, F.col("za.doc_id") == F.col("id_a"))
        .join(zb, F.col("zb.doc_id") == F.col("id_b"))
        .filter(jac >= 0.5)
        .select("id_a", "id_b", r4(jac).alias("jaccard"))
    )


@query(
    "dedup_cluster_components",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source, bg FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM toks
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.root FROM walk w JOIN edges e ON e.src = w.id
), comp AS (
  SELECT id AS doc_id, min(root) AS component_id FROM walk GROUP BY id
)
SELECT component_id, count(*) AS n_members,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM comp GROUP BY component_id
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C40 closure: connected components of the near-dup graph.

    Pairwise near-dup edges (exact bigram Jaccard >= 0.2, blocked — see
    ``_bigram_jaccard_pairs``) are clustered by iterative **min-label
    propagation**: every node starts labeled with its own id; each round
    every node takes the min of its label and its neighbors' labels;
    converged when no label changes. Deterministic, so oracle-checkable
    — the DuckDB oracle computes the same components as the min reachable
    node via a recursive-CTE closure.

    Scale design (100 TB):
    - rounds = O(graph diameter); near-dup clusters are shallow (dups of
      dups), so a handful of rounds. For adversarial long-chain graphs
      the same loop upgrades to alternating large-star/small-star
      (Kiveris et al., "Connected Components in MapReduce"), which
      converges in O(log d) rounds with the identical join shape.
    - each round is one shuffle join on the edge list + one groupBy min;
      each round's labels sit behind a barrier that frees the previous
      round, so memory is O(|V| + |E|), never materializing
      reachability pairs (the oracle's closure table would be O(sum
      |component|^2) — fine for an oracle, wrong at scale).
    - convergence check is a count of changed labels (one cheap action
      per round) — the driver never collects the labels themselves.

    Output is one row per component (size + id range) rather than per
    doc, the shape a dedup pipeline consumes ("keep min_doc_id, drop the
    rest").
    """
    docs = table(spark, sf_dir, "documents")
    pairs = _bigram_jaccard_pairs(docs, 0.2).select("id_a", "id_b")
    nodes = docs.select("doc_id")
    labels = propagate_min_labels(nodes, pairs)
    return labels.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


def propagate_min_labels(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Min-label propagation with pointer jumping: (doc_id, component_id).

    ``nodes`` has a ``doc_id`` column; ``pairs`` has undirected edges
    (id_a, id_b). Each round:

      1. *propagate*: every node takes the min of its own label and its
         neighbors' labels (one shuffle join on the edge list + one
         groupBy min);
      2. *pointer-jump*: every node replaces its label with its label's
         label (labels always point at real node ids, so this is a
         self-join on the label table) — the hook that makes chains
         collapse geometrically, O(log diameter) rounds instead of
         O(diameter). Same round structure as Hash-to-Min / large-star
         (Kiveris et al., "Connected Components in MapReduce").

    Convergence is a count() of changed labels per round — read off a
    ``chg`` column of the round's own checkpoint (the old label rides
    through the propagate join), so no extra per-round join. Each
    round's label table is behind a ``barrier`` — the pointer-jump
    self-join would otherwise double the logical plan every round and
    Catalyst re-analysis, not execution, becomes the bottleneck
    (measured: 40-node chain went 250 s -> 3 s); round t-1's blocks
    are freed as soon as round t lands (peak storage O(1 round)).

    The loop runs over the edge-ENDPOINT nodes only (optimization
    r12): an isolated node neither sends nor receives a message and no
    other node can adopt its label, so it is exactly a singleton
    component — appended after the loop. Near-dup graphs are sparse,
    so per-round shuffles are O(|V(E)|), not O(|V|), at any scale.
    Memory stays O(|V| + |E|); on a real cluster swap the barrier's
    localCheckpoint for a reliable ``spark.sparkContext.setCheckpointDir``
    checkpoint (one line, in ``scale_patterns.barrier``) so executor
    loss cannot drop a round.
    """
    # direction-double IN PARTITION (optimization r12): the union-of-
    # two-selects spelling inlines the pair-generation plan twice, so
    # materializing it EXECUTED it twice (measured 5.2 s vs 2.4 s for one
    # pass at sf0.1). explode(array(fwd, rev)) doubles each row after
    # one evaluation — same rows, half the work, no extra shuffle.
    sym = barrier(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            ).alias("e")
        ).select("e.src", "e.dst"),
        eager=False,
    )

    # ACTIVE-SET restriction (optimization r12, guide §2.3 shuffle
    # fewer rows): a node with no incident edge neither sends nor
    # receives a message — its label is its own id forever, and no
    # other node can ever adopt it (labels travel only along edges).
    # So the loop runs over the edge-ENDPOINT nodes only and the
    # isolated nodes are appended afterwards as singleton components.
    # Near-dup graphs are sparse (at sf0.1: 7 edges over 5000 docs),
    # so this turns every per-round shuffle from O(|V|) into
    # O(|V(E)|) — the same argument holds at 100 TB, where the dup
    # fraction bounds the active set. endpoints is checkpointed: the
    # final anti-join must not re-run the pair generation after sym
    # is freed.
    endpoints = barrier(sym.select(F.col("src").alias("doc_id")).distinct())
    labels_ck = barrier(
        nodes.join(endpoints, "doc_id", "semi")
        .select("doc_id", F.col("doc_id").alias("component_id"))
    )
    labels = labels_ck
    for _ in range(30):  # log2-ish rounds: covers any realistic diameter
        msgs = sym.join(
            labels, sym["src"] == labels["doc_id"], "inner"
        ).select(sym["dst"].alias("doc_id"), F.col("component_id"))
        # propagate via join instead of union+groupBy so the OLD
        # label rides along — convergence then reads a column of
        # the round's own checkpoint instead of paying a separate
        # |V|-row join per round (optimization r12)
        nbr = msgs.groupBy("doc_id").agg(
            F.min("component_id").alias("nbr_comp")
        )
        stepped = labels.join(nbr, "doc_id", "left").select(
            "doc_id",
            F.col("component_id").alias("old_comp"),
            F.least(
                "component_id", F.coalesce("nbr_comp", "component_id")
            ).alias("component_id"),
        )
        parent = stepped.select(
            F.col("doc_id").alias("p_id"), F.col("component_id").alias("p_comp")
        )
        # round t-1's checkpoint is dead once round t lands
        labels_ck = barrier(
            stepped.join(parent, stepped["component_id"] == parent["p_id"], "left")
            .select(
                "doc_id",
                F.coalesce("p_comp", "component_id").alias("component_id"),
                (
                    F.coalesce("p_comp", "component_id") != F.col("old_comp")
                ).alias("chg"),
            ),
            labels_ck,
        )
        changed = labels_ck.filter("chg").count()
        labels = labels_ck.select("doc_id", "component_id")
        if changed == 0:
            break
    free_checkpoint(sym)  # the result reads only the label and endpoint barriers
    singletons = nodes.join(endpoints, "doc_id", "anti").select(
        "doc_id", F.col("doc_id").alias("component_id")
    )
    return labels.unionByName(singletons)


@query(
    "dedup_minhash_banding_exact",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
      generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1]))) AS s
  FROM toks
), hx AS (
  SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || '|' || s)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS bkey
  FROM hx GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
                         AND a.doc_id < b.doc_id
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), ix AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.id_a
  JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
  GROUP BY c.id_a, c.id_b
)
SELECT ix.id_a, ix.id_b,
       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
FROM ix
JOIN sizes sa ON sa.doc_id = ix.id_a
JOIN sizes sb ON sb.doc_id = ix.id_b
WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6
""",
)
def dedup_minhash_banding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banding near-dup detection with a DETERMINISTIC hash
    family — md5(i || '|' || shingle) for i in 0..15, min-reduced per
    slot — so, unlike the seeded ML MinHashLSH (minhash_lsh_dedup,
    weak check), this one is exactly reproducible on any engine and
    carries a full DuckDB oracle. 16 signatures in 4 bands of 4; docs
    sharing any band key become candidates; candidates are VERIFIED
    with exact bigram-shingle Jaccard and kept at >= 0.6 (the fixture's
    planted near-dups sit at J ~ 0.99; band collision probability
    1-(1-J^4)^4 ~ 1 there).

    All hashing/banding runs in SQL higher-order functions (md5,
    transform, array_min, slice) — whole-stage codegen, no Python.

    Scale (the 100 TB design): signatures are one narrow pass per doc
    (16 md5-mins over its shingle set, no shuffle); the candidate step
    is an equi-join on (band, bkey) — pairs are generated only inside a
    bucket, never a global cross join; the verify step joins the
    candidate pair list (tiny vs corpus) back to shingle sets. A
    degenerate giant bucket (all-identical boilerplate docs) is the
    skew hazard -> AQE skew-join split, or cap bucket width and route
    oversized buckets to exact-hash dedup first (dedup_exact removes
    identical texts before LSH runs)."""
    from .scale_patterns import spread_for_fanout

    # spread BEFORE the signature ladder (optimization r12): the
    # single-split documents scan otherwise evaluates the 16-slot
    # MinHash md5 ladder (16 x |shingles| md5s per doc) in ONE task
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select(
            "doc_id", F.split("text", " ").alias("l")
        ),
        n_rows=row_count(sf_dir, "documents"),
    )
    d = docs.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(l) - 1), "
                "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
            )
        ).alias("sh"),
    )
    sig = d.withColumn(
        "sig",
        F.expr(
            "transform(sequence(0, 15), "
            "i -> array_min(transform(sh, s -> md5(concat(cast(i as string), '|', s)))))"
        ),
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "k -> struct(k AS band, md5(concat_ws('|', slice(sig, k * 4 + 1, 4))) AS bkey))"
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bkey")
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("id_b"), F.col("band").alias("band_b"), F.col("bkey").alias("bkey_b"))
    cand = (
        a.join(b, (F.col("band") == F.col("band_b"))
               & (F.col("bkey") == F.col("bkey_b"))
               & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b")
        .distinct()
    )
    sha = d.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sha"))
    shb = d.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("shb"))
    verified = (
        cand.join(sha, "id_a")
        .join(shb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sha", "shb")).alias("inter"),
            (F.size("sha") + F.size("shb")).alias("tot"),
        )
    )
    jac = F.col("inter").cast("double") / (F.col("tot") - F.col("inter"))
    return (
        verified.filter(jac >= 0.6)
        .select("id_a", "id_b", r4(jac).alias("jaccard"))
    )


@query(
    "dedup_cluster_keep_best",
    oracle="""
WITH RECURSIVE toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source, bg FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM toks
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), pairs AS (
  SELECT id_a, id_b
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
), walk(id, root) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, w.root FROM walk w JOIN edges e ON e.src = w.id
), comp AS (
  SELECT id AS doc_id, min(root) AS component_id FROM walk GROUP BY id
), ranked AS (
  SELECT c.component_id, d.doc_id, d.n_chars,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
)
SELECT component_id,
       max(CASE WHEN rn = 1 THEN doc_id END) AS keeper_doc_id,
       count(*) AS n_members,
       count(*) - 1 AS n_dropped
FROM ranked GROUP BY component_id
""",
)
def dedup_cluster_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last stage of the dedup pipeline: pairs -> clusters ->
    ONE KEEPER per cluster, chosen by quality (longest document,
    doc_id tiebreak) instead of the arbitrary min-id — what a curation
    run actually ships. Reuses the exact blocked-Jaccard edges and the
    min-label-propagation components (propagate_min_labels), then a
    rank-1 selection per component.

    Scale: everything up to components is the dedup_cluster_components
    plan; the keeper selection is one window over |docs| rows
    partitioned by component — group-limited, no full sort. Output is
    cluster-level (keeper + drop count): the shape a pipeline joins
    back to filter the corpus."""
    docs = table(spark, sf_dir, "documents")
    pairs = _bigram_jaccard_pairs(docs, 0.2).select("id_a", "id_b")
    labels = propagate_min_labels(docs.select("doc_id"), pairs)
    from pyspark.sql import Window

    ranked = labels.join(docs.select("doc_id", "n_chars"), "doc_id").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("component_id").orderBy(
                F.desc("n_chars"), F.asc("doc_id")
            )
        ),
    )
    return ranked.groupBy("component_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_members"),
        (F.count(F.lit(1)) - 1).alias("n_dropped"),
    )


@query(
    "dedup_containment_pairs",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source, bg FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM toks
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / sa.n_grams, 4) AS containment_a,
       round(CAST(n_inter AS DOUBLE) / sb.n_grams, 4) AS containment_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / sa.n_grams >= 0.7
   OR CAST(n_inter AS DOUBLE) / sb.n_grams >= 0.7
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle containment
    |A∩B| / |A| — catches a document swallowed inside a larger one
    (quotes, concatenated crawls, boilerplate wrappers), which
    symmetric Jaccard misses because the union is dominated by the
    big document. Pairs where either direction's containment >= 0.7,
    both ratios emitted so the consumer knows WHICH side is the
    substring. Same inverted-index blocked pair generation as the
    Jaccard path (join per shared gram inside a source block — never a
    cross join); ratios are exact int/int divisions.

    At 100 TB the prefix-filter refinement applies: a pair with
    containment >= t must share >= t·|A| grams, so candidate
    generation can keep only each doc's (1-t)·|A|+1 rarest grams —
    same join shape, much smaller posting lists."""
    docs = table(spark, sf_dir, "documents").withColumn("l", F.split("text", " "))
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1), "
                "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
            )
        ).alias("bg"),
    ).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("doc_id").alias("id_a"), "source", "bg")
    b = grams.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"),
                     F.col("bg").alias("bg_b"))
    inter = (
        a.join(b, (F.col("source") == F.col("source_b"))
               & (F.col("bg") == F.col("bg_b"))
               & (F.col("id_a") < F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb"))
    ca = F.col("n_inter").cast("double") / F.col("na")
    cb = F.col("n_inter").cast("double") / F.col("nb")
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .filter((ca >= 0.7) | (cb >= 0.7))
        .select("id_a", "id_b", r4(ca).alias("containment_a"), r4(cb).alias("containment_b"))
    )


@query(
    "dedup_simhash_hamming_pairs",
    oracle="""
WITH words AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
), bits AS (
  SELECT doc_id, j,
         sum(CASE WHEN substring(md5(w), j + 1, 1) IN
                       ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f')
                  THEN 1 ELSE -1 END) AS vote
  FROM words CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS j)
  GROUP BY doc_id, j
), fp AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN vote > 0 THEN CAST(round(pow(2, j), 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS simhash32
  FROM bits GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash32, b.simhash32)) AS BIGINT) AS hamming
FROM fp a JOIN fp b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash32, b.simhash32)) <= 3
""",
)
def dedup_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: all document pairs whose 32-bit md5-plane
    SimHash fingerprints differ in <= 3 bits, found WITHOUT the O(n^2)
    cross join — 4 bands x 8 bits and a band-bucket equi-join. The
    pigeonhole bound makes the banding EXACT here, not approximate: 3
    differing bits touch at most 3 of the 4 disjoint bands, so every
    qualifying pair collides on at least one band. The oracle is the
    brute-force all-pairs definition, so the driver check proves
    algorithm equivalence (recall exactly 1), the same pattern as
    join_spatial_grid_distance.

    Scale: candidates shuffle on (band, band_value) — never the pair
    space; the exact bit_count(xor) verify runs on candidates only.
    At corpus scale, grow the fingerprint (64-bit) and the band count
    so E[bucket size] stays O(1); skewed buckets (boilerplate-heavy
    shards) are the salting case from scale_patterns.

    Reference parity: near-dup detection has no counterpart in the
    HTTP connector (task.ts ships rows, task.ts:406-414); this is the
    training-data-pipeline extension tier."""
    from .text import simhash_fingerprint

    docs = table(spark, sf_dir, "documents")
    fp = simhash_fingerprint(
        spark, docs, 32, "simhash32", n_rows=row_count(sf_dir, "documents")
    )
    band_vals = F.array(
        *[
            F.shiftright(F.col("simhash32"), 8 * b).bitwiseAND(F.lit(255))
            for b in range(4)
        ]
    )
    bands = fp.select(
        "doc_id", "simhash32", F.posexplode(band_vals).alias("band", "val")
    )
    left = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash32").alias("fp_a"),
        "band", "val",
    )
    right = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash32").alias("fp_b"),
        F.col("band").alias("band_b"), F.col("val").alias("val_b"),
    )
    cand = (
        left.join(
            right,
            (F.col("band") == F.col("band_b"))
            & (F.col("val") == F.col("val_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).cast("bigint")
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= 3)
    )


@query(
    "dedup_decontaminate_ngrams",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 4
),
grams AS (
  SELECT doc_id, array_to_string(w[i:i+3], ' ') AS g
  FROM toks, UNNEST(generate_series(1, len(w) - 3)) AS t(i)
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
SELECT doc_id, count(DISTINCT g) AS n_hit_grams
FROM corpus
WHERE g IN (SELECT g FROM bench)
GROUP BY doc_id
ORDER BY doc_id
""",
)
def dedup_decontaminate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    word 4-gram with a held-out benchmark set (here the deterministic
    ``doc_id % 97 == 0`` slice) — the n-gram-overlap contamination
    check every training-data pipeline runs before a corpus ships
    (the GPT-3/PaLM 13-gram check, scaled to this fixture's 10-99-word
    documents). Output: contaminated doc_id + how many distinct
    benchmark 4-grams it contains; the keep-list is the anti-join
    complement.

    Scale: the benchmark side is orders of magnitude smaller than the
    corpus (that is the point of a held-out set), so its distinct
    4-gram dictionary broadcasts and the containment check is a
    broadcast semi-join against the streamed corpus grams — the corpus
    is never shuffled on the gram key. At 100 TB the dictionary is
    hashed (xxhash64 of the gram) to bound broadcast bytes."""
    docs = (
        table(spark, sf_dir, "documents")
        .withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 4)
    )
    grams = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 3), i -> concat_ws(' ', slice(w, i, 4)))"
            )
        ).alias("g"),
    )
    bench = F.broadcast(
        grams.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(bench, "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_hit_grams"))
        .orderBy(F.asc("doc_id"))
    )


@query(
    "dedup_incremental_new_batch",
    oracle="""
WITH old AS (
  SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 2 = 0
), new AS (
  SELECT doc_id, md5(text) AS h, lang, source FROM documents WHERE doc_id % 2 = 1
)
SELECT n.doc_id, n.lang, n.source
FROM new n
WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.h = n.h)
""",
)
def dedup_incremental_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C39 incremental form: dedup a NEW ingest batch against the
    already-accepted corpus — the day-2 reality of a training-data
    pipeline, where each crawl increment is anti-joined by content hash
    against everything ingested before it (the same insert-if-absent
    half of the reference's upsert, task.ts:284, keyed by content
    instead of business key). The even/odd doc_id split stands in for
    corpus/batch.

    Scale: only 16-byte hashes shuffle, never text — the seen-corpus
    side reduces to DISTINCT hashes first. At 100 TB the seen-hash set
    is itself huge, so the anti-join stays a shuffled hash join
    co-partitioned on the hash (both sides pre-bucketable by h for a
    shuffle-free probe); a broadcast would be wrong here, which is why
    no hint is given.
    """
    docs = table(spark, sf_dir, "documents")
    old = (
        docs.filter(F.col("doc_id") % 2 == 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    new = docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", F.md5("text").alias("h"), "lang", "source"
    )
    return new.join(old, "h", "left_anti").select("doc_id", "lang", "source")


# --- Semantic dedup, SemDeDup-style (Abbas et al. 2023, public) -------
#
# Bucket every embedding to its nearest of k seed vectors (the k
# lowest vec_ids — deterministic, no RNG), then within each bucket drop
# any vector whose cosine to a LOWER-id bucket-mate exceeds the
# near-dup threshold (greedy min-id canonicalization, the set-based
# approximation of SemDeDup's sequential per-cluster sweep). Because
# the rounded cosine feeds CONTROL decisions (nearest-seed argmax, the
# 0.45 drop test), rounding alone cannot absorb summation-order drift —
# the oracle therefore computes the dot product ORDER-IDENTICALLY to
# Spark's sequential HOF fold via DuckDB list_dot_product over
# DOUBLE[] (the same parity contract _lsh_oracle proves), and only
# then rounds.

_SEM_K = 8
_SEM_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
    "0D, (acc, v) -> acc + v)"
)
_SEM_NORM = (
    "sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)), "
    "0D, (acc, v) -> acc + v))"
)


def _sem_cos(a: str, b: str) -> str:
    return (
        f"round({_SEM_DOT.format(a=a, b=b)} / "
        f"({_SEM_NORM.format(a=a)} * {_SEM_NORM.format(a=b)}), 4)"
    )


@query(
    "dedup_semantic_buckets",
    oracle=f"""
WITH n AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
), seeds AS (
  SELECT vec_id AS seed_id, e AS se, nrm AS snrm
  FROM n ORDER BY vec_id LIMIT {_SEM_K}
), assign AS (
  SELECT n.vec_id, s.seed_id,
         round(list_dot_product(n.e, s.se) / (n.nrm * s.snrm), 4) AS cos
  FROM n CROSS JOIN seeds s
), bucket AS (
  SELECT vec_id, seed_id AS bucket FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
    FROM assign
  ) WHERE rn = 1
), eb AS (
  SELECT b.vec_id, b.bucket, n.e, n.nrm
  FROM bucket b JOIN n ON n.vec_id = b.vec_id
), dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM eb hi JOIN eb lo ON hi.bucket = lo.bucket AND lo.vec_id < hi.vec_id
  WHERE round(list_dot_product(hi.e, lo.e) / (hi.nrm * lo.nrm), 4) > 0.45
)
SELECT b.vec_id, b.bucket, (d.vec_id IS NULL) AS kept
FROM bucket b LEFT JOIN dropped d ON d.vec_id = b.vec_id
""",
)
def dedup_semantic_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup over the embedding column, SemDeDup-style: every
    vector buckets to its nearest of k deterministic seed vectors, and
    within a bucket any vector within the near-dup cosine threshold of
    a lower-id bucket-mate is dropped (greedy min-id keeper).

    Scale shape (the reason SemDeDup exists): the O(n²) pair test runs
    ONLY inside buckets — the bucket join is an equi-join on the bucket
    id, never a global cross join. The seed set is k rows (broadcast);
    at 100 TB k grows to n/target_bucket_size so buckets stay bounded,
    the assignment stays one broadcast-join pass, and per-bucket norms
    are precomputed at ingest instead of inline (the inline spelling
    here keeps the fixture query self-contained). 64-dim HOF dot
    products stay whole-stage-codegen JVM arithmetic — no Python.
    """
    from ..tables import sql_over

    cos_assign = _sem_cos("e.embedding", "s.semb")
    cos_pair = _sem_cos("hi.embedding", "lo.embedding")
    return sql_over(
        spark,
        sf_dir,
        f"""
WITH seeds AS (
  SELECT vec_id AS seed_id, embedding AS semb
  FROM embeddings ORDER BY vec_id LIMIT {_SEM_K}
), assign AS (
  SELECT e.vec_id, s.seed_id, {cos_assign} AS cos
  FROM embeddings e CROSS JOIN seeds s
), bucket AS (
  SELECT vec_id, seed_id AS bucket FROM (
    SELECT vec_id, seed_id,
           row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, seed_id) AS rn
    FROM assign
  ) WHERE rn = 1
), eb AS (
  SELECT b.vec_id, b.bucket, e.embedding
  FROM bucket b JOIN embeddings e ON e.vec_id = b.vec_id
), dropped AS (
  SELECT DISTINCT hi.vec_id
  FROM eb hi JOIN eb lo ON hi.bucket = lo.bucket AND lo.vec_id < hi.vec_id
  WHERE {cos_pair} > 0.45
)
SELECT b.vec_id, b.bucket, (d.vec_id IS NULL) AS kept
FROM bucket b LEFT JOIN dropped d ON d.vec_id = b.vec_id
""",
        ("embeddings",),
    )


@query(
    "dedup_line_level",
    oracle="""
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), ch AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(ws, (i - 1) * 8 + 1, i * 8), ' ')) AS h
  FROM w, UNNEST(generate_series(1, greatest(CAST(ceil(len(ws) / CAST(8 AS DOUBLE)) AS INT), 1))) AS t(i)
), first AS (
  SELECT h, min(doc_id * 100000 + pos) AS fk FROM ch GROUP BY h
)
SELECT c.doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN c.doc_id * 100000 + c.pos = f.fk THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_chunks,
       round(sum(CASE WHEN c.doc_id * 100000 + c.pos = f.fk THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS keep_ratio
FROM ch c JOIN first f ON c.h = f.h
GROUP BY c.doc_id
""",
)
def dedup_line_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (line-level) dedup, C4/RefinedWeb-style: documents
    split into fixed 8-word spans (the fixture corpus has no newlines,
    so spans stand in for lines), every span hashed, and only the
    corpus-wide FIRST occurrence of each span kept — first = smallest
    (doc_id, pos), encoded as one integer key so both engines agree
    without a struct-min. Output: per-document span counts and the
    keep ratio the cleaned rewrite would have.

    Scale shape: explode → hash → groupBy(min) → equi-join back on the
    16-byte hash — the exact exact-dedup pattern at span granularity;
    the shuffle carries hashes and integer keys, never text. At 100 TB
    the first-occurrence rule is what keeps this embarrassingly
    parallel (no sequential sweep): one partial-min aggregation, one
    co-partitionable join."""
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH w AS (
  SELECT doc_id, split(text, ' ') AS ws FROM documents
), ch AS (
  SELECT doc_id, pos,
         md5(array_join(slice(ws, pos * 8 + 1, 8), ' ')) AS h
  FROM w LATERAL VIEW explode(sequence(0, greatest(CAST(ceil(size(ws) / 8.0) AS INT), 1) - 1)) t AS pos
), first AS (
  SELECT h, min(doc_id * 100000 + pos) AS fk FROM ch GROUP BY h
)
SELECT c.doc_id,
       count(1) AS n_chunks,
       CAST(sum(CASE WHEN c.doc_id * 100000 + c.pos = f.fk THEN 1 ELSE 0 END) AS BIGINT)
         AS kept_chunks,
       round(sum(CASE WHEN c.doc_id * 100000 + c.pos = f.fk THEN 1 ELSE 0 END)
             / CAST(count(1) AS DOUBLE), 4) AS keep_ratio
FROM ch c JOIN first f ON c.h = f.h
GROUP BY c.doc_id
""",
        ("documents",),
    )


@query(
    "dedup_cross_split_leakage",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), grams AS (
  SELECT DISTINCT doc_id, source, bg FROM (
    SELECT doc_id, source,
           unnest(list_transform(generate_series(1, len(l) - 1),
                                 i -> l[i] || ' ' || l[i + 1])) AS bg
    FROM toks
  )
), sizes AS (
  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM grams a JOIN grams b
    ON a.source = b.source AND a.bg = b.bg AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), splits AS (
  SELECT doc_id,
         CASE WHEN substr(md5(text), 1, 4) <= 'e665' THEN 'train'
              WHEN substr(md5(text), 1, 4) <= 'f332' THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT id_a, id_b, pa.split AS split_a, pb.split AS split_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter), 4)
         AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
JOIN splits pa ON pa.doc_id = id_a
JOIN splits pb ON pb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_grams + sb.n_grams - n_inter) >= 0.2
  AND pa.split <> pb.split
ORDER BY id_a, id_b
""",
)
def dedup_cross_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: near-duplicate pairs (bigram
    Jaccard >= 0.2, the exact blocked pair generation of
    dedup_ngram_jaccard) whose two documents landed in DIFFERENT
    train/val/test splits (sample_train_val_test's content-hash
    labels). These are the pairs that silently inflate eval metrics —
    the audit every dataset release should publish. Content-hash
    splitting already guarantees EXACT duplicates cannot straddle
    splits; this measures the residual NEAR-duplicate leakage that
    only a fuzzy pass can see.

    Scale: the pair search is the inverted-index shape (never a cross
    join — plan-tested via the shared helper's family); the split
    label join adds two doc-keyed broadcasts. The fix-side operator is
    dedup_cluster_keep_best with the cluster's split reassigned
    together — this query is the detector.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = _bigram_jaccard_pairs(docs, 0.2)
    b = F.substring(F.md5("text"), 1, 4)
    splits = docs.select(
        "doc_id",
        F.when(b <= "e665", "train").when(b <= "f332", "val").otherwise("test").alias("split"),
    )
    pa = splits.alias("pa")
    pb = splits.alias("pb")
    return (
        pairs.join(F.broadcast(pa), F.col("pa.doc_id") == F.col("id_a"))
        .join(F.broadcast(pb), F.col("pb.doc_id") == F.col("id_b"))
        .filter(F.col("pa.split") != F.col("pb.split"))
        .select(
            "id_a",
            "id_b",
            F.col("pa.split").alias("split_a"),
            F.col("pb.split").alias("split_b"),
            r4(F.col("jac")).alias("jaccard"),
        )
        .orderBy(F.asc("id_a"), F.asc("id_b"))
    )


@query(
    "dedup_minhash_recall_curve",
    oracle="""
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS l FROM documents
), sh AS (
  SELECT doc_id, source, unnest(list_distinct(list_transform(
      generate_series(1, len(l) - 1), i -> l[i] || ' ' || l[i + 1]))) AS s
  FROM toks
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), truth AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b ON a.source = b.source AND a.s = b.s
                     AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), tj AS (
  SELECT id_a, id_b,
         CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS j
  FROM truth
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
), hx AS (
  SELECT doc_id, i, min(md5(CAST(i AS VARCHAR) || '|' || s)) AS mh
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS i)
  GROUP BY doc_id, i
), band AS (
  SELECT doc_id, i // 4 AS band, md5(string_agg(mh, '|' ORDER BY i)) AS bkey
  FROM hx GROUP BY doc_id, i // 4
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM band a JOIN band b ON a.band = b.band AND a.bkey = b.bkey
                         AND a.doc_id < b.doc_id
)
SELECT least(9, CAST(floor(j * 10) AS BIGINT)) AS bucket,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_caught,
       round(sum(CASE WHEN cand.id_a IS NOT NULL THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 4) AS recall
FROM tj LEFT JOIN cand ON tj.id_a = cand.id_a AND tj.id_b = cand.id_b
GROUP BY 1
ORDER BY bucket
""",
)
def dedup_minhash_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH S-curve: recall of the 4-band x 4-row MinHash
    banding scheme (dedup_minhash_banding_exact's deterministic md5
    family) against EXACT bigram Jaccard, per 0.1-wide Jaccard bucket —
    the validation pass a dedup pipeline runs before trusting a banding
    configuration at scale (theory says catch probability 1-(1-J^4)^4;
    this measures it on the actual corpus, including the hash-collision
    and tie effects theory ignores). The same-source shared-bigram pair
    universe bounds the ground truth exactly the way
    dedup_ngram_jaccard does; every pair with J > 0 inside that
    universe is enumerated (sharing a bigram IS J > 0).

    Determinism: J is one IEEE division of exact integers and the
    bucket is floor(J*10) on that engine-identical double — no
    accumulated float in control flow; identical shingle sets imply
    identical signatures, so J = 1.0 pairs are caught by construction
    (property-tested).

    Scale: truth pairs generate only through shared (source, bigram)
    keys and candidates only through shared band buckets — two bucketed
    pair generators, no cartesian anywhere; the curve output is 10
    rows. At 100 TB, sample the truth universe (it is only needed to
    VALIDATE the banding, not to dedup) and keep the banding side full.
    """
    from .scale_patterns import spread_for_fanout

    # spread BEFORE the shingle/signature ladders (optimization r12):
    # the single-split documents scan otherwise evaluates the 16-hash
    # MinHash ladder (16 x |shingles| md5s per doc) and the broadcast
    # truth-pair probe in ONE task
    docs = spread_for_fanout(
        table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.split("text", " ").alias("l")
        ),
        n_rows=row_count(sf_dir, "documents"),
    )
    d = docs.select(
        "doc_id",
        "source",
        F.array_distinct(
            F.expr(
                "transform(sequence(1, size(l) - 1), "
                "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
            )
        ).alias("sh"),
    )
    grams = d.select("doc_id", "source", F.explode("sh").alias("s"))
    sizes = d.select("doc_id", F.size("sh").alias("n"))
    ga = grams.select(F.col("doc_id").alias("id_a"), "source", "s")
    gb = grams.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b"), F.col("s").alias("s_b"))
    truth = (
        ga.join(
            gb,
            (F.col("source") == F.col("source_b"))
            & (F.col("s") == F.col("s_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    tj = (
        truth.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("j"),
        )
    )
    sig = d.withColumn(
        "sig",
        F.expr(
            "transform(sequence(0, 15), "
            "i -> array_min(transform(sh, s -> md5(concat(cast(i as string), '|', s)))))"
        ),
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), "
                "k -> struct(k AS band, md5(concat_ws('|', slice(sig, k * 4 + 1, 4))) AS bkey))"
            )
        ).alias("b"),
    ).select("doc_id", "b.band", "b.bkey")
    ba = bands.select(F.col("doc_id").alias("id_a"), "band", "bkey")
    bb = bands.select(
        F.col("doc_id").alias("id_b"),
        F.col("band").alias("band_b"),
        F.col("bkey").alias("bkey_b"),
    )
    cand = (
        ba.join(
            bb,
            (F.col("band") == F.col("band_b"))
            & (F.col("bkey") == F.col("bkey_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = tj.join(cand, ["id_a", "id_b"], "left")
    caught = F.coalesce(F.col("hit"), F.lit(0))
    return (
        joined.groupBy(
            F.least(F.lit(9), F.floor(F.col("j") * 10)).cast("bigint").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(caught).cast("bigint").alias("n_caught"),
            r4(F.sum(caught) / F.count(F.lit(1))).alias("recall"),
        )
        .orderBy(F.asc("bucket"))
    )


@query(
    "dedup_prefix_filter_join",
    oracle="""
WITH raw AS (
  SELECT doc_id, string_split(text, ' ') AS l FROM documents
), toks AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS w
  FROM raw
), sizes AS (
  SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM toks a JOIN toks b ON a.w = b.w AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_tok + sb.n_tok - n_inter) >= 0.5
""",
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard-threshold set-similarity self-join with AllPairs/
    PPJoin prefix filtering (Bayardo et al., WWW'07; Xiao et al.,
    WWW'08) as the candidate generator — bigram-shingle sets,
    J >= 0.5. The theorem: under ANY fixed total order of the
    vocabulary, two sets with J(A,B) >= t must share a token within
    each one's first |A| - ceil(t*|A|) + 1 tokens, so joining only
    those PREFIXES (ordered rarest-document-frequency-first, ties by
    token) finds every qualifying pair while the frequent tokens —
    exactly the ones with ruinous posting lists — never enter the
    join. A length filter (|A| >= t*|B|) prunes candidates further;
    both filters are lossless, so the final array_intersect
    verification returns the exact all-pairs answer and the oracle is
    the plain inverted-index ground truth.

    Contrast with the registry's other generators: minhash_lsh_dedup
    is approximate, dedup_ngram_jaccard joins on EVERY shared gram
    (posting lists bounded only by the source block). Prefix filtering
    is the exact-answer scale path: per-doc join fan-out is the prefix
    length (~half the doc at t=0.5), and each prefix token is globally
    RARE, so posting lists stay short without any blocking key.

    Scale notes: the global token order needs no global sort — each
    doc ranks its own tokens by the broadcast-joinable (df, w) key
    inside a doc-partitioned window. Verification joins the candidate
    pairs to per-doc sorted token arrays (doc-bounded) and computes
    size(array_intersect) JVM-side. Reference parity: task.ts:393-458
    dedupes by exact OBJECTID only; this is the fuzzy extension the
    brief mandates."""
    docs = table(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(docs, 0.5)
    return pairs.select("id_a", "id_b", r4(F.col("jac")).alias("jaccard"))


def prefix_filter_jaccard_pairs(docs: DataFrame, t: float) -> DataFrame:
    """Exact bigram-Jaccard pairs (id_a < id_b, J >= ``t``) — the full
    PPJoin stack behind :func:`dedup_prefix_filter_join`; returns
    ``jac`` unrounded. Lossless vs brute force (test_prefix_filter.py
    proves equality). Three candidate filters, each provably
    complete:

    1. PREFIX: under the (df, hash) total order, J >= t forces a
       shared token within each doc's first n - ceil(t*n) + 1;
    2. LENGTH: t * max(|A|, |B|) <= min(|A|, |B|);
    3. POSITIONAL (the P in PPJoin): the shared prefix token at
       positions (i, j) bounds the overlap by 1 + min(na-i, nb-j),
       which must reach ceil(t/(1+t) * (na+nb)); the FIRST shared
       token of a true pair always passes, so filtering per posting
       row before distinct loses nothing.

    Grams are xxhash64'd once up front: every join/aggregate keys on
    8-byte longs instead of strings, and verification intersects
    sorted long arrays (a 64-bit collision would need ~2^32 distinct
    grams per corpus to matter). The gram table is localCheckpoint'd
    — four downstream consumers, one materialization.

    Degenerate-corpus honesty: on a low-entropy vocabulary (the sf0.1
    fixture: 5,000 docs over 931 distinct bigrams) every gram is
    frequent, candidates approach all-pairs, and the cost is intrinsic
    to EXACTNESS — no exact algorithm beats output size. The filters
    still cut 36%% of candidates there; on Zipf-tailed real corpora
    the prefix posting lists are the rare tail and candidates ~ true
    pairs. minhash_lsh_dedup is the registry's approximate escape
    hatch when a corpus degenerates."""
    from pyspark.sql import Window

    docs = docs.withColumn("l", F.split("text", " "))
    toks = barrier(
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(l) - 1), "
                    "i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
                )
            ).alias("w"),
        )
        .distinct()
        .select("doc_id", F.xxhash64("w").alias("h"))
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    df_tab = toks.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    pos = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("h"))
    )
    prefix = (
        toks.join(df_tab, "h")
        .select("doc_id", "h", "df")
        .withColumn("pos", pos)
        .join(sizes, "doc_id")
        .filter(F.col("pos") <= F.col("n_tok") - F.ceil(F.lit(t) * F.col("n_tok")) + 1)
        .select("doc_id", "h", "n_tok", "pos")
    )
    pa = prefix.select(
        F.col("doc_id").alias("id_a"), "h",
        F.col("n_tok").alias("na"), F.col("pos").alias("pos_a"),
    )
    pb = prefix.select(
        F.col("doc_id").alias("id_b"), F.col("h").alias("h_b"),
        F.col("n_tok").alias("nb"), F.col("pos").alias("pos_b"),
    )
    alpha = F.ceil(F.lit(t / (1 + t)) * (F.col("na") + F.col("nb")))
    cand = (
        pa.join(
            pb,
            (F.col("h") == F.col("h_b"))
            & (F.col("id_a") < F.col("id_b"))
            & (F.least("na", "nb") >= F.lit(t) * F.greatest("na", "nb"))
            & (1 + F.least(F.col("na") - F.col("pos_a"), F.col("nb") - F.col("pos_b"))
               >= alpha),
        )
        .select("id_a", "id_b")
        .distinct()
    )
    arrs = toks.groupBy("doc_id").agg(F.sort_array(F.collect_set("h")).alias("ws"))
    aa = arrs.select(F.col("doc_id").alias("id_a"), F.col("ws").alias("ws_a"))
    ab = arrs.select(F.col("doc_id").alias("id_b"), F.col("ws").alias("ws_b"))
    inter = F.size(F.array_intersect("ws_a", "ws_b"))
    jac = inter.cast("double") / (F.size("ws_a") + F.size("ws_b") - inter)
    return (
        cand.join(aa, "id_a")
        .join(ab, "id_b")
        .select("id_a", "id_b", jac.alias("jac"))
        .filter(F.col("jac") >= t)
    )


@query(
    "dedup_substring_exact",
    oracle="""
WITH toks AS MATERIALIZED (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
), g AS MATERIALIZED (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(ws, i, i + 4), ' ')) AS h
  FROM toks, unnest(generate_series(1, len(ws) - 4)) AS t(i)
  WHERE len(ws) >= 5
), firstk AS MATERIALIZED (
  SELECT h, min(doc_id * 100000 + pos) AS fk FROM g GROUP BY h
), dups AS MATERIALIZED (
  SELECT g.doc_id, g.pos FROM g JOIN firstk f ON g.h = f.h
  WHERE g.doc_id * 100000 + g.pos > f.fk
), tok_pos AS (
  SELECT doc_id, i - 1 AS p
  FROM toks, unnest(generate_series(1, len(ws))) AS t(i)
), cov AS (
  SELECT t.doc_id, count(DISTINCT t.p) AS removed
  FROM tok_pos t
  JOIN dups d ON t.doc_id = d.doc_id AND t.p BETWEEN d.pos AND d.pos + 4
  GROUP BY t.doc_id
)
SELECT toks.doc_id,
       CAST(len(ws) AS BIGINT) AS n_tokens,
       CAST(coalesce(cov.removed, 0) AS BIGINT) AS removed_tokens,
       CAST(len(ws) - coalesce(cov.removed, 0) AS BIGINT) AS kept_tokens,
       CAST(coalesce(cov.removed, 0) * 10000 // len(ws) AS BIGINT) AS removal_bp
FROM toks LEFT JOIN cov ON toks.doc_id = cov.doc_id
""",
)
def dedup_substring_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT REPEATED-SUBSTRING dedup at token granularity (the Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better"
    class, k-gram spelling): every k-token window (k=5) whose exact
    text occurred EARLIER in the corpus — earlier = smaller
    (doc_id, pos), the same first-occurrence-wins contract as
    dedup_line_level but over OVERLAPPING spans — marks its k tokens
    for removal; overlapping duplicated spans merge. Output per doc:
    total/removed/kept token mass and the removal rate in basis points
    (integer 10000·removed DIV total — engine-exact, no float
    rounding). The corpus-level removed mass is what the suffix-array
    pass of the paper would delete; the per-doc ratio is the curation
    signal (a doc that is mostly repeated substrings of earlier docs is
    boilerplate).

    Distinct from dedup_line_level (disjoint 8-word chunks, chunk keep
    ratio) and text_ngram_novelty (gram-set novelty fraction): this is
    TOKEN-MASS coverage under overlapping spans with interval merging —
    the quantity an actual substring-dedup rewrite removes.

    Scale shape (the 100 TB story): tokens never leave their row —
    grams are in-row slices hashed to 16 bytes; the only shuffles are
    (1) one partial-agg groupBy(gram-hash) for the global first
    occurrence and (2) one co-partitioned join back on the same hash,
    exactly exact-dedup's pattern. Duplicate positions return to their
    doc via one groupBy(doc_id) whose payload is a bounded int array
    (positions within ONE doc), and the interval-merge fold runs
    in-row via aggregate() — no window over the corpus, no pair
    generation, no suffix array materialized across the cluster (the
    paper's suffix array is a single-node construction; the k-gram
    first-occurrence relaxation is what makes it embarrassingly
    parallel at corpus scale)."""
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        """
WITH w AS (
  SELECT doc_id, split(text, ' ') AS ws FROM documents
), g AS (
  SELECT doc_id, pos, md5(array_join(slice(ws, pos + 1, 5), ' ')) AS h
  FROM w LATERAL VIEW explode(sequence(0, size(ws) - 5)) t AS pos
  WHERE size(ws) >= 5
), firstk AS (
  SELECT h, min(doc_id * 100000 + pos) AS fk FROM g GROUP BY h
), dups AS (
  SELECT g.doc_id, g.pos FROM g JOIN firstk f ON g.h = f.h
  WHERE g.doc_id * 100000 + g.pos > f.fk
), cov AS (
  SELECT doc_id,
         aggregate(
           array_sort(collect_list(pos)),
           named_struct('tot', 0L, 'e', CAST(-1 AS BIGINT)),
           (acc, p) -> named_struct(
             'tot', acc.tot + greatest(0L, CAST(p + 4 AS BIGINT)
                                       - greatest(CAST(p - 1 AS BIGINT), acc.e)),
             'e', greatest(acc.e, CAST(p + 4 AS BIGINT))),
           acc -> acc.tot) AS removed
  FROM dups GROUP BY doc_id
)
SELECT w.doc_id,
       CAST(size(w.ws) AS BIGINT) AS n_tokens,
       coalesce(c.removed, 0L) AS removed_tokens,
       CAST(size(w.ws) AS BIGINT) - coalesce(c.removed, 0L) AS kept_tokens,
       coalesce(c.removed, 0L) * 10000L DIV size(w.ws) AS removal_bp
FROM w LEFT JOIN cov c ON w.doc_id = c.doc_id
""",
        ("documents",),
    )
