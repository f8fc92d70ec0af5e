"""Graph operators — iterative algorithms over relational edges.

Complements the connected-components clustering in ``dedup.py`` (min-
label propagation + pointer jumping) with a weighted PageRank: the
other canonical iterative-join workload, here over the bipartite
customer<->supplier graph induced by order lines.

Iterative algorithms are where a declarative engine has to think about
lineage: each iteration is a join + aggregate over the previous rank
vector. This module unrolls a FIXED iteration count (deterministic,
oracle-expressible as chained CTEs). Every intermediate goes through
``scale_patterns.barrier``: an edge list or transition matrix is built
once behind a lazy barrier, per-round vectors behind eager ones that
free the round they replace, and a query's result behind a last
barrier that frees everything the result no longer reads.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import r4
from ..registry import query
from ..tables import table
from .scale_patterns import barrier, direction_double, free_checkpoint

_D = 0.85        # damping
_ITERS = 5
# Explicit co-partitioning width for the iterative stages. Barriers
# pin physical plans, which keeps AQE from coalescing the tiny
# per-iteration shuffles on a vanilla session — so the loop sizes its
# own exchanges. MUST equal spark.sql.shuffle.partitions (optimization
# r12): the loop joins only reuse a barriered edge list's clustering
# when the partition counts match — a fixed 16 against a 32-partition
# session re-exchanged AND re-sorted the edge list every iteration.
# Conf-derived is also the scale story: at cluster SF
# shuffle.partitions is sized to the data, and the barriered layout
# follows it.


def _parts(spark) -> int:
    return int(spark.conf.get("spark.sql.shuffle.partitions", "16"))


# Narrow node keys (optimization r12 session 4, guide §2.3): the graph
# operators' oracles spell node ids as strings ('c'||custkey,
# 's'||suppkey), but shuffling/hashing variable-width strings through
# every loop round measured 1.5-3x slower than 8-byte longs at sf0.1.
# The loops therefore carry the BIJECTION customer k -> 2k,
# supplier k -> 2k+1 and re-materialize the string spelling only on
# bounded frames (final top-k outputs, per-node aggregates, window
# tie-break expressions) — wherever the oracle compares or orders by
# the STRING, the string expression is used, so results stay
# bit-identical.
def _node_str(col):
    return F.concat(
        F.when(col % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        (col.cast("bigint") / F.lit(2)).cast("bigint").cast("string"),
    )


def _graph_parts(spark, sf_dir: str) -> int:
    """Width of the barriered per-iteration edge layouts, derived from
    INPUT SIZE (guide §2.5: scale-adaptive, not a core-count constant):
    ~3 MB of source parquet per partition — the edge list is a
    projected+deduped derivative of lineitem, so its bytes track
    lineitem's. Floor 2; capped at shuffle.partitions both so the
    loop-side exchanges (sized by that conf) stay co-partition-
    compatible and so a cluster session's configured width wins at
    scale. At sf0.1 this yields 4 — measured best (A/B 32/8/4/2 in
    OPTIMIZATION_r12.md): with tiny per-partition data the per-stage
    scheduling floor dominates, so fewer, fuller partitions beat
    core-count fan-out."""
    from ..tables import input_bytes

    derived = max(2, input_bytes(sf_dir, "lineitem") // (3 << 20) + 1)
    return max(2, min(_parts(spark), derived))


def _oracle_pagerank() -> str:
    steps = []
    prev = "r0"
    for k in range(1, _ITERS + 1):
        steps.append(
            f"""r{k} AS (
  SELECT m.dst AS node,
         0.15 / any_value(m.n_nodes) + 0.85 * sum(m.p * {prev}.rank) AS rank
  FROM norm m JOIN {prev} ON m.src = {prev}.node
  GROUP BY m.dst
)"""
        )
        prev = f"r{k}"
    steps_sql = ",\n".join(steps)
    return f"""
WITH e0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst,
         count(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst, CAST(w AS DOUBLE) AS w FROM e0
  UNION ALL
  SELECT dst, src, CAST(w AS DOUBLE) AS w FROM e0
), outw AS (
  SELECT src, sum(w) AS ow FROM edges GROUP BY src
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_nodes FROM outw
), norm AS (
  SELECT e.src, e.dst, e.w / o.ow AS p, n.n_nodes
  FROM edges e JOIN outw o ON e.src = o.src CROSS JOIN n
), r0 AS (
  SELECT src AS node, 1.0 / (SELECT n_nodes FROM n) AS rank FROM outw
),
{steps_sql}
SELECT node, round(rank * (SELECT n_nodes FROM n), 4) AS rank_scaled
FROM {prev}
ORDER BY rank_scaled DESC, node
LIMIT 50
"""


@query("graph_pagerank_fixed", oracle=_oracle_pagerank())
def graph_pagerank_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, {iters} unrolled iterations, over the
    customer<->supplier bipartite graph (edge weight = order-line
    count, symmetrized). Top-50 nodes by rank scaled to mean 1
    (raw ranks are ~1/N — below the r4 grid at large N; the scaled
    value is scale-free).

    Determinism: the transition probabilities p = w / out_weight are
    EXACT (integer-valued doubles sum exactly; one division), so the
    only cross-engine noise is rank-sum accumulation order, ~1e-13
    relative after {iters} rounds — far under the 1e-4 output grid.
    Fixed iteration count keeps it oracle-expressible (chained CTEs);
    convergence-tested loops belong to the driver, not the query.

    Scale: each iteration is ONE shuffle join (transition matrix x
    rank vector, both partitioned on the join key — at cluster SF,
    pre-partition both on src and the per-iteration exchange
    disappears) + an agg on dst. The matrix is built once behind a lazy
    barrier; the 5 rounds stay one unrolled plan, behind the result's
    barrier (at 100 TB each round would take a barrier of its own to
    truncate lineage). Degree skew (a mega-customer) is the usual
    hazard: AQE skew-join, or split hub rows with the salting utility
    (scale_patterns.salted_groupby_sum's layout applied to edges).
    """.format(iters=_ITERS)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    # one evaluation of the lineitem⋈orders edge aggregate
    # (optimization r12): direction_double replaces the union-of-
    # selects (which executed e0 twice), and the eager barrier makes
    # the edges/outw legs of the norm join share ONE materialization
    # instead of re-running the builder per leg. Freed right after
    # norm (its only consumer) is materialized below.
    edges = barrier(direction_double(e0, "src", "dst", ("w",)))
    outw = edges.groupBy("src").agg(F.sum("w").alias("ow"))
    # partition-once, iterate-many (optimization r12, guide §2.1): the
    # transition matrix is hash-clustered AND sorted on the per-
    # iteration join key behind its barrier, so each round's SMJ reuses
    # both the partitioning and the ordering — zero exchange, zero
    # sort on the big side inside the loop (the rank vector alone
    # shuffles, |nodes| rows). Width derived from input size
    # (_graph_parts), not core count.
    norm = barrier(
        edges.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("ow")).alias("p"))
        .repartition(_graph_parts(spark, sf_dir), "src")
        .sortWithinPartitions("src"),
        eager=False,
    )
    # n_nodes off the matrix (distinct src == outw rows): the old
    # outw.count() re-ran the whole lineitem⋈orders build for one
    # scalar (optimization r12). The count materializes norm, so the
    # edge blocks are dead after it.
    n_nodes = norm.select("src").distinct().count()
    free_checkpoint(edges)
    ranks = (
        norm.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("rank"))
    )
    for _ in range(_ITERS):
        # NO repartition before the agg (optimization r12, guide
        # §2.3): the r5 spelling repartitioned the JOINED edge set
        # by dst — a full |edges|-row exchange per iteration that
        # also forbade map-side combine. Letting the groupBy plan
        # itself puts a partial aggregate below the exchange, so
        # only |parts| x |nodes| partial rows cross the wire.
        ranks = (
            norm.join(ranks, norm["src"] == ranks["node"])
            .groupBy(norm["dst"])
            .agg(
                (F.lit((1.0 - _D) / n_nodes)
                 + F.lit(_D) * F.sum(norm["p"] * ranks["rank"])).alias("rank")
            )
            .select(F.col("dst").alias("node"), "rank")
        )
    # string spelling + STRING tie-break on the |nodes|-row frame
    # only (narrow keys, r12 session 4 — see _node_str)
    out = (
        ranks.select(
            _node_str(F.col("node")).alias("node"),
            r4(F.col("rank") * n_nodes).alias("rank_scaled"),
        )
        .orderBy(F.desc("rank_scaled"), F.asc("node"))
        .limit(50)
    )
    # explicit conf-width partitioning keeps the barrier's RDD-path
    # evaluation (which skips AQE) small
    return barrier(out, norm)


@query(
    "graph_triangle_count",
    oracle="""
WITH pb AS (
  SELECT p_partkey FROM part WHERE p_brand = (SELECT min(p_brand) FROM part)
),
op AS (
  SELECT DISTINCT l_orderkey, l_partkey
  FROM lineitem JOIN pb ON l_partkey = p_partkey
),
e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT count(*) AS n_triangles,
       (SELECT count(*) FROM e) AS n_edges,
       (SELECT count(DISTINCT p) FROM (SELECT u AS p FROM e UNION SELECT v FROM e)) AS n_nodes
FROM e e1
JOIN e e2 ON e1.v = e2.u
JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-occurrence graph (parts of
    one brand, connected when they share an order) — the second
    canonical graph-join workload after PageRank: wedges from an
    oriented edge list closed by a third join. Orienting every edge
    u < v counts each triangle exactly once with no post-dedup.

    Scale: the edge list is built by a same-key self-join of the
    (order, part) projection — a co-partitioned join on l_orderkey,
    no shuffle beyond the distinct. The wedge join's fan-out is the
    sum of squared degrees: at 100 TB the standard mitigation is
    degree-ordered orientation (point each edge at the higher-degree
    endpoint), which bounds wedges by arboricity; the fixture graph
    is small enough that the plain orientation is already balanced."""
    li = table(spark, sf_dir, "lineitem")
    pa = table(spark, sf_dir, "part")
    min_brand = F.broadcast(pa.agg(F.min("p_brand").alias("mb")))
    pb = pa.join(min_brand, pa.p_brand == F.col("mb")).select("p_partkey")
    op = (
        li.join(F.broadcast(pb), li.l_partkey == pb.p_partkey)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = op.alias("a"), op.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    # The oriented edge list is dimension-sized (scales with |parts in
    # one brand|, not the fact). The barrier pins the plan away from AQE
    # coalescing, so size the width explicitly FROM the data: count the
    # edges (cheap — the relation is small by construction; the count
    # materializes the barrier), then give the edge list one partition
    # per ~50k edges. At the fixture that's 1; at cluster scale the
    # width follows |e| instead of being hardcoded.
    e = barrier(e, eager=False)
    width = int(e.count() // 50_000) + 1  # never widens: coalesce only shrinks
    e = e.coalesce(width)
    if width == 1:
        # a checkpoint keeps the optimizer's size estimate, not the size
        # the count just measured: one partition of edges is broadcast
        # to the wedge joins, as a materialized cache would have been
        e = F.broadcast(e)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.v") == F.col("e2.u"))
        .join(
            e3,
            (F.col("e1.u") == F.col("e3.u")) & (F.col("e2.v") == F.col("e3.v")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = e.select(F.col("u").alias("p")).union(e.select("v")).distinct()
    counts = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        nodes.agg(F.count(F.lit(1)).alias("n_nodes"))
    )
    return tri.crossJoin(F.broadcast(counts))


@query(
    "graph_degree_stats",
    oracle="""
WITH e0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0
), deg AS (
  SELECT src AS node, count(*) AS degree FROM edges GROUP BY src
)
SELECT degree, count(*) AS n_nodes,
       min(node) AS example_node
FROM deg GROUP BY degree
""",
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer<->supplier graph (same
    distinct-edge construction as the PageRank twin): how many nodes
    have each degree, with a deterministic example node per bucket.
    The first profiling query run against ANY production graph — and
    the input to skew planning (max degree == the hot-vertex bound
    that decides salting for the iterative ops).

    Scale: two group-bys (edge dedup, then degree count) on the edge
    key — both map-side combinable; the distribution output is
    max-degree-sized, tiny."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    edges = direction_double(e0, "src", "dst")  # one e0 evaluation (r12)
    # narrow keys through the data-sized dedup/degree aggregates; the
    # oracle's min(node) is a STRING min, so the string spelling is
    # re-materialized on the |nodes|-row deg frame BEFORE the (tiny)
    # per-degree aggregate (r12 session 4, see _node_str)
    deg = edges.groupBy(F.col("src").alias("nid")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    deg = deg.select(_node_str(F.col("nid")).alias("node"), "degree")
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).alias("n_nodes"), F.min("node").alias("example_node")
    )


@query(
    "graph_two_hop_reach",
    oracle="""
WITH e0 AS (
  SELECT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), two_hop AS (
  SELECT a.c AS c_a, b.c AS c_b
  FROM e0 a JOIN e0 b ON a.s = b.s AND a.c < b.c
  GROUP BY a.c, b.c
)
SELECT c_a AS custkey, count(*) AS n_two_hop_peers
FROM two_hop GROUP BY c_a
""",
)
def graph_two_hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop reachability on the bipartite graph: for each customer,
    how many OTHER customers share at least one supplier (the
    collaborative-filtering / co-purchase neighborhood size).

    Spelling (optimization r12): adjacency-union instead of pair
    materialization. The r4-r11 spelling self-joined e0 on the shared
    supplier and shuffled the RESULT — sum_s deg(s)^2 pair ROWS (345M
    at sf0.1, 38 s) — through distinct + groupBy. The same multiset is
    here assembled per customer: gather each supplier's customer list
    once (|edges| ints total), attach it to the customer-supplier edge
    list by a broadcast join after ONE tiny exchange of the bare (c, s)
    keys, and count distinct higher-id peers with an in-partition
    array union — identical exact result (array_distinct of the
    flattened lists = the pair-distinct; x > c = the c_a < c_b tie;
    size = the count; empty unions drop like pairless customers).

    Scale shape: the sum_s deg(s)^2 element volume is intrinsic to the
    exact answer, but it now stays INSIDE partitions (JVM hash-set
    work) instead of crossing the network as pair rows. The broadcast
    of the supplier adjacency is |edges| ints (4.7 MB at sf0.1); at
    cluster SF drop the hint and the join ships the adjacency arrays
    through the exchange — the same bytes as the old pair shuffle in
    deg(s)-fold fewer rows. The hub hazard is unchanged and handled
    the same way: cap or sample hub suppliers, or switch to
    approximate sketch-union per customer when only the SIZE is
    needed."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(F.broadcast(od), F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    supp = e0.groupBy("s").agg(F.collect_list("c").alias("cs"))
    # Push the higher-id predicate BELOW the distinct (optimization
    # r13): x > c is elementwise, so filtering each supplier's peer
    # list per edge row BEFORE flatten/array_distinct keeps the same
    # distinct set (filter∘distinct == distinct∘filter for a pure
    # per-element predicate) while halving the per-customer hash-set
    # volume in expectation — the deg² element stream shrinks before
    # the expensive dedup, not after.
    return (
        e0.repartition("c")
        .join(F.broadcast(supp), "s")
        .select("c", F.expr("filter(cs, x -> x > c)").alias("cs_hi"))
        .groupBy("c")
        .agg(
            F.expr("size(array_distinct(flatten(collect_list(cs_hi))))")
            .cast("bigint")
            .alias("n_two_hop_peers")
        )
        .filter(F.col("n_two_hop_peers") > 0)
        .select(F.col("c").alias("custkey"), "n_two_hop_peers")
    )


_CORE_K = 15
_CORE_ROUNDS = 3


def _oracle_kcore() -> str:
    """Unrolled fixed-round peeling, identical semantics to the Spark
    loop: round r = degree count over the surviving subgraph, keep
    nodes with degree >= k, keep edges with BOTH endpoints kept."""
    steps = []
    prev_u = "u1"
    rows = []
    for r in range(1, _CORE_ROUNDS + 1):
        steps.append(
            f"""d{r} AS (SELECT a, count(*) AS d FROM {prev_u} GROUP BY a),
s{r} AS (SELECT a FROM d{r} WHERE d >= {_CORE_K}),
u{r + 1} AS (
  SELECT {prev_u}.a, {prev_u}.b
  FROM {prev_u}
  JOIN s{r} x ON {prev_u}.a = x.a
  JOIN s{r} y ON {prev_u}.b = y.a
)"""
        )
        rows.append(
            f"SELECT {r} AS round, (SELECT count(*) FROM s{r}) AS n_nodes,"
            f" (SELECT count(*) / 2 FROM u{r + 1}) AS n_edges"
        )
        prev_u = f"u{r + 1}"
    steps_sql = ",\n".join(steps)
    rows_sql = "\nUNION ALL\n".join(rows)
    return f"""
WITH e0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst,
         count(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), e1 AS (SELECT src, dst FROM e0 WHERE w >= 2),
u1 AS (SELECT src AS a, dst AS b FROM e1 UNION ALL SELECT dst AS a, src AS b FROM e1),
{steps_sql}
SELECT round, CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges
FROM ({rows_sql}) ORDER BY round
"""


@query("graph_kcore_peel", oracle=_oracle_kcore())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core peeling (k=15, 3 fixed rounds) on the repeat-business
    graph (customer-supplier pairs with >= 2 order lines): each round
    recomputes degrees over the surviving subgraph and drops nodes
    below k — the standard cascade that isolates the densely-connected
    core (community seeds, spam/bot ring detection; in a data-curation
    pipeline: the dense co-citation core worth oversampling). k=15 is
    chosen to actually CASCADE on the fixtures (170 -> 88 -> 18
    survivors at sf0.01), exercising the fixpoint loop, not one
    filter pass. Output: per-round survivor/edge counts — bounded
    (ROUNDS rows) and never empty at any SF.

    Scale: each round is one degree aggregate + two hash semi-joins of
    the edge list against the (shrinking) survivor set — all keyed
    shuffles, no single-task stage; the loop materializes each round's
    edge list behind a barrier that frees the round it replaces (same
    discipline as graph_pagerank_fixed). At 1000 executors a full k-core
    decomposition would iterate to fixpoint with the same per-round
    plan; the FIXED round count here keeps the result a deterministic
    oracle-checkable contract.

    Ref parity: the reference has no graph surface; this extends the
    engine family of iterative relational algorithms
    (dedup.py connected components, graph_pagerank_fixed).
    """
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # narrow keys end-to-end (r12 session 4): the output is per-round
    # COUNTS only, so no string ever needs re-materializing — the
    # bijection (c k -> 2k, s k -> 2k+1) preserves every count.
    e0 = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("src", "dst")
    )
    und = direction_double(
        e0.select(F.col("src").alias("a"), F.col("dst").alias("b")), "a", "b"
    )  # one e0 evaluation (r12)
    rows = kcore_rounds(und, _CORE_K, _CORE_ROUNDS, parts=_graph_parts(spark, sf_dir))
    return spark.createDataFrame(
        rows, "round INT, n_nodes BIGINT, n_edges BIGINT"
    ).orderBy("round")


def kcore_rounds(
    und: DataFrame, k: int, rounds: int, parts: int | None = None
) -> list[tuple[int, int, int]]:
    """Run ``rounds`` k-core peeling iterations over an undirected edge
    list (both directions present as (a, b) rows); returns
    [(round, surviving_nodes, surviving_undirected_edges), ...].
    Each round: degree aggregate -> drop nodes with degree < k -> keep
    edges whose BOTH endpoints survive; edge lists are repartitioned on
    the join key behind a barrier that frees the previous round."""
    parts = parts or _parts(und.sparkSession)
    und = barrier(und.repartition(parts, "a"))
    rows = []
    for r in range(1, rounds + 1):
        deg = und.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        surv = deg.filter(F.col("d") >= k).select("a")
        n_nodes = surv.count()  # reads round r-1: count it before the free
        und = barrier(
            und.join(surv.withColumnRenamed("a", "ka"), F.col("a") == F.col("ka"))
            .drop("ka")
            .join(surv.withColumnRenamed("a", "kb"), F.col("b") == F.col("kb"))
            .drop("kb")
            .repartition(parts, "a"),
            und,
        )
        rows.append((r, n_nodes, und.count() // 2))
    free_checkpoint(und)  # rows are plain ints
    return rows


@query(
    "graph_degree_assortativity",
    oracle="""
WITH e AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey AS s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
), dc AS (
  SELECT c, CAST(count(*) AS DOUBLE) AS dc FROM e GROUP BY c
), ds AS (
  SELECT s, CAST(count(*) AS DOUBLE) AS ds FROM e GROUP BY s
), j AS (
  SELECT dc.dc AS x, ds.ds AS y
  FROM e JOIN dc ON e.c = dc.c JOIN ds ON e.s = ds.s
)
SELECT CAST(count(*) AS BIGINT) AS n_edges,
       round((avg(x * y) - avg(x) * avg(y))
             / (sqrt(avg(x * x) - avg(x) * avg(x))
              * sqrt(avg(y * y) - avg(y) * avg(y))), 4) AS assortativity
FROM j
""",
)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer-supplier bipartite graph:
    the Pearson correlation, over EDGES, between the two endpoints'
    degrees (Newman 2002, public) — positive means hubs connect to
    hubs (resilient core), negative means hubs fan out to leaves (the
    usual commerce shape). The network-structure scalar that tells a
    sampler whether degree-stratified negatives are needed.

    Scale: two degree aggregates (map-side combined) joined back onto
    the distinct edge list — two broadcast-sized dimension joins at
    fixture SF, plain shuffle joins at 100 TB; the correlation is one
    pass of moment averages (same §5.3 discipline as
    agg_higher_moments / ts_autocorrelation)."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    od = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e = (
        li.join(od, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    dc = e.groupBy("c").agg(F.count(F.lit(1)).cast("double").alias("x"))
    ds = e.groupBy("s").agg(F.count(F.lit(1)).cast("double").alias("y"))
    j = e.join(dc, "c").join(ds, "s")
    corr = (
        (F.avg(F.col("x") * F.col("y")) - F.avg("x") * F.avg("y"))
        / (
            F.sqrt(F.avg(F.col("x") * F.col("x")) - F.avg("x") * F.avg("x"))
            * F.sqrt(F.avg(F.col("y") * F.col("y")) - F.avg("y") * F.avg("y"))
        )
    )
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        r4(corr).alias("assortativity"),
    )


@query(
    "graph_adamic_adar_top_link",
    oracle="""
WITH cp AS (
  SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), deg AS (
  SELECT p, count(*) AS d FROM cp GROUP BY p
), pairs AS (
  SELECT a.c AS ca, b.c AS cb,
         count(*) AS n_common,
         sum(1.0 / ln(d.d)) AS aa
  FROM cp a
  JOIN cp b ON a.p = b.p AND a.c < b.c
  JOIN deg d ON d.p = a.p
  GROUP BY 1, 2
), ranked AS (
  SELECT ca, cb, n_common, aa,
         row_number() OVER (PARTITION BY ca ORDER BY n_common DESC, cb ASC) AS rn
  FROM pairs WHERE n_common >= 3
)
SELECT ca AS custkey, cb AS predicted_custkey,
       CAST(n_common AS BIGINT) AS n_common,
       round(aa, 4) AS aa_score
FROM ranked WHERE rn = 1 ORDER BY custkey
""",
)
def graph_adamic_adar_top_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the customer co-purchase graph: for each
    customer, the single most-supported missing link — the other
    customer sharing the most distinct purchased parts (>= 3), scored
    by the Adamic-Adar index sum(1/ln(deg(part))) over the shared
    parts, which discounts ubiquitous parts the way IDF discounts
    stopwords (Adamic & Adar, Social Networks 2003). Selection is
    ranked on the INTEGER evidence key (n_common DESC, candidate id
    ASC): cross-engine float sums of 1/ln terms accumulate in
    different orders, so the discrete pick must never hinge on a
    last-ulp score difference — the float score is emitted, not
    ranked on (SURVEY §5.3 determinism discipline).

    Scale: candidate pairs are generated per shared PART (inverted
    index, posting list = the part's distinct-customer degree), never
    by cross join; the degree table is |parts|-bounded and
    broadcast-joinable. Hub parts quadratically dominate Σd² — at
    100 TB the standard refinement caps or drops the top-percentile
    hubs, which Adamic-Adar already weights toward zero (1/ln d), so
    the cap bounds the skew without moving the scores. The per-ca
    top-1 window is key-partitioned. Reference parity: task.ts has no
    graph surface; extension tier."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cp = barrier(
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_partkey").alias("p"))
        .distinct()
        # three consumers (both pair-join sides + the degree table)
        # each inlined — and executed — the join+distinct build;
        # one checkpoint bounds it to a single evaluation (r12)
    )
    deg = cp.groupBy("p").agg(F.count(F.lit(1)).alias("d"))
    a = cp.select(F.col("c").alias("ca"), "p")
    b = cp.select(F.col("c").alias("cb"), F.col("p").alias("p_b"))
    pairs = (
        a.join(b, (F.col("p") == F.col("p_b")) & (F.col("ca") < F.col("cb")))
        .join(deg, "p")
        .groupBy("ca", "cb")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(F.lit(1.0) / F.log(F.col("d"))).alias("aa"),
        )
        .filter(F.col("n_common") >= 3)
    )
    from pyspark.sql import Window

    rn = F.row_number().over(
        Window.partitionBy("ca").orderBy(F.desc("n_common"), F.asc("cb"))
    )
    return (
        pairs.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select(
            F.col("ca").alias("custkey"),
            F.col("cb").alias("predicted_custkey"),
            F.col("n_common").cast("bigint").alias("n_common"),
            r4(F.col("aa")).alias("aa_score"),
        )
        .orderBy(F.asc("custkey"))
    )


def _lpa_edges_labels(spark: SparkSession, sf_dir: str):
    """Shared 2-round weighted LPA over the customer<->supplier graph:
    returns (directed-doubled weighted edges, round-2 labels) — used by
    graph_label_propagation (community sizes) and graph_modularity
    (partition quality)."""
    li = table(spark, sf_dir, "lineitem")
    od = table(spark, sf_dir, "orders")
    e0 = (
        li.join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy(
            (F.col("o_custkey").cast("bigint") * 2).alias("src"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # partition-once + share-once (optimization r12, guide §2.1/§2.6):
    # both LPA rounds join on edges["src"], and graph_modularity joins
    # the SAME edge list again downstream — one clustered+sorted
    # barrier stops every consumer from re-running the
    # lineitem⋈orders build and re-shuffling the edge list. The final
    # labels are checkpointed too: modularity stamps them onto BOTH
    # edge endpoints, which otherwise re-evaluates the whole 2-round
    # vote/argmax chain twice.
    edges = barrier(
        direction_double(e0, "src", "dst", ("w",))  # one e0 evaluation (r12)
        .repartition(_graph_parts(spark, sf_dir), "src")
        .sortWithinPartitions("src")
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    from pyspark.sql import Window

    for _ in range(2):
        votes = (
            edges.join(labels, edges["src"] == labels["node"])
            .groupBy(F.col("dst").alias("vnode"), "label")
            .agg(F.sum("w").alias("wsum"))
        )
        # narrow keys (r12 session 4): the join/aggregate above runs on
        # BIGINT ids, but the oracle's argmax tie-break is on the label
        # STRING ('c10' < 'c2' lexically != 4 < 20) — so the window
        # ORDERS by the re-materialized string, computed only on the
        # post-aggregate (vnode, label) frame, while the carried label
        # column stays the int.
        rn = F.row_number().over(
            Window.partitionBy("vnode").orderBy(
                F.desc("wsum"), F.asc(_node_str(F.col("label")))
            )
        )
        labels = (
            votes.withColumn("rn", rn)
            .filter(F.col("rn") == 1)
            .select(F.col("vnode").alias("node"), "label")
        )
    return edges, barrier(labels)


def _oracle_lpa() -> str:
    rounds = []
    prev = "l0"
    for k in range(1, 3):
        rounds.append(
            f"""v{k} AS (
  SELECT e.dst AS node, {prev}.label, sum(e.w) AS wsum
  FROM edges e JOIN {prev} ON e.src = {prev}.node
  GROUP BY 1, 2
), l{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY wsum DESC, label ASC) AS rn
    FROM v{k}
  ) WHERE rn = 1
)"""
        )
        prev = f"l{k}"
    rounds_sql = ",\n".join(rounds)
    return f"""
WITH e0 AS (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS src,
         's' || CAST(l_suppkey AS VARCHAR) AS dst,
         CAST(count(*) AS BIGINT) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), edges AS (
  SELECT src, dst, w FROM e0
  UNION ALL
  SELECT dst AS src, src AS dst, w FROM e0
), l0 AS (
  SELECT DISTINCT src AS node, src AS label FROM edges
),
{rounds_sql}
SELECT label AS community, CAST(count(*) AS BIGINT) AS n_nodes
FROM l2
GROUP BY label
ORDER BY n_nodes DESC, community ASC
LIMIT 20
"""


@query("graph_label_propagation", oracle=_oracle_lpa())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C142: TWO synchronous rounds of weighted label propagation
    (Raghavan et al. 2007) over the customer<->supplier bipartite
    graph — community detection, the complement of the min-label
    CONNECTED-COMPONENTS propagation in dedup_cluster_components
    (frequency argmax finds dense communities; min-label finds mere
    reachability). Every node starts as its own label; each round a
    node adopts the label with the highest incident edge weight among
    its neighbors, ties broken by lexicographically smallest label —
    fully deterministic, so the unrolled rounds are oracle-expressible
    as chained CTEs. Output: the 20 largest communities after round 2.

    Scale: each round is one edge-labels equi-join + one (node, label)
    weighted count + a node-PARTITIONED rank (argmax per node, never a
    global sort); edge weights are exact bigints so the argmax has no
    float ambiguity. At cluster scale the per-round label vector would
    take a barrier of its own, like the HITS score vectors."""
    edges, labels = _lpa_edges_labels(spark, sf_dir)
    return (
        labels.groupBy(F.col("label").alias("cid"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
        .select(_node_str(F.col("cid")).alias("community"), "n_nodes")
        .orderBy(F.desc("n_nodes"), F.asc("community"))
        .limit(20)
    )


def _oracle_modularity() -> str:
    # same CTE chain as _oracle_lpa, different final aggregation
    lpa = _oracle_lpa()
    head, _, _tail = lpa.rpartition("SELECT label AS community")
    return head + """SELECT
  round(sum(q_c), 4) AS modularity,
  CAST(count(*) AS BIGINT) AS n_communities
FROM (
  SELECT c.label,
         sum(CASE WHEN c.label = c2.label THEN e.w ELSE 0 END)
           / CAST(t.tw AS DOUBLE)
         - power(sum(e.w) / CAST(t.tw AS DOUBLE), 2) AS q_c
  FROM edges e
  JOIN l2 c  ON e.src = c.node
  JOIN l2 c2 ON e.dst = c2.node
  CROSS JOIN (SELECT CAST(sum(w) AS BIGINT) AS tw FROM edges) t
  GROUP BY c.label, t.tw
)
"""


@query("graph_modularity", oracle=_oracle_modularity())
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C143: Newman modularity Q of the round-2 LPA partition —
    Q = Σ_c [intra_c/W − (deg_c/W)²] over the directed-doubled
    weighted edge list (W = total directed weight = 2m). The quality
    score community detection is judged by (Newman & Girvan 2004);
    paired with graph_label_propagation, it gives detect + evaluate.

    Determinism: intra_c, deg_c and W are exact bigint sums; each
    community's term is a bit-identical double expression; the
    ≤|communities| term sum carries last-bit noise only — r4 absorbs.

    Scale: two label-keyed broadcast-able equi-joins stamp src/dst
    communities onto edges (labels ≤ nodes, typically ≪ edges), one
    map-side-combined per-community aggregate, one 1-row total-weight
    broadcast. Nothing beyond the LPA rounds themselves is iterative."""
    edges, labels = _lpa_edges_labels(spark, sf_dir)
    lsrc = labels.select(
        F.col("node").alias("src"), F.col("label").alias("c_src")
    )
    ldst = labels.select(
        F.col("node").alias("dst"), F.col("label").alias("c_dst")
    )
    tw = edges.agg(F.sum("w").cast("bigint").alias("tw"))
    stamped = (
        edges.join(lsrc, "src")
        .join(ldst, "dst")
        .crossJoin(F.broadcast(tw))
    )
    per_c = stamped.groupBy(F.col("c_src").alias("label"), "tw").agg(
        F.sum(
            F.when(F.col("c_src") == F.col("c_dst"), F.col("w")).otherwise(
                F.lit(0)
            )
        ).alias("intra"),
        F.sum("w").alias("deg"),
    )
    q_c = (
        F.col("intra") / F.col("tw").cast("double")
        - F.pow(F.col("deg") / F.col("tw").cast("double"), F.lit(2))
    )
    return per_c.agg(
        r4(F.sum(q_c)).alias("modularity"),
        F.count(F.lit(1)).cast("bigint").alias("n_communities"),
    )


# ---------------------------------------------------------------------------
# C205: HITS (Kleinberg 1999, hubs & authorities) — the OTHER
# canonical power iteration beside PageRank (C-graph tier), and the
# natural one for a DIRECTED bipartite graph: customers are pure hubs
# (only out-edges), suppliers pure authorities (only in-edges), so
# the mutual-reinforcement recurrence a = E'h / ||.||, h = Ea / ||.||
# has a clean ground truth (authority ~ weighted in-degree mass).

_HITS_ITERS = 3


def _hits_oracle() -> str:
    steps = []
    prev_h = "h0"
    for k in range(1, _HITS_ITERS + 1):
        steps.append(f"""
ar{k} AS (
  SELECT e.s AS node, sum(e.w * {prev_h}.score) AS raw
  FROM edges e JOIN {prev_h} ON e.c = {prev_h}.node GROUP BY e.s
),
a{k} AS (SELECT node, raw / (SELECT max(raw) FROM ar{k}) AS score FROM ar{k}),
hr{k} AS (
  SELECT e.c AS node, sum(e.w * a{k}.score) AS raw
  FROM edges e JOIN a{k} ON e.s = a{k}.node GROUP BY e.c
),
h{k} AS (SELECT node, raw / (SELECT max(raw) FROM hr{k}) AS score FROM hr{k})"""
        )
        prev_h = f"h{k}"
    steps_sql = ",".join(steps)
    k = _HITS_ITERS
    return f"""
WITH edges AS (
  SELECT o_custkey AS c, l_suppkey AS s, CAST(count(*) AS DOUBLE) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
h0 AS (SELECT DISTINCT c AS node, 1.0 AS score FROM edges),
{steps_sql}
SELECT * FROM (
  SELECT 'authority' AS kind, 's' || CAST(node AS VARCHAR) AS node,
         round(score, 4) AS score
  FROM a{k} ORDER BY score DESC, node LIMIT 20
)
UNION ALL
SELECT * FROM (
  SELECT 'hub' AS kind, 'c' || CAST(node AS VARCHAR) AS node,
         round(score, 4) AS score
  FROM h{k} ORDER BY score DESC, node LIMIT 20
)
"""


@query("graph_hits_scores", oracle=_hits_oracle())
def graph_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C205: HITS hubs/authorities, {iters} unrolled mutual-
    reinforcement rounds over the customer->supplier purchase graph
    (edge weight = order-line count); top-20 of each side, scores
    max-normalized per round (the max of a float set is order-
    independent, unlike the L2 norm — so normalization adds NO
    accumulation surface beyond the sums themselves, which carry
    ~1e-13 relative noise against the 1e-4 grid: the C-graph
    PageRank argument).

    Scale: per round, two edge-keyed shuffle joins + two map-side-
    combined aggregates, each partitioned on its own key — the
    transition structure is built once; at cluster SF both the edge
    list and the score vectors co-partition on (c) resp. (s) and the
    1-row max broadcasts. Hub skew (a mega-customer) routes to AQE
    skew handling exactly as C-graph PageRank documents."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    # partition-once, iterate-many (optimization r12, guide §2.1): the
    # a-step joins on c, the h-step on s — one clustered+sorted copy
    # per key behind a lazy barrier, so neither join exchanges or sorts
    # the edge list inside the loop; only the |nodes|-row score vectors
    # shuffle.
    gp = _graph_parts(spark, sf_dir)
    edges_c = barrier(edges.repartition(gp, "c").sortWithinPartitions("c"), eager=False)
    edges_s = barrier(edges.repartition(gp, "s").sortWithinPartitions("s"), eager=False)
    hub = edges_c.select("c").distinct().select(
        F.col("c").alias("node"), F.lit(1.0).alias("score")
    )
    # max-normalize INSIDE the half-round plan (optimization r12):
    # the r10 spelling ran a separate max-aggregate job whose plan
    # re-evaluated the matrix-vector join, so every half-round paid
    # the matvec TWICE (once for amax, once for the checkpointed
    # normalize). An unpartitioned max window over the per-round
    # aggregate — bounded input: |suppliers| resp. |customers| rows,
    # the audit-allowlisted pattern — evaluates the matvec once per
    # half-round, in the single barrier job.
    from pyspark.sql import Window

    wall = Window.partitionBy()
    auth = hub  # round 0: plain plans, so freeing them is a no-op
    for _ in range(_HITS_ITERS):
        # eager lineage truncation per half-round: the score vectors
        # are |nodes|-row; without it the unrolled plan re-evaluates
        # every earlier round per downstream branch. Each barrier frees
        # its own previous round, dead since the other half-round read it.
        ar = (
            edges_c.join(hub, edges_c["c"] == hub["node"])
            .groupBy(edges_c["s"].alias("node"))
            .agg(F.sum(edges_c["w"] * hub["score"]).alias("raw"))
        )
        auth = barrier(
            ar.select("node", (F.col("raw") / F.max("raw").over(wall)).alias("score")),
            auth,
        )
        hr = (
            edges_s.join(auth, edges_s["s"] == auth["node"])
            .groupBy(edges_s["c"].alias("node"))
            .agg(F.sum(edges_s["w"] * auth["score"]).alias("raw"))
        )
        hub = barrier(
            hr.select("node", (F.col("raw") / F.max("raw").over(wall)).alias("score")),
            hub,
        )
    top_a = (
        auth.select(
            F.lit("authority").alias("kind"),
            F.concat(F.lit("s"), F.col("node").cast("string")).alias("node"),
            r4(F.col("score")).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(20)
    )
    top_h = (
        hub.select(
            F.lit("hub").alias("kind"),
            F.concat(F.lit("c"), F.col("node").cast("string")).alias("node"),
            r4(F.col("score")).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(20)
    )
    return barrier(top_a.unionAll(top_h), edges_c, edges_s, auth, hub)


# ---------------------------------------------------------------------------
# C222: betweenness centrality, sampled Brandes (Brandes 2001;
# Bader-Pich pivot sampling) — the path-centrality the C-graph tier
# lacked beside degree/PageRank/HITS: BFS shortest-path DAGs from a
# fixed pivot set, then backward dependency accumulation, both as
# bounded join rounds. The dependency rationals are carried as
# Q-scaled INTEGERS with DIV (error 1/Q per term, 5 orders below r4)
# so the whole computation — sigma counts, deltas, totals — is
# exact-integer and bit-identical cross-engine.

_BC_SOURCES = 8     # pivot sources: customers c0..c7 (exist at every SF)
_BC_DEPTH = 4       # BFS rounds (diameter cap on the bipartite graph)
_BC_Q = 1_000_000   # dependency fixed-point scale


def _bc_oracle() -> str:
    """Unrolled Brandes oracle, DECORRELATED spelling (r12, VERDICT r11
    order #3): the r11 oracle wrote the frontier dedup as a correlated
    NOT EXISTS and the dependency sum as a correlated scalar subquery;
    DuckDB failed to decorrelate the combination at sf0.1 (>79 GB
    spill, >300 s). Same exact-integer arithmetic, but the anti-join
    is a LEFT JOIN ... IS NULL and the per-(src,node) dependency sum a
    pre-aggregated LEFT JOIN — finishes sf0.1 in seconds."""
    parts = [f"""
WITH e0 AS MATERIALIZED (
  SELECT 'c' || CAST(o_custkey AS VARCHAR) AS a,
         's' || CAST(l_suppkey AS VARCHAR) AS b
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
), edges AS MATERIALIZED (
  SELECT a AS u, b AS v FROM e0 UNION ALL SELECT b, a FROM e0
), f0 AS MATERIALIZED (
  SELECT 'c' || CAST(c_custkey AS VARCHAR) AS src,
         'c' || CAST(c_custkey AS VARCHAR) AS node,
         CAST(1 AS BIGINT) AS sigma, 0 AS lvl
  FROM customer WHERE c_custkey < {_BC_SOURCES}
), v0 AS MATERIALIZED (SELECT * FROM f0)"""]
    for k in range(1, _BC_DEPTH + 1):
        parts.append(f""",
f{k} AS MATERIALIZED (
  SELECT f.src, e.v AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma,
         {k} AS lvl
  FROM f{k - 1} f JOIN edges e ON e.u = f.node
  LEFT JOIN v{k - 1} x ON x.src = f.src AND x.node = e.v
  WHERE x.node IS NULL
  GROUP BY f.src, e.v
),
v{k} AS MATERIALIZED (SELECT * FROM v{k - 1} UNION ALL SELECT * FROM f{k})"""
        )
    parts.append(f""",
vis AS MATERIALIZED (SELECT * FROM v{_BC_DEPTH}),
d{_BC_DEPTH} AS MATERIALIZED (
  SELECT src, node, lvl, sigma, CAST(0 AS BIGINT) AS dq
  FROM vis WHERE lvl = {_BC_DEPTH}
)""")
    prev = f"d{_BC_DEPTH}"
    for k in range(_BC_DEPTH - 1, -1, -1):
        parts.append(f""",
d{k}_agg AS MATERIALIZED (
  SELECT vv.src, vv.node,
         CAST(sum((vv.sigma * ({_BC_Q} + w.dq)) // w.sigma) AS BIGINT) AS s
  FROM vis vv
  JOIN edges e ON e.u = vv.node
  JOIN {prev} w ON w.src = vv.src AND w.node = e.v
                AND w.lvl = vv.lvl + 1
  WHERE vv.lvl = {k}
  GROUP BY vv.src, vv.node
),
d{k} AS MATERIALIZED (
  SELECT vv.src, vv.node, vv.lvl, vv.sigma, coalesce(agg.s, 0) AS dq
  FROM vis vv
  LEFT JOIN d{k}_agg agg ON agg.src = vv.src AND agg.node = vv.node
  WHERE vv.lvl = {k}
)"""
        )
        prev = f"""d{k}_all"""
        parts.append(f""",
d{k}_all AS MATERIALIZED (SELECT * FROM d{k} UNION ALL
             SELECT * FROM {"d" + str(k + 1) if k + 1 == _BC_DEPTH else f"d{k + 1}_all"})"""
        )
    parts.append(f""",
bc AS (
  SELECT node, CAST(sum(dq) AS BIGINT) AS bcq
  FROM d0_all WHERE node <> src GROUP BY node
)
SELECT node, round(CAST(bcq AS DOUBLE) / {_BC_Q}, 4) AS betweenness
FROM bc ORDER BY bcq DESC, node LIMIT 20"""
    )
    return "".join(parts)


@query("graph_betweenness_sampled", oracle=_bc_oracle())
def graph_betweenness_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C222: Brandes betweenness from {s} pivot sources over the
    customer<->supplier bipartite graph, depth {d}: forward BFS
    builds the shortest-path DAG per source (sigma = exact BIGINT
    path counts, first-reach levels via per-source anti-join),
    backward accumulation applies delta(v) = sum over successors w of
    sigma_v/sigma_w * (1 + delta_w) with deltas carried as Q-scaled
    integers and each term one integer DIV — truncation error 1/Q per
    term, five orders below the r4 output grid, and ZERO float
    operations anywhere. Top-20 by accumulated dependency (ranked on
    the exact INTEGER bcq, never the emitted double).

    Narrow keys (optimization r12, guide §2.3): the loops carry nodes
    as BIGINT ids (customer k -> 2k, supplier k -> 2k+1 — a bijection
    onto the oracle's 'c'||k / 's'||k strings), so the ~8 deg-expanded
    join rounds shuffle and hash 8-byte longs instead of variable-width
    strings; the string spelling is re-materialized only on the 20-row
    output, and the final tie-break orders by that STRING so row order
    is bit-identical to the oracle. Everything the arithmetic touches
    (sigma, dq, grouping) is key-bijection-invariant.

    Packed keys (optimization r13, VERDICT r12 order #3): the
    per-source state key (src, node) is carried as ONE long,
    pk = node * 16 + src DIV 2 — src is one of the {s} even pivot ids
    2k (k < 8), so src DIV 2 occupies 4 bits and the packing is a
    bijection. Every loop join, anti-join and aggregate then keys on a
    single 8-byte column instead of a two-column composite: half the
    key bytes through each of the ~8 deg-expanded exchanges and
    single-word hash/compare in every hash table. node and src are
    recovered exactly (pk DIV 16, (pk % 16) * 2) — only where an edge
    endpoint or the final readout needs them.

    Scale: every round is one edge join + one hash aggregate, all
    keyed (src, node) — sources process TOGETHER as one column, so
    pivot count scales the data volume, not the round count; depth is
    the diameter cap. A barrier per round truncates the lineage
    (C205 discipline). Pivot sampling is the standard
    Bader-Pich/Brandes estimator shape for 100 TB graphs: exact
    per-pivot, sampled over pivots.""".format(s=_BC_SOURCES, d=_BC_DEPTH)
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            (F.col("o_custkey").cast("bigint") * 2).alias("a"),
            (F.col("l_suppkey").cast("bigint") * 2 + 1).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("_w"))
        .select("a", "b")
    )
    # partition-once, iterate-many (optimization r12, guide §2.1):
    # every one of the 8 loop joins keys on edges["u"] — cluster+sort
    # on u behind a lazy barrier so no round exchanges or sorts the
    # edge list; only the (src,node)-bounded frontier/delta frames
    # shuffle.
    edges = barrier(
        direction_double(
            e0.select(F.col("a").alias("u"), F.col("b").alias("v")), "u", "v"
        )  # one e0 evaluation (r12)
        .repartition(_graph_parts(spark, sf_dir), "u")
        .sortWithinPartitions("u"),
        eager=False,
    )
    # packed state key (optimization r13): pk = node*16 + src DIV 2
    # — a bijection of (src, node) into one long (src = 2k, k < 8).
    # Initially node == src.
    f = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _BC_SOURCES)
        .select((F.col("c_custkey").cast("bigint") * 2).alias("src"))
        .select(
            (F.col("src") * 16 + F.expr("src DIV 2")).alias("pk"),
            F.lit(1).cast("bigint").alias("sigma"),
            F.lit(0).alias("lvl"),
        )
    )
    visited = barrier(f)
    frontier = visited
    rounds = [visited]  # every round barrier; the result's barrier frees them
    for k in range(1, _BC_DEPTH + 1):
        cand = (
            edges.join(frontier, edges["u"] == F.expr("pk DIV 16"))
            .select(
                (edges["v"] * 16 + F.expr("pk % 16")).alias("pk"), "sigma"
            )
        )
        # aggregate BEFORE the anti-join (optimization r12, guide
        # §2.3): the two commute — the anti-join drops whole
        # (src,node) keys, so summing sigma first computes the same
        # sigma for surviving keys — and the map-side combine
        # shrinks the shuffled volume from |cand| raw rows (deg-
        # expanded, ~1M at sf0.1 round 2) to <= |src|x|nodes|
        # partials at ANY scale.
        nxt = barrier(
            cand.groupBy("pk")
            .agg(F.sum("sigma").cast("bigint").alias("sigma"))
            .join(
                visited.select(F.col("pk").alias("vpk")),
                F.col("pk") == F.col("vpk"),
                "left_anti",
            )
            .withColumn("lvl", F.lit(k))
        )
        # no checkpoint on the union: both legs are themselves
        # checkpointed, so the lineage is already truncated — the
        # r10 checkpoint here re-materialized the whole visited
        # set once per round (optimization r12)
        visited = visited.unionByName(nxt)
        frontier = nxt
        rounds.append(nxt)
    # backward accumulation
    deltas = barrier(
        visited.filter(F.col("lvl") == _BC_DEPTH)
        .select("pk", "lvl", "sigma",
                F.lit(0).cast("bigint").alias("dq"))
    )
    acc = deltas
    rounds.append(deltas)
    for k in range(_BC_DEPTH - 1, -1, -1):
        lower = visited.filter(F.col("lvl") == k)
        succ = deltas.filter(F.col("lvl") == k + 1).select(
            F.col("pk").alias("wpk"),
            F.col("sigma").alias("wsig"), F.col("dq").alias("wdq"),
        )
        # shuffled-hash hint on the successor side (optimization
        # r12, guide §3.2): succ is the pivot-bounded delta table,
        # far smaller than the deg-expanded lower⋈edges stream —
        # SHJ builds on succ and skips the SMJ sort of the big
        # intermediate (per partition, at any scale). The join key
        # is the packed successor state (v*16 + src DIV 2) == wpk:
        # one long instead of the (src, wn) composite.
        contrib = (
            lower.join(edges, edges["u"] == F.expr("pk DIV 16"))
            .join(
                succ.hint("shuffle_hash"),
                (edges["v"] * 16 + F.expr("pk % 16")) == F.col("wpk"),
            )
            .groupBy("pk", "lvl", "sigma")
            .agg(
                F.sum(
                    F.expr(f"(sigma * ({_BC_Q} + wdq)) DIV wsig")
                ).cast("bigint").alias("dq")
            )
        )
        lvl_d = barrier(
            lower.join(
                contrib.select(
                    F.col("pk").alias("cpk"), F.col("dq").alias("cdq")
                ),
                F.col("pk") == F.col("cpk"),
                "left",
            )
            .select(
                "pk", "lvl", "sigma",
                F.coalesce(F.col("cdq"), F.lit(0)).cast("bigint").alias("dq"),
            )
        )
        deltas = lvl_d
        acc = acc.unionByName(lvl_d)  # legs checkpointed; no re-mat
        rounds.append(lvl_d)
    bc = (
        acc.select(
            F.expr("pk DIV 16").alias("node"),
            ((F.col("pk") % 16) * 2).alias("src"),
            "dq",
        )
        .filter(F.col("node") != F.col("src"))
        .groupBy("node")
        .agg(F.sum("dq").cast("bigint").alias("bcq"))
    )
    # re-materialize the oracle's string spelling on the |nodes|-row
    # aggregate only, and tie-break on the STRING so the top-20 row
    # order matches the oracle bit-for-bit ('c10' < 'c2' lexically).
    node_str = F.concat(
        F.when(F.col("node") % 2 == 0, F.lit("c")).otherwise(F.lit("s")),
        F.expr("node div 2").cast("string"),
    )
    return barrier(
        bc.select(
            node_str.alias("node"),
            r4(F.col("bcq").cast("double") / _BC_Q).alias("betweenness"),
            "bcq",
        )
        .orderBy(F.desc("bcq"), F.asc("node"))
        .limit(20)
        .select("node", "betweenness"),
        edges,
        *rounds,
    )


# r12 C272: clustering coefficient — the triangle-density readout on
# the same brand-bounded part-co-occurrence graph as
# graph_triangle_count: transitivity = 3*triangles/wedges, where
# wedges = sum_v deg(v)*(deg(v)-1)/2. Triangles reuse the oriented
# (u<v) edge-join spelling; degrees come from one aggregate over the
# undirected edge list. All exact BIGINTs until one IEEE division.

_CLUSTCOEF_SQL = """
WITH pb AS (
  SELECT p_partkey FROM part WHERE p_brand = (SELECT min(p_brand) FROM part)
), op AS (
  SELECT DISTINCT l_orderkey, l_partkey
  FROM lineitem JOIN pb ON l_partkey = p_partkey
), e AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
  SELECT CAST(count(1) AS BIGINT) AS n_tri
  FROM e e1
  JOIN e e2 ON e1.v = e2.u
  JOIN e e3 ON e1.u = e3.u AND e2.v = e3.v
), deg AS (
  SELECT p, CAST(count(1) AS BIGINT) AS d
  FROM (SELECT u AS p FROM e UNION ALL SELECT v FROM e)
  GROUP BY p
), w AS (
  SELECT CAST(count(1) AS BIGINT) AS n_nodes,
         CAST(sum(d) AS BIGINT) / 2 AS n_edges,
         CAST(sum(d * (d - 1) / 2) AS BIGINT) AS n_wedges
  FROM deg
)
SELECT w.n_nodes, w.n_edges, w.n_wedges, tri.n_tri AS n_triangles,
       round(3 * tri.n_tri / CAST(w.n_wedges AS DOUBLE), 6)
         AS transitivity
FROM w, tri
"""


@query("graph_clustering_coefficient", oracle=_CLUSTCOEF_SQL)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C272: global clustering coefficient (transitivity) of the
    brand-bounded co-purchase graph — closes the triad census the
    graph tier started with triangle counting: how much of the
    wedge mass closes into triangles (the community-structure
    scalar next to modularity C143).

    Scale: the edge list is brand-bounded; the triangle join is the
    oriented u<v spelling (each triangle counted once, no mirror
    blowup); degrees are one aggregate; the tail is a 1-row
    broadcast merge — same plan family as graph_triangle_count."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _CLUSTCOEF_SQL, ("lineitem", "part"))


# r12 C279: graph diameter + average shortest path (exact APSP by
# iterative BFS) — the distance census of the brand-bounded
# co-purchase graph: the Pregel/frontier-expansion pattern every
# distributed graph engine runs, expressed as a Spark join loop.
# The node set is the 100 smallest partkeys of the min brand — a
# deterministic cap that keeps the APSP state (<= |nodes|^2 pairs)
# bounded at ANY SF (an uncapped brand holds ~8k parts at sf1 and
# the pair table would outgrow bounded-state BFS)
# (frontier JOIN edges -> dedup-min -> union) that terminates when
# an iteration discovers no new (src,dst) pair. The oracle spells
# the same BFS as a DuckDB recursive CTE. Node set is brand-bounded
# (dozens), so every iteration's state is a bounded table; the
# data-sized work is only the edge extraction (shared with
# C272/triangles).

_APSP_EDGES_SQL = """
WITH pb AS (
  SELECT p_partkey FROM part WHERE p_brand = (SELECT min(p_brand) FROM part)
  ORDER BY p_partkey LIMIT 100
), op AS (
  SELECT DISTINCT l_orderkey, l_partkey
  FROM lineitem JOIN pb ON l_partkey = p_partkey
), e0 AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0
"""

_APSP_ORACLE = f"""
WITH RECURSIVE {_APSP_EDGES_SQL[_APSP_EDGES_SQL.index("pb AS ("):_APSP_EDGES_SQL.rindex(")") + 1]},
e AS (SELECT u, v FROM e0 UNION ALL SELECT v, u FROM e0),
walk(src, dst, d) AS (
  SELECT u, v, 1 FROM e
  UNION
  SELECT w.src, e.v, w.d + 1
  FROM walk w JOIN e ON e.u = w.dst
  WHERE w.d < 40 AND e.v <> w.src
),
sp AS (
  SELECT src, dst, CAST(min(d) AS BIGINT) AS d
  FROM walk GROUP BY src, dst
)
SELECT CAST((SELECT count(DISTINCT u) FROM e) AS BIGINT) AS n_nodes,
       CAST(count(1) AS BIGINT) AS n_connected_pairs,
       CAST(max(d) AS BIGINT) AS diameter,
       round(avg(CAST(d AS DOUBLE)), 6) AS avg_shortest_path
FROM sp
"""


@query("graph_diameter_apsp", oracle=_APSP_ORACLE)
def graph_diameter_apsp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C279: exact all-pairs shortest paths on the brand-bounded
    graph — diameter, connected ordered-pair count, and mean
    geodesic distance. Spark runs the one data-sized stage (edge
    extraction: an orderkey-shuffle self-join, shared shape with
    triangle count) and the final aggregate; the BFS frontier loop
    itself runs DRIVER-SIDE over the collected <=100-node edge list
    (optimization r12 — see the block comment below), which is
    legitimate bounded-driver work because the node cap is part of
    the operator's contract. At a scale where the cap were lifted,
    the loop swaps back to checkpointed DataFrame rounds with
    dist/edges as bucketed tables.

    Scale: edge extraction is the only data-sized stage; the
    driver-side BFS touches only the cap-bounded pair set; the final
    reduction is one Spark aggregate so round()/avg semantics match
    the oracle's engine-side arithmetic."""
    from ..tables import sql_over

    # The BFS state is bounded by |reachable pairs| of a <=100-node
    # set BY DESIGN (the cap above) — that bound is what made the r12
    # build spelling collect() every round's new pairs to the driver
    # already. Optimization r12 session 4: one collect of the bounded
    # edge list, then the WHOLE frontier loop runs driver-side in
    # Python (plain BFS over an adjacency dict) — the per-round Spark
    # jobs (join + distinct + anti-join + collect, ~5 scheduling
    # floors x rounds, on data that never exceeds 10^4 rows) were pure
    # overhead. The one data-sized stage — edge extraction — stays in
    # Spark; the final reduction stays a Spark aggregate so the
    # round()/avg semantics match the oracle's engine-side arithmetic.
    # At a scale where the pair table outgrows the driver the loop
    # swaps back to checkpointed DataFrame rounds — the cap is the
    # contract that it cannot here.
    edges = sql_over(spark, sf_dir, _APSP_EDGES_SQL, ("lineitem", "part"))
    adj: dict[int, list[int]] = {}
    for r in edges.collect():
        adj.setdefault(r["u"], []).append(r["v"])
    from collections import deque

    dist_rows = []
    for src in adj:
        seen = {src: 0}
        dq = deque([src])
        while dq:
            u = dq.popleft()
            du = seen[u]
            if du >= 40:
                continue
            for v in adj.get(u, ()):
                if v not in seen:
                    seen[v] = du + 1
                    dq.append(v)
        dist_rows.extend((src, dst, d) for dst, d in seen.items() if dst != src)
    n_nodes = len(adj)
    dist = spark.createDataFrame(dist_rows, "src bigint, dst bigint, d bigint")
    return dist.agg(
        F.lit(n_nodes).cast("bigint").alias("n_nodes"),
        F.count(F.lit(1)).cast("bigint").alias("n_connected_pairs"),
        F.max("d").cast("bigint").alias("diameter"),
        F.round(F.avg(F.col("d").cast("double")), 6)
        .alias("avg_shortest_path"),
    )
