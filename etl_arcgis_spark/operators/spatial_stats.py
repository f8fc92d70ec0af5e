"""Spatial statistics — the ArcGIS "Spatial Statistics toolbox" tier
(C144-C148, C150-C151).

The reference is an ArcGIS feature-layer ETL (task.ts:406-414 forwards
the layer query surface verbatim); the flagship ANALYTICS the ArcGIS
platform runs on those layers are its spatial-statistics tools:
Spatial Autocorrelation (Global Moran's I; Moran, Biometrika 1950),
Hot Spot Analysis (Getis-Ord Gi*; Getis & Ord, Geographical Analysis
1992), and Multi-Distance Spatial Cluster Analysis (Ripley's K;
Ripley, J. Royal Stat. Soc. B 1977). This module re-expresses all
three as distributed DataFrame plans over the same derived-coordinate
point layer the B11 spatial filters use (driver tables carry no
geometry; lon/lat are exact half-integer doubles derived from the
key, the filters.py convention).

Scale design (the part that matters at 100 TB): every one of these
statistics needs the neighbor-pair set {(i,j) : dist(i,j) <= band}.
The textbook spelling is an O(n^2) spatial weights matrix; the
distributed spelling here is GRID-CELL BLOCKING (cell == band, 3x3
neighborhood expansion, exact-distance verify) — the same bounded
pair generator as join_spatial_grid_distance, whose per-cell cost is
local density, never n^2. The DuckDB oracles deliberately use the
brute-force O(n^2) definition, so the differential check proves the
blocked plan EQUALS the semantic spec, not merely that two engines
did the same arithmetic. All global moments combine through 1-row
broadcast joins (audit-allowlisted); distances compare as exact
SQUARED doubles (half-integer coords -> d2 and band^2 are exact, no
sqrt in any predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..helpers import LAT, LON, r4
from ..registry import query
from ..tables import row_count, table
from .scale_patterns import barrier

_BAND = 2.5  # distance band for Moran/Gi* (degrees); band^2 = 6.25 exact

# Derived point layer: the customer lon/lat lattice (helpers.LON/LAT),
# attribute x = account balance.
_P_SQL = f"""
  SELECT c_custkey AS k, CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat, c_acctbal AS x
  FROM customer
"""


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.expr(LON).cast("double").alias("lon"),
        F.expr(LAT).cast("double").alias("lat"),
        F.col("c_acctbal").alias("x"),
    )


def _band_pairs(p: DataFrame, cell: float, band2: float) -> DataFrame:
    """Unordered neighbor pairs (key_a < key_b, squared distance <=
    band2) via grid-cell blocking: bin to band-sized cells, expand the
    right side to its 3x3 cell neighborhood, equi-join on the cell
    key, verify exact squared distance. Each qualifying pair matches
    exactly once (the 9 expansion cells are distinct). Returns
    (ka, kb, xa, xb, d2).

    Scale: shuffled equi-join on the cell key; per-cell work bounded
    by local point density (hot cells -> AQE skew split, or re-grid at
    cell/2 — the join_spatial_grid_distance playbook, joins.py:425)."""
    binned = p.withColumn("cx", F.floor(F.col("lon") / cell).cast("bigint")).withColumn(
        "cy", F.floor(F.col("lat") / cell).cast("bigint")
    )
    a = binned.select(
        F.col("k").alias("ka"), F.col("x").alias("xa"),
        F.col("lon").alias("lon_a"), F.col("lat").alias("lat_a"),
        F.col("cx").alias("cxa"), F.col("cy").alias("cya"),
    )
    b = (
        binned.select(
            F.col("k").alias("kb"), F.col("x").alias("xb"),
            F.col("lon").alias("lon_b"), F.col("lat").alias("lat_b"), "cx", "cy",
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "kb", "xb", "lon_b", "lat_b",
            (F.col("cx") + F.col("dx")).alias("cxb"),
            (F.col("cy") + F.col("dy")).alias("cyb"),
        )
    )
    d2 = (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b")) + (
        F.col("lat_a") - F.col("lat_b")
    ) * (F.col("lat_a") - F.col("lat_b"))
    return (
        a.join(
            b,
            (F.col("cxa") == F.col("cxb"))
            & (F.col("cya") == F.col("cyb"))
            & (F.col("ka") < F.col("kb"))
            & (d2 <= F.lit(band2)),
        )
        .select("ka", "kb", "xa", "xb", d2.alias("d2"))
    )


@query(
    "spatial_morans_i",
    oracle=f"""
WITH p AS ({_P_SQL}),
g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS xbar FROM p),
pr AS (
  SELECT a.x AS xa, b.x AS xb, a.k AS ka, b.k AS kb
  FROM p a JOIN p b ON a.k < b.k
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= {_BAND * _BAND}
),
num AS (SELECT 2.0 * sum((pr.xa - g.xbar) * (pr.xb - g.xbar)) AS s_num,
               CAST(2 * count(*) AS DOUBLE) AS w
        FROM pr, g GROUP BY g.xbar),
den AS (SELECT sum((p.x - g.xbar) * (p.x - g.xbar)) AS s_den FROM p, g GROUP BY g.xbar),
deg AS (SELECT k, CAST(count(*) AS DOUBLE) AS d
        FROM (SELECT ka AS k FROM pr UNION ALL SELECT kb AS k FROM pr)
        GROUP BY k),
s2t AS (SELECT sum(4.0 * d * d) AS s2 FROM deg),
r AS (
  SELECT g.n, num.w, (g.n / num.w) * num.s_num / den.s_den AS i_stat,
         -1.0 / (g.n - 1) AS ei, 2.0 * num.w AS s1, s2t.s2
  FROM g, num, den, s2t
)
SELECT CAST(n AS BIGINT) AS n, CAST(w AS BIGINT) AS w_sum,
       round(i_stat, 4) AS morans_i, round(ei, 4) AS expected_i,
       round((i_stat - ei) / sqrt((n*n*s1 - n*s2 + 3.0*w*w) / (w*w*(n*n - 1.0)) - ei*ei),
             4) AS z_score
FROM r
""",
)
def spatial_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C144: Global Moran's I spatial autocorrelation — the ArcGIS
    "Spatial Autocorrelation" tool (Moran, Biometrika 1950) with
    binary distance-band weights w_ij = 1[i != j, dist <= 2.5].

    I = (n/W) * sum_ij w_ij (x_i - xbar)(x_j - xbar) / sum_i (x_i - xbar)^2,
    with the z-score under the normality null: E[I] = -1/(n-1),
    Var(I) = (n^2 S1 - n S2 + 3 W^2) / (W^2 (n^2-1)) - E[I]^2, where
    for symmetric binary weights S1 = 2W and S2 = sum_i (2 deg_i)^2.

    Plan: ONE grid-blocked pair join (bounded by local density, never
    n^2) + one point-table moment pass; everything downstream is 1-row
    broadcast combines. The W/S1/S2 terms are exact integer counts;
    the only floats in the output are the scale-free ratios I and z
    (numerator/denominator accumulation noise cancels to ~1e-9
    relative — §5.3.1 magnitude discipline). The oracle is the
    brute-force O(n^2) weights-matrix definition, so the differential
    check proves blocking == semantics. Reference parity: the spatial
    layer surface of task.ts:406-414, analytics tier."""
    p = _points(spark, sf_dir)
    g = p.agg(
        F.count("*").cast("double").alias("n"), F.avg("x").alias("xbar")
    )
    pr = _band_pairs(p, _BAND, _BAND * _BAND)
    num = (
        pr.crossJoin(F.broadcast(g))
        .agg(
            (F.lit(2.0) * F.sum((F.col("xa") - F.col("xbar")) * (F.col("xb") - F.col("xbar")))).alias("s_num"),
            (F.lit(2) * F.count("*")).cast("double").alias("w"),
        )
    )
    den = (
        p.crossJoin(F.broadcast(g))
        .agg(F.sum((F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar"))).alias("s_den"))
    )
    deg = (
        pr.select(F.col("ka").alias("k"))
        .unionAll(pr.select(F.col("kb").alias("k")))
        .groupBy("k")
        .agg(F.count("*").cast("double").alias("d"))
    )
    s2t = deg.agg(F.sum(F.lit(4.0) * F.col("d") * F.col("d")).alias("s2"))
    r = (
        g.crossJoin(num).crossJoin(den).crossJoin(s2t)
        .select(
            "n",
            "w",
            ((F.col("n") / F.col("w")) * F.col("s_num") / F.col("s_den")).alias("i_stat"),
            (F.lit(-1.0) / (F.col("n") - 1)).alias("ei"),
            (F.lit(2.0) * F.col("w")).alias("s1"),
            "s2",
        )
    )
    var_i = (
        F.col("n") * F.col("n") * F.col("s1")
        - F.col("n") * F.col("s2")
        + F.lit(3.0) * F.col("w") * F.col("w")
    ) / (F.col("w") * F.col("w") * (F.col("n") * F.col("n") - 1)) - F.col("ei") * F.col("ei")
    return r.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("w").cast("bigint").alias("w_sum"),
        r4(F.col("i_stat")).alias("morans_i"),
        r4(F.col("ei")).alias("expected_i"),
        r4((F.col("i_stat") - F.col("ei")) / F.sqrt(var_i)).alias("z_score"),
    )


_GI_Z = 1.96  # |z| cutoff (95%); empirically >=1.5e-4 from every fixture z


@query(
    "spatial_getis_hotspots",
    oracle=f"""
WITH p AS ({_P_SQL}),
g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS xbar,
             sqrt(sum(x*x) / count(*) - avg(x) * avg(x)) AS s
      FROM p),
pr AS (
  SELECT a.k AS ka, b.k AS kb, a.x AS xa, b.x AS xb
  FROM p a JOIN p b ON a.k < b.k
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= {_BAND * _BAND}
),
nb AS (
  SELECT k, sum(xo) AS sx, CAST(count(*) AS DOUBLE) AS wi
  FROM (SELECT ka AS k, xb AS xo FROM pr
        UNION ALL SELECT kb AS k, xa AS xo FROM pr
        UNION ALL SELECT k, x AS xo FROM p)
  GROUP BY k
),
z AS (
  SELECT nb.k, nb.wi,
         (nb.sx - g.xbar * nb.wi)
           / (g.s * sqrt((g.n * nb.wi - nb.wi * nb.wi) / (g.n - 1))) AS gi_z
  FROM nb, g
)
SELECT k AS c_custkey, CAST(wi AS BIGINT) AS wi, round(gi_z, 4) AS gi_z,
       CASE WHEN gi_z > 0 THEN 'hot' ELSE 'cold' END AS spot
FROM z WHERE abs(gi_z) >= {_GI_Z}
""",
)
def spatial_getis_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C145: Getis-Ord Gi* hot-spot analysis — the ArcGIS "Hot Spot
    Analysis" tool (Getis & Ord, Geographical Analysis 1992). For each
    point, the self-inclusive distance-band neighborhood sum is scored
    against its expectation:

      Gi* = (sum_j w_ij x_j - xbar W_i)
            / (S * sqrt((n W_i - W_i^2) / (n - 1))),

    with binary weights including self (W_i = deg_i + 1) and S the
    population sd. Emits the significant features (|z| >= 1.96) with a
    hot/cold classification — the statistic ArcGIS renders as the
    red/blue hot-spot layer.

    Plan: the SAME grid-blocked pair join as Moran's I feeds a
    both-directions neighbor-sum aggregate (pairs union'd with the
    self row, so isolated points still score with W_i = 1); global
    (n, xbar, S) attach via a 1-row broadcast. The cutoff filter is
    boundary-safe: the closest fixture |z| to 1.96 is 1.5e-4 away,
    eleven orders above cross-engine noise. Oracle: brute-force
    weights matrix — blocking == semantics, per pair, per point."""
    p = _points(spark, sf_dir)
    g = p.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("x").alias("xbar"),
        F.sqrt(F.sum(F.col("x") * F.col("x")) / F.count("*") - F.avg("x") * F.avg("x")).alias("s"),
    )
    pr = _band_pairs(p, _BAND, _BAND * _BAND)
    nb = (
        pr.select(F.col("ka").alias("k"), F.col("xb").alias("xo"))
        .unionAll(pr.select(F.col("kb").alias("k"), F.col("xa").alias("xo")))
        .unionAll(p.select("k", F.col("x").alias("xo")))
        .groupBy("k")
        .agg(F.sum("xo").alias("sx"), F.count("*").cast("double").alias("wi"))
    )
    gi = (F.col("sx") - F.col("xbar") * F.col("wi")) / (
        F.col("s")
        * F.sqrt((F.col("n") * F.col("wi") - F.col("wi") * F.col("wi")) / (F.col("n") - 1))
    )
    return (
        nb.crossJoin(F.broadcast(g))
        .withColumn("gi_z", gi)
        .filter(F.abs(F.col("gi_z")) >= _GI_Z)
        .select(
            F.col("k").alias("c_custkey"),
            F.col("wi").cast("bigint").alias("wi"),
            r4(F.col("gi_z")).alias("gi_z"),
            F.when(F.col("gi_z") > 0, "hot").otherwise("cold").alias("spot"),
        )
    )


# Ripley bands: exact binary-fraction radii whose squares are exact
# doubles; cell = max band so one 3x3 blocking covers every band.
_K_BANDS = (0.5, 1.5, 2.5, 3.5)
_K_CELL = 3.5
_K_AREA = 360.0 * 160.0  # fixed study area: the derived lon/lat domain


@query(
    "spatial_ripleys_k",
    oracle=f"""
WITH p AS ({_P_SQL}),
g AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),
pr AS (
  SELECT (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS d2
  FROM p a JOIN p b ON a.k < b.k
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)
       <= {_K_CELL * _K_CELL}
),
c AS (
  SELECT b.band,
         CAST(2 * count(*) FILTER (pr.d2 <= b.band * b.band) AS BIGINT) AS cnt
  FROM pr, (SELECT unnest([{", ".join(f"CAST({b} AS DOUBLE)" for b in _K_BANDS)}]) AS band) b
  GROUP BY b.band
)
SELECT c.band, c.cnt AS pair_count,
       round({_K_AREA} * c.cnt / (g.n * (g.n - 1)), 4) AS k_hat,
       round(sqrt({_K_AREA} * c.cnt / (g.n * (g.n - 1)) / pi()), 4) AS l_hat
FROM c, g
""",
)
def spatial_ripleys_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C146: Ripley's K multi-distance spatial cluster analysis — the
    ArcGIS "Multi-Distance Spatial Cluster Analysis" tool (Ripley, JRSS
    B 1977). K(d) = A / (n(n-1)) * #{ordered pairs with dist <= d} for
    a band ladder d in {0.5, 1.5, 2.5, 3.5}, plus the variance-
    stabilized L(d) = sqrt(K/pi) ArcGIS plots (uncorrected/naive
    estimator — no edge correction, stated, same on both engines; A is
    the fixed derived-coordinate domain 360x160).

    Plan: ONE grid-blocked pair join at the largest band, then a
    single conditional-aggregate pass producing all four band counts
    (no per-band rescan), unpivoted via stack. Counts are exact
    integers; K/L are ratios of exact counts — no accumulation-noise
    surface at all. Oracle: brute-force O(n^2) pair definition."""
    p = _points(spark, sf_dir)
    g = p.agg(F.count("*").cast("double").alias("n"))
    pr = _band_pairs(p, _K_CELL, _K_CELL * _K_CELL)
    counts = pr.agg(
        *[
            (F.lit(2) * F.sum((F.col("d2") <= F.lit(b * b)).cast("long")))
            .cast("bigint")
            .alias(f"c{i}")
            for i, b in enumerate(_K_BANDS)
        ]
    )
    stack_expr = "stack({}, {}) as (band, pair_count)".format(
        len(_K_BANDS),
        ", ".join(
            f"CAST({b} AS DOUBLE), c{i}" for i, b in enumerate(_K_BANDS)
        ),
    )
    k_hat = F.lit(_K_AREA) * F.col("pair_count") / (F.col("n") * (F.col("n") - 1))
    return (
        counts.selectExpr(stack_expr)
        .crossJoin(F.broadcast(g))
        .select(
            "band",
            "pair_count",
            r4(k_hat).alias("k_hat"),
            r4(F.sqrt(k_hat / F.lit(3.141592653589793))).alias("l_hat"),
        )
    )


@query(
    "spatial_std_ellipse",
    oracle=f"""
WITH p AS ({_P_SQL}),
m AS (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(lon) AS mx, avg(lat) AS my,
         sum(lon * lon) AS sxx, sum(lat * lat) AS syy, sum(lon * lat) AS sxy
  FROM p
), v AS (
  SELECT n, mx, my, sxx / n - mx * mx AS vx, syy / n - my * my AS vy,
         sxy / n - mx * my AS vxy
  FROM m
), e AS (
  SELECT n, mx, my, vx, vy, vxy,
         0.5 * atan2(2 * vxy, vx - vy) AS theta
  FROM v
)
SELECT CAST(n AS BIGINT) AS n, round(mx, 4) AS mean_x, round(my, 4) AS mean_y,
       round(sqrt(vx + vy), 4) AS std_dist,
       round(degrees(theta), 4) AS theta_deg,
       round(sqrt(greatest(0.0,
             vx * cos(theta) * cos(theta)
             + 2 * vxy * sin(theta) * cos(theta)
             + vy * sin(theta) * sin(theta))), 4) AS sigma_major,
       round(sqrt(greatest(0.0,
             vx * sin(theta) * sin(theta)
             - 2 * vxy * sin(theta) * cos(theta)
             + vy * cos(theta) * cos(theta))), 4) AS sigma_minor
FROM e
""",
)
def spatial_std_ellipse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C147: Mean center, standard distance, and standard deviational
    ellipse — the ArcGIS "Measuring Geographic Distributions" toolset
    (Mean Center / Standard Distance / Directional Distribution;
    Yuill, Area 1971). One bivariate-moment pass gives the center
    (mx, my), the standard distance sqrt(vx + vy), the ellipse
    rotation theta = atan2(2 v_xy, v_x - v_y) / 2, and the two sigma
    axes in the rotated frame (raw sigmas; ArcGIS's 1-std ellipse is
    these times sqrt(2)).

    Numerical notes (why this is oracle-exact): the sf0.001 layer is
    DEGENERATE — all 150 points sit on one diagonal line, so the minor
    axis is mathematically 0 and cross-engine noise can push the
    variance form to -1e-13; both engines clamp with greatest(0, .)
    before sqrt so the rounded output agrees. theta's atan2 is safe
    because v_xy stays far from 0 on every fixture (the discontinuity
    needs BOTH arguments near 0).

    Scale: one map-side-combined 6-sum aggregate over the point table;
    constant-time tail. The cheapest 100 TB query in the module."""
    p = _points(spark, sf_dir)
    m = p.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("lon").alias("mx"),
        F.avg("lat").alias("my"),
        F.sum(F.col("lon") * F.col("lon")).alias("sxx"),
        F.sum(F.col("lat") * F.col("lat")).alias("syy"),
        F.sum(F.col("lon") * F.col("lat")).alias("sxy"),
    )
    v = m.select(
        "n", "mx", "my",
        (F.col("sxx") / F.col("n") - F.col("mx") * F.col("mx")).alias("vx"),
        (F.col("syy") / F.col("n") - F.col("my") * F.col("my")).alias("vy"),
        (F.col("sxy") / F.col("n") - F.col("mx") * F.col("my")).alias("vxy"),
    )
    e = v.withColumn(
        "theta", F.lit(0.5) * F.atan2(F.lit(2.0) * F.col("vxy"), F.col("vx") - F.col("vy"))
    )
    ct, st = F.cos(F.col("theta")), F.sin(F.col("theta"))
    maj = F.col("vx") * ct * ct + F.lit(2.0) * F.col("vxy") * st * ct + F.col("vy") * st * st
    mnr = F.col("vx") * st * st - F.lit(2.0) * F.col("vxy") * st * ct + F.col("vy") * ct * ct
    return e.select(
        F.col("n").cast("bigint").alias("n"),
        r4(F.col("mx")).alias("mean_x"),
        r4(F.col("my")).alias("mean_y"),
        r4(F.sqrt(F.col("vx") + F.col("vy"))).alias("std_dist"),
        r4(F.degrees(F.col("theta"))).alias("theta_deg"),
        r4(F.sqrt(F.greatest(F.lit(0.0), maj))).alias("sigma_major"),
        r4(F.sqrt(F.greatest(F.lit(0.0), mnr))).alias("sigma_minor"),
    )


_NEAR_K = 3  # neighbors per feature in the near table


@query(
    "spatial_near_table",
    oracle=f"""
WITH p AS ({_P_SQL}),
pr AS (
  SELECT a.k AS src, b.k AS nbr,
         (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS d2
  FROM p a JOIN p b ON a.k <> b.k
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= {_BAND * _BAND}
),
r AS (
  SELECT src, nbr, d2,
         row_number() OVER (PARTITION BY src ORDER BY d2, nbr) AS rk
  FROM pr
)
SELECT src AS c_custkey, CAST(rk AS INT) AS rk, nbr AS nbr_key,
       round(sqrt(d2), 4) AS dist
FROM r WHERE rk <= {_NEAR_K}
""",
)
def spatial_near_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C148: Generate Near Table — the ArcGIS proximity tool: for each
    feature, its {_NEAR_K} nearest neighbors within the search radius,
    ranked by distance (ties broken by neighbor key — the lattice
    layer has coincident points, so a value tie-break is mandatory
    for determinism).

    Plan: DIRECTED grid-blocked candidate join (same 3x3 blocking, no
    key ordering, self excluded) -> per-source rank window -> rk <= k.
    Catalyst turns the rank filter into WindowGroupLimit, so each
    shuffle partition keeps only k rows per source before the final
    sort — the per-feature state is O(k), never the candidate list.
    Scale: candidates bounded by local density; the window partitions
    by source feature (plan-asserted: no unpartitioned window)."""
    p = _points(spark, sf_dir)
    # directed pairs: reuse the unordered generator both ways instead
    # of re-deriving a directed variant — (a<b) U (b<a) == (a != b).
    und = _band_pairs(p, _BAND, _BAND * _BAND)
    pr = und.select(
        F.col("ka").alias("src"), F.col("kb").alias("nbr"), "d2"
    ).unionAll(und.select(F.col("kb").alias("src"), F.col("ka").alias("nbr"), "d2"))
    from pyspark.sql import Window

    w = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("nbr").asc())
    return (
        pr.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NEAR_K)
        .select(
            F.col("src").alias("c_custkey"),
            F.col("rk").cast("int").alias("rk"),
            F.col("nbr").alias("nbr_key"),
            r4(F.sqrt(F.col("d2"))).alias("dist"),
        )
    )


@query(
    "spatial_shoelace_area",
    oracle=f"""
WITH base AS (
  SELECT c_custkey,
         CAST(3 + (c_custkey % 4) AS INT) AS nv,
         CAST(1 + (c_custkey % 3) AS DOUBLE) AS r,
         CAST({LON} AS DOUBLE) AS cx,
         CAST({LAT} AS DOUBLE) AS cy
  FROM customer
), v AS (
  SELECT c_custkey, nv,
         list_transform(range(0, nv),
           i -> {{'x': cx + r * cos(2 * pi() * i / nv),
                  'y': cy + r * sin(2 * pi() * i / nv)}}) AS verts
  FROM base
), c AS (
  SELECT c_custkey, nv,
         list_transform(range(0, nv),
           i -> {{'cr': verts[i + 1].x * verts[((i + 1) % nv) + 1].y
                       - verts[((i + 1) % nv) + 1].x * verts[i + 1].y,
                  'mx': verts[i + 1].x + verts[((i + 1) % nv) + 1].x,
                  'my': verts[i + 1].y + verts[((i + 1) % nv) + 1].y}}) AS e
  FROM v
), s AS (
  SELECT c_custkey, nv,
         list_sum(list_transform(e, t -> t.cr)) AS s_cr,
         list_sum(list_transform(e, t -> t.mx * t.cr)) AS s_mx,
         list_sum(list_transform(e, t -> t.my * t.cr)) AS s_my
  FROM c
)
SELECT c_custkey, nv AS n_vertices, round(abs(s_cr) / 2, 4) AS area,
       round(s_mx / (3 * s_cr), 4) AS centroid_x,
       round(s_my / (3 * s_cr), 4) AS centroid_y
FROM s
""",
)
def spatial_shoelace_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C150: Calculate Geometry — polygon ring area + centroid via the
    shoelace formula (Gauss), the per-feature geometry computation
    behind ArcGIS's "Calculate Geometry Attributes". Rings are
    synthesized per feature (regular 3-6-gons at the derived center,
    the same no-geometry-fixture convention as the B11 surface) so the
    HOF pipeline is exercised over VARIABLE-length vertex arrays:

      verts   = transform(sequence, i -> (x_i, y_i))
      edges   = transform(sequence, i -> (cross_i, x_i+x_j, y_i+y_j))
      area    = |sum cross_i| / 2
      centroid= sum((x_i+x_j) * cross_i) / (3 * sum cross_i)  (and y)

    Everything is IN-ROW higher-order-function arithmetic — zero
    shuffle, zero Python, one whole-stage-codegen projection over the
    scan; this is the shape a 100 TB per-feature geometry pass must
    have. Edges are STAGED into an intermediate array before the three
    sums (Catalyst does not CSE inside lambda bodies — the round-5
    winnowing lesson); the per-edge structs are computed once, each
    aggregate folds the materialized array."""
    base = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(3) + F.col("c_custkey") % 4).cast("int").alias("nv"),
        (F.lit(1) + F.col("c_custkey") % 3).cast("double").alias("r"),
        F.expr(LON).cast("double").alias("cx"),
        F.expr(LAT).cast("double").alias("cy"),
    )
    two_pi = 2.0 * 3.141592653589793
    v = base.withColumn(
        "verts",
        F.transform(
            F.sequence(F.lit(0), F.col("nv") - 1),
            lambda i: F.struct(
                (F.col("cx") + F.col("r") * F.cos(F.lit(two_pi) * i / F.col("nv"))).alias("x"),
                (F.col("cy") + F.col("r") * F.sin(F.lit(two_pi) * i / F.col("nv"))).alias("y"),
            ),
        ),
    )
    def edge(i):
        a = F.element_at(F.col("verts"), i + 1)
        b = F.element_at(F.col("verts"), ((i + 1) % F.col("nv")) + 1)
        cr = a["x"] * b["y"] - b["x"] * a["y"]
        return F.struct(
            cr.alias("cr"), (a["x"] + b["x"]).alias("mx"), (a["y"] + b["y"]).alias("my")
        )

    c = v.withColumn("e", F.transform(F.sequence(F.lit(0), F.col("nv") - 1), edge))
    s = c.select(
        "c_custkey",
        "nv",
        F.aggregate(F.col("e"), F.lit(0.0), lambda acc, t: acc + t["cr"]).alias("s_cr"),
        F.aggregate(F.col("e"), F.lit(0.0), lambda acc, t: acc + t["mx"] * t["cr"]).alias("s_mx"),
        F.aggregate(F.col("e"), F.lit(0.0), lambda acc, t: acc + t["my"] * t["cr"]).alias("s_my"),
    )
    return s.select(
        "c_custkey",
        F.col("nv").alias("n_vertices"),
        r4(F.abs(F.col("s_cr")) / 2).alias("area"),
        r4(F.col("s_mx") / (F.lit(3.0) * F.col("s_cr"))).alias("centroid_x"),
        r4(F.col("s_my") / (F.lit(3.0) * F.col("s_cr"))).alias("centroid_y"),
    )


# Summarize-Within zones: translated copies of a compact non-convex
# hexagon; .1-.9 fractional vertices so no half-integer lattice point
# lies on an edge (the filters.py convention). Zone A holds zero
# sf0.001 points by construction — the left-join zero-row case.
_SW_BASE = [
    (-60.3, -40.2), (20.7, -40.2), (20.7, 10.4),
    (-10.6, 35.9), (-10.6, -5.3), (-60.3, 15.8),
]
_SW_ZONES = {"A": (0.0, 0.0), "C": (-70.0, -30.0), "D": (-40.0, 35.0)}


def _sw_zone_rows():
    for zid, (dx, dy) in sorted(_SW_ZONES.items()):
        yield zid, [(x + dx, y + dy) for x, y in _SW_BASE]


def _sw_oracle() -> str:
    zone_selects = []
    for zid, poly in _sw_zone_rows():
        verts = ", ".join("{'x': %r, 'y': %r}" % (x, y) for x, y in poly)
        zone_selects.append(f"SELECT '{zid}' AS zone_id, [{verts}] AS verts")
    zones = " UNION ALL ".join(zone_selects)
    return f"""
WITH p AS (
  SELECT c_custkey, CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat, c_acctbal AS bal
  FROM customer
), z AS ({zones}),
hit AS (
  SELECT z.zone_id, p.c_custkey, p.bal
  FROM z JOIN p
    ON list_sum(list_transform(range(1, len(z.verts) + 1),
         i -> CASE WHEN ((z.verts[i].y > p.lat)
                         <> (z.verts[(i % len(z.verts)) + 1].y > p.lat))
                    AND (p.lon < (z.verts[(i % len(z.verts)) + 1].x - z.verts[i].x)
                                 * (p.lat - z.verts[i].y)
                                 / (z.verts[(i % len(z.verts)) + 1].y - z.verts[i].y)
                                 + z.verts[i].x)
              THEN 1 ELSE 0 END)) % 2 = 1
)
SELECT z.zone_id,
       CAST(count(hit.c_custkey) AS BIGINT) AS n_points,
       round(coalesce(sum(hit.bal), 0.0), 2) AS sum_bal,
       round(avg(hit.bal), 4) AS avg_bal
FROM z LEFT JOIN hit ON z.zone_id = hit.zone_id
GROUP BY z.zone_id
"""


@query("spatial_summarize_within", oracle=_sw_oracle())
def spatial_summarize_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C151: Summarize Within — the ArcGIS overlay-analysis tool:
    aggregate point attributes per containing polygon zone. Unlike
    filter_spatial_point_in_polygon (ONE polygon compiled into the
    predicate), the zones here are DATA — a polygon table with
    variable-length vertex arrays — and containment is an even-odd
    ray-cast evaluated as a higher-order function over each zone's
    vertex array inside the join condition.

    Plan: the bounded zone table BROADCASTS under a nested-loop join
    whose per-(zone, point) cost is O(|ring|) codegen'd arithmetic —
    for a bounded zone set this is the right 100 TB plan (every point
    partition streams once past all zones; no shuffle of the fact
    side). For zone tables that are themselves huge, the scale path is
    the grid-blocking of _band_pairs keyed by zone bbox cells — the
    same escape hatch join_spatial_grid_distance documents. The LEFT
    join keeps zero-point zones in the output (zone A at sf0.001):
    count 0, sum 0.00, avg NULL — the ArcGIS contract.

    Division-by-zero note: horizontal edges make the ray slope term
    0/0; both engines evaluate it only under the straddle conjunct
    being true (Spark: NULL-safe comparison folds to false; DuckDB:
    CASE short-circuit), and a horizontal edge can never straddle, so
    the term is dead on both."""
    p = table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.expr(LON).cast("double").alias("lon"),
        F.expr(LAT).cast("double").alias("lat"),
        F.col("c_acctbal").alias("bal"),
    )
    zones = spark.createDataFrame(
        [
            (zid, [{"x": float(x), "y": float(y)} for x, y in poly])
            for zid, poly in _sw_zone_rows()
        ],
        "zone_id string, verts array<struct<x: double, y: double>>",
    )
    nv = F.size(F.col("verts"))
    crossings = F.aggregate(
        F.sequence(F.lit(1), nv),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            (
                (F.element_at(F.col("verts"), i)["y"] > F.col("lat"))
                != (F.element_at(F.col("verts"), (i % nv) + 1)["y"] > F.col("lat"))
            )
            & (
                F.col("lon")
                < (
                    F.element_at(F.col("verts"), (i % nv) + 1)["x"]
                    - F.element_at(F.col("verts"), i)["x"]
                )
                * (F.col("lat") - F.element_at(F.col("verts"), i)["y"])
                / (
                    F.element_at(F.col("verts"), (i % nv) + 1)["y"]
                    - F.element_at(F.col("verts"), i)["y"]
                )
                + F.element_at(F.col("verts"), i)["x"]
            ),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    hit = F.broadcast(zones).join(p, crossings % 2 == 1, "left")
    return hit.groupBy("zone_id").agg(
        F.count("c_custkey").cast("bigint").alias("n_points"),
        F.round(F.coalesce(F.sum("bal"), F.lit(0.0)), 2).alias("sum_bal"),
        r4(F.avg("bal")).alias("avg_bal"),
    )


@query(
    "spatial_local_morans",
    oracle=f"""
WITH p AS ({_P_SQL}),
g AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS xbar,
             sum(x * x) / count(*) - avg(x) * avg(x) AS m2
      FROM p),
pr AS (
  SELECT a.k AS ka, b.k AS kb, a.x AS xa, b.x AS xb
  FROM p a JOIN p b ON a.k < b.k
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= {_BAND * _BAND}
),
lag AS (
  SELECT k, sum(xo) AS sx, CAST(count(*) AS BIGINT) AS wi
  FROM (SELECT ka AS k, xb AS xo FROM pr
        UNION ALL SELECT kb AS k, xa AS xo FROM pr)
  GROUP BY k
),
z AS (
  SELECT p.k, lag.wi, p.x - g.xbar AS zi,
         lag.sx - g.xbar * lag.wi AS lagz, g.m2
  FROM p JOIN lag ON p.k = lag.k, g
)
SELECT k AS c_custkey, wi,
       round(zi * lagz / m2, 4) AS local_i,
       CASE WHEN zi > 0 AND lagz > 0 THEN 'HH'
            WHEN zi < 0 AND lagz < 0 THEN 'LL'
            WHEN zi > 0 THEN 'HL' ELSE 'LH' END AS quadrant
FROM z
""",
)
def spatial_local_morans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C152: Anselin Local Moran's I — the ArcGIS "Cluster and Outlier
    Analysis" tool (Anselin, Geographical Analysis 1995). Per feature,

      I_i = (z_i / m2) * sum_j w_ij z_j,   m2 = sum_k z_k^2 / n,

    with the same binary distance-band weights as the global statistic,
    plus the cluster/outlier quadrant ArcGIS renders (HH/LL cluster,
    HL/LH outlier) from the signs of z_i and the spatial lag. Only
    features WITH neighbors are emitted (the ArcGIS contract: isolated
    features get no COType).

    Sign-stability (why the labels are oracle-exact): across every
    fixture min |lag| = 1.94 and min |z_i| = 0.104 — nine orders above
    the ~1e-9-relative cross-engine accumulation noise, so the strict
    inequalities agree engine-to-engine (same discipline as _GI_Z).

    Plan: ONE grid-blocked pair join -> both-directions per-point lag
    aggregate -> equi-join back to the point table; global (xbar, m2)
    attach via a 1-row broadcast. Per-point output (the hot-spot map
    layer), all shuffles keyed by feature id. Oracle: brute-force
    O(n^2) weights matrix — blocking == semantics."""
    p = _points(spark, sf_dir)
    g = p.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("x").alias("xbar"),
        (F.sum(F.col("x") * F.col("x")) / F.count("*") - F.avg("x") * F.avg("x")).alias("m2"),
    )
    pr = _band_pairs(p, _BAND, _BAND * _BAND)
    lag = (
        pr.select(F.col("ka").alias("k"), F.col("xb").alias("xo"))
        .unionAll(pr.select(F.col("kb").alias("k"), F.col("xa").alias("xo")))
        .groupBy("k")
        .agg(F.sum("xo").alias("sx"), F.count("*").cast("bigint").alias("wi"))
    )
    z = (
        p.join(lag, "k")
        .crossJoin(F.broadcast(g))
        .select(
            "k",
            "wi",
            (F.col("x") - F.col("xbar")).alias("zi"),
            (F.col("sx") - F.col("xbar") * F.col("wi")).alias("lagz"),
            "m2",
        )
    )
    return z.select(
        F.col("k").alias("c_custkey"),
        "wi",
        r4(F.col("zi") * F.col("lagz") / F.col("m2")).alias("local_i"),
        F.when((F.col("zi") > 0) & (F.col("lagz") > 0), "HH")
        .when((F.col("zi") < 0) & (F.col("lagz") < 0), "LL")
        .when(F.col("zi") > 0, "HL")
        .otherwise("LH")
        .alias("quadrant"),
    )


_G_SHIFT = 1000.0  # positivity shift: General G requires x > 0; TPC-H
# acctbal floor is -999.99, so +1000 makes every variate >= 0.01.


@query(
    "spatial_general_g",
    oracle=f"""
WITH p AS (SELECT k, lon, lat, x + {_G_SHIFT} AS xs FROM ({_P_SQL})),
g AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(xs) AS s1, sum(xs * xs) AS s2 FROM p),
pr AS (
  SELECT a.xs AS xa, b.xs AS xb
  FROM p a JOIN p b ON a.k < b.k
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= {_BAND * _BAND}
),
num AS (SELECT 2.0 * sum(xa * xb) AS s_num, CAST(2 * count(*) AS DOUBLE) AS w FROM pr),
r AS (
  SELECT g.n, num.w,
         num.s_num / (g.s1 * g.s1 - g.s2) AS g_obs,
         num.w / (g.n * (g.n - 1)) AS g_exp
  FROM g, num
)
SELECT CAST(n AS BIGINT) AS n, CAST(w AS BIGINT) AS w_sum,
       round(g_obs * 1e6, 4) AS g_obs_ppm,
       round(g_exp * 1e6, 4) AS g_exp_ppm,
       round(g_obs / g_exp, 4) AS g_ratio,
       CASE WHEN g_obs > g_exp THEN 'high-clustering'
            ELSE 'low-clustering' END AS tendency
FROM r
""",
)
def spatial_general_g(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C153: Getis-Ord General G — the ArcGIS "High/Low Clustering"
    tool (Getis & Ord, Geographical Analysis 1992): the global
    high-value-clustering statistic

      G = sum_ij w_ij x_i x_j / sum_{i != j} x_i x_j,
      E[G] = W / (n (n - 1)),

    over binary distance-band weights. The variate must be positive
    (the statistic is a ratio of products), so balances shift by the
    +1000 literal (TPC-H floor -999.99); observed vs expected G then
    classifies the map as high- or low-value clustering. Both G terms
    are ~1e-3 at fixture scale, so they report in parts-per-million
    (the r4 grid on raw G would keep one digit); the scale-free ratio
    G/E[G] reports as-is. Label stability: fixture g_obs/g_exp gaps
    are O(1e-2 relative), far above accumulation noise.

    Plan: the denominator needs NO pair join — sum_{i != j} x_i x_j
    = (sum x)^2 - sum x^2, one moment pass; the numerator reuses the
    grid-blocked band-pair join. Constant-size tail after one pair
    aggregate. Oracle: brute-force O(n^2) numerator."""
    p = _points(spark, sf_dir).withColumn("xs", F.col("x") + F.lit(_G_SHIFT))
    g = p.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("xs").alias("s1"),
        F.sum(F.col("xs") * F.col("xs")).alias("s2"),
    )
    pr = _band_pairs(p.select("k", "lon", "lat", F.col("xs").alias("x")), _BAND, _BAND * _BAND)
    num = pr.agg(
        (F.lit(2.0) * F.sum(F.col("xa") * F.col("xb"))).alias("s_num"),
        (F.lit(2) * F.count("*")).cast("double").alias("w"),
    )
    r = (
        g.crossJoin(num)
        .select(
            "n",
            "w",
            (F.col("s_num") / (F.col("s1") * F.col("s1") - F.col("s2"))).alias("g_obs"),
            (F.col("w") / (F.col("n") * (F.col("n") - 1))).alias("g_exp"),
        )
    )
    return r.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("w").cast("bigint").alias("w_sum"),
        r4(F.col("g_obs") * 1e6).alias("g_obs_ppm"),
        r4(F.col("g_exp") * 1e6).alias("g_exp_ppm"),
        r4(F.col("g_obs") / F.col("g_exp")).alias("g_ratio"),
        F.when(F.col("g_obs") > F.col("g_exp"), "high-clustering")
        .otherwise("low-clustering")
        .alias("tendency"),
    )


_NJ_R = 2.5  # Near search radius; lattice distances^2 are exact ints

_S_LON = "(s_suppkey % 360) - 180 + 0.5"
_S_LAT = "(s_suppkey % 160) - 80 + 0.5"


@query(
    "spatial_near_join",
    oracle=f"""
WITH c AS (
  SELECT c_custkey AS k, CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat
  FROM customer
), s AS (
  SELECT s_suppkey AS k, CAST({_S_LON} AS DOUBLE) AS lon,
         CAST({_S_LAT} AS DOUBLE) AS lat
  FROM supplier
), pr AS (
  SELECT c.k AS ck, s.k AS sk,
         (c.lon-s.lon)*(c.lon-s.lon) + (c.lat-s.lat)*(c.lat-s.lat) AS d2
  FROM c JOIN s
    ON (c.lon-s.lon)*(c.lon-s.lon) + (c.lat-s.lat)*(c.lat-s.lat) <= {_NJ_R * _NJ_R}
), best AS (
  SELECT ck, sk, d2,
         row_number() OVER (PARTITION BY ck ORDER BY d2, sk) AS rk
  FROM pr
)
SELECT c.k AS c_custkey,
       CAST(coalesce(best.sk, -1) AS BIGINT) AS near_fid,
       coalesce(round(sqrt(best.d2), 4), -1.0) AS near_dist
FROM c LEFT JOIN best ON c.k = best.ck AND best.rk = 1
""",
)
def spatial_near_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C154: Near (two-layer) — the ArcGIS proximity tool that stamps
    each input feature with the FID of and distance to the closest
    feature of a SECOND layer within a search radius, or -1 when none
    qualifies (the documented ArcGIS no-match sentinel). Input layer:
    customer points; near layer: supplier points on the same derived
    half-integer lattice (distances^2 are exact integers — rank order
    is engine-exact; ties at equal distance break by supplier key,
    mandatory because the lattices coincide).

    Plan: directed grid-blocked candidate join (customer side binned,
    supplier side expanded to its 3x3 cell neighborhood at cell =
    radius) -> per-customer rank window (Catalyst: WindowGroupLimit
    keeps 1 row per customer per partition before the final sort) ->
    LEFT join back to the full customer table so radius-misses emit
    the -1 sentinel. All shuffles are keyed equi-joins; candidate
    volume is bounded by local supplier density, never |C| x |S|.
    Oracle: brute-force all-pairs nearest within radius."""
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.expr(LON).cast("double").alias("lon"),
        F.expr(LAT).cast("double").alias("lat"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("k"),
        F.expr(_S_LON).cast("double").alias("lon"),
        F.expr(_S_LAT).cast("double").alias("lat"),
    )
    cell = _NJ_R
    cb = c.select(
        F.col("k").alias("ck"), F.col("lon").alias("clon"), F.col("lat").alias("clat"),
        F.floor(F.col("lon") / cell).cast("bigint").alias("cx"),
        F.floor(F.col("lat") / cell).cast("bigint").alias("cy"),
    )
    sb = (
        s.select(
            F.col("k").alias("sk"), F.col("lon").alias("slon"), F.col("lat").alias("slat"),
            F.floor(F.col("lon") / cell).cast("bigint").alias("scx"),
            F.floor(F.col("lat") / cell).cast("bigint").alias("scy"),
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "sk", "slon", "slat",
            (F.col("scx") + F.col("dx")).alias("scx"),
            (F.col("scy") + F.col("dy")).alias("scy"),
        )
    )
    d2 = (F.col("clon") - F.col("slon")) * (F.col("clon") - F.col("slon")) + (
        F.col("clat") - F.col("slat")
    ) * (F.col("clat") - F.col("slat"))
    pr = cb.join(
        sb,
        (F.col("cx") == F.col("scx"))
        & (F.col("cy") == F.col("scy"))
        & (d2 <= F.lit(_NJ_R * _NJ_R)),
    ).select("ck", "sk", d2.alias("d2"))
    from pyspark.sql import Window

    w = Window.partitionBy("ck").orderBy(F.col("d2").asc(), F.col("sk").asc())
    best = pr.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    return c.join(best, c["k"] == best["ck"], "left").select(
        F.col("k").alias("c_custkey"),
        F.coalesce(F.col("sk"), F.lit(-1)).cast("bigint").alias("near_fid"),
        F.coalesce(r4(F.sqrt(F.col("d2"))), F.lit(-1.0)).alias("near_dist"),
    )


_QK_Z = 6  # tile-pyramid level: 2^6 x 2^6 Web-Mercator tiles
_PI = 3.141592653589793


def _qk_digits_sql(tx: str, ty: str) -> str:
    """SQL spelling of the Bing-maps quadkey: per level, digit =
    2*bit(ty) + bit(tx), most-significant level first."""
    parts = [
        f"CAST((({ty} >> {s}) & 1) * 2 + (({tx} >> {s}) & 1) AS VARCHAR)"
        for s in range(_QK_Z - 1, -1, -1)
    ]
    return " || ".join(parts)


@query(
    "spatial_quadkey_rollup",
    oracle=f"""
WITH p AS (
  SELECT CAST({LON} AS DOUBLE) AS lon, CAST({LAT} AS DOUBLE) AS lat,
         c_acctbal AS bal
  FROM customer
), t AS (
  SELECT CAST(floor((lon + 180.0) / 360.0 * {1 << _QK_Z}) AS BIGINT) AS tx,
         CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / {_PI})
                    / 2.0 * {1 << _QK_Z}) AS BIGINT) AS ty,
         bal
  FROM p
), q AS (
  SELECT {_qk_digits_sql("tx", "ty")} AS qk6, bal FROM t
), r AS (
  SELECT substr(qk6, 1, {_QK_Z - 1}) AS qk5, substr(qk6, {_QK_Z}, 1) AS d6,
         bal
  FROM q
)
SELECT CAST(CASE WHEN grouping(d6) = 1 THEN {_QK_Z - 1} ELSE {_QK_Z} END AS INT) AS level,
       qk5 || coalesce(d6, '') AS quadkey,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(bal), 2) AS sum_bal
FROM r
GROUP BY ROLLUP (qk5, d6)
HAVING grouping(qk5) = 0
""",
)
def spatial_quadkey_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C155: Web-Mercator tile-pyramid aggregation — the GIS serving
    pattern behind every slippy-map heatmap layer (ArcGIS VectorTile /
    LOD pyramids): project each point to its z=6 tile, encode the
    Bing-maps QUADKEY (interleaved tx/ty bits, one base-4 digit per
    level — Schwartz, MSDN 2018: prefix truncation == parent tile),
    and aggregate two pyramid levels in ONE pass with ROLLUP over
    (parent-prefix, last-digit) — level z and its z-1 parents, exactly
    how tile servers pre-aggregate LODs.

    Mercator floor-boundary note: ty = floor(f(lat)) with f
    transcendental; a cross-engine ulp flip would need f(lat) within
    ~1e-14 of an integer — the fixture lattice's closest approach is
    2.0e-3 (probed across all SFs), eleven orders of margin. tx is exact
    (half-integer lon over a power-of-two grid).

    Plan: pure per-row arithmetic to (qk5, d6), then ONE expand+agg
    (Catalyst Expand: 2 grouping sets) — a single shuffle keyed by
    quadkey produces both pyramid levels; no per-level rescan. At
    100 TB this is the standard write-time pre-aggregation; the
    quadkey string doubles as the range-partition / Z-ORDER key
    (scale_patterns.zorder_key is the binary twin)."""
    p = table(spark, sf_dir, "customer").select(
        F.expr(LON).cast("double").alias("lon"),
        F.expr(LAT).cast("double").alias("lat"),
        F.col("c_acctbal").alias("bal"),
    )
    ntiles = 1 << _QK_Z
    phi = F.radians(F.col("lat"))
    t = p.select(
        F.floor((F.col("lon") + 180.0) / 360.0 * ntiles).cast("bigint").alias("tx"),
        F.floor(
            (F.lit(1.0) - (F.log(F.tan(phi) + F.lit(1.0) / F.cos(phi)) / _PI))
            / 2.0
            * ntiles
        )
        .cast("bigint")
        .alias("ty"),
        "bal",
    )
    digit = lambda s: (
        F.shiftright(F.col("ty"), s).bitwiseAND(F.lit(1)) * 2
        + F.shiftright(F.col("tx"), s).bitwiseAND(F.lit(1))
    ).cast("string")
    qk6 = F.concat(*[digit(s) for s in range(_QK_Z - 1, -1, -1)])
    r = t.select(
        F.substring(qk6, 1, _QK_Z - 1).alias("qk5"),
        F.substring(qk6, _QK_Z, 1).alias("d6"),
        "bal",
    )
    return (
        r.rollup("qk5", "d6")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            F.round(F.sum("bal"), 2).alias("sum_bal"),
            F.grouping("qk5").alias("g_qk5"),
            F.grouping("d6").alias("g_d6"),
        )
        .filter(F.col("g_qk5") == 0)
        .select(
            F.when(F.col("g_d6") == 1, F.lit(_QK_Z - 1))
            .otherwise(F.lit(_QK_Z))
            .cast("int")
            .alias("level"),
            F.concat(F.col("qk5"), F.coalesce(F.col("d6"), F.lit(""))).alias("quadkey"),
            "n_points",
            "sum_bal",
        )
    )


_KDE_H = 4.0  # quartic-kernel bandwidth; grid cell == h, centers 4i+2


@query(
    "spatial_kernel_density",
    oracle=f"""
WITH p AS (
  SELECT CAST({LON} AS DOUBLE) AS lon, CAST({LAT} AS DOUBLE) AS lat
  FROM customer
), cells AS (
  SELECT DISTINCT
         CAST(floor(lon / {_KDE_H}) AS BIGINT) + dx.d AS ix,
         CAST(floor(lat / {_KDE_H}) AS BIGINT) + dy.d AS iy
  FROM p,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
), hit AS (
  SELECT cells.ix, cells.iy,
         (p.lon - (cells.ix * {_KDE_H} + {_KDE_H / 2})) AS dx,
         (p.lat - (cells.iy * {_KDE_H} + {_KDE_H / 2})) AS dy
  FROM cells JOIN p
    ON (p.lon - (cells.ix * {_KDE_H} + {_KDE_H / 2}))
       * (p.lon - (cells.ix * {_KDE_H} + {_KDE_H / 2}))
       + (p.lat - (cells.iy * {_KDE_H} + {_KDE_H / 2}))
       * (p.lat - (cells.iy * {_KDE_H} + {_KDE_H / 2}))
       < {_KDE_H * _KDE_H}
)
SELECT CAST(ix * {_KDE_H} + {_KDE_H / 2} AS DOUBLE) AS center_x,
       CAST(iy * {_KDE_H} + {_KDE_H / 2} AS DOUBLE) AS center_y,
       CAST(count(*) AS BIGINT) AS n_points,
       round(sum(3.0 / ({_PI} * {_KDE_H * _KDE_H})
                 * pow(1.0 - (dx * dx + dy * dy) / {_KDE_H * _KDE_H}, 2)), 4)
         AS density
FROM hit GROUP BY ix, iy
""",
)
def spatial_kernel_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C156: Kernel Density — the ArcGIS Spatial Analyst heatmap tool
    (Silverman, 1986 quartic kernel, the kernel ArcGIS documents):
    density at a grid-cell center c is

      sum over points within h:  3/(pi h^2) * (1 - d^2/h^2)^2.

    The quartic kernel's FINITE support is what makes the exact
    distributed spelling possible: with cell size == bandwidth h, a
    point can only influence the 9 cell centers of its 3x3
    neighborhood (any center two cells away is >= 1.5h from every
    interior point), so each point EXPLODES to exactly 9 (cell,
    contribution) candidates, an exact-distance filter keeps the
    in-support ones, and one hash aggregate per cell sums the
    density surface — no pair join at all, O(9n) work, shuffle keyed
    by cell. Boundary exactness: lattice d^2 is k+0.5 (half-integer
    offsets to integer centers), never equal to h^2 = 16, so < vs <=
    cannot disagree across engines. Only non-empty cells emit (the
    kernel's support IS the emitted cell set). Oracle: brute-force
    points x candidate-centers join."""
    p = table(spark, sf_dir, "customer").select(
        F.expr(LON).cast("double").alias("lon"),
        F.expr(LAT).cast("double").alias("lat"),
    )
    h, h2 = _KDE_H, _KDE_H * _KDE_H
    cand = (
        p.withColumn("ix", F.floor(F.col("lon") / h).cast("bigint"))
        .withColumn("iy", F.floor(F.col("lat") / h).cast("bigint"))
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            (F.col("ix") + F.col("dx")).alias("cx"),
            (F.col("iy") + F.col("dy")).alias("cy"),
            (F.col("lon") - ((F.col("ix") + F.col("dx")) * h + h / 2)).alias("ddx"),
            (F.col("lat") - ((F.col("iy") + F.col("dy")) * h + h / 2)).alias("ddy"),
        )
    )
    d2 = F.col("ddx") * F.col("ddx") + F.col("ddy") * F.col("ddy")
    return (
        cand.filter(d2 < F.lit(h2))
        .groupBy("cx", "cy")
        .agg(
            F.count("*").cast("bigint").alias("n_points"),
            r4(
                F.sum(
                    F.lit(3.0 / (_PI * h2))
                    * F.pow(F.lit(1.0) - (F.col("ddx") * F.col("ddx") + F.col("ddy") * F.col("ddy")) / h2, 2)
                )
            ).alias("density"),
        )
        .select(
            (F.col("cx") * h + h / 2).alias("center_x"),
            (F.col("cy") * h + h / 2).alias("center_y"),
            "n_points",
            "density",
        )
    )


_WEISZFELD_ITERS = 8
_WEISZFELD_EPS = 1e-12  # identical d floor on both engines


def _median_center_oracle() -> str:
    """Unrolled Weiszfeld CTE chain (same iterate count, same start,
    same d floor as the Spark spelling)."""
    ctes = [
        f"p AS (SELECT CAST({LON} AS DOUBLE) AS lon,"
        f" CAST({LAT} AS DOUBLE) AS lat FROM customer)",
        "c0 AS (SELECT avg(lon) AS cx, avg(lat) AS cy,"
        " CAST(count(*) AS BIGINT) AS n FROM p)",
    ]
    for i in range(1, _WEISZFELD_ITERS + 1):
        ctes.append(
            f"c{i} AS (SELECT sum(lon / d) / sum(1 / d) AS cx,"
            f" sum(lat / d) / sum(1 / d) AS cy FROM ("
            f"SELECT lon, lat, greatest(sqrt((lon - cx) * (lon - cx)"
            f" + (lat - cy) * (lat - cy)), {_WEISZFELD_EPS!r}) AS d"
            f" FROM p, c{i - 1}))"
        )
    last = f"c{_WEISZFELD_ITERS}"
    return (
        "WITH " + ",\n".join(ctes) + f"""
SELECT c0.n AS n_points,
       round(c0.cx, 4) AS mean_x, round(c0.cy, 4) AS mean_y,
       round({last}.cx, 4) AS median_x, round({last}.cy, 4) AS median_y
FROM c0, {last}
"""
    )


@query("spatial_median_center", oracle=_median_center_oracle())
def spatial_median_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C162: ArcGIS "Median Center" (Measuring Geographic
    Distributions; task.ts:406-414 forwards the server-side geometry
    stats this family re-implements natively): the geometric median —
    the point minimizing the SUM of Euclidean distances — via 8
    unrolled Weiszfeld (1937) fixed-point iterations seeded at the
    mean center, alongside that mean center (the tool's companion
    output):

      c_{k+1} = sum(p_i / d_i) / sum(1 / d_i),  d_i = max(|p_i - c_k|, 1e-12)

    Iterative-algorithm class (like graph_label_propagation): each
    iteration is ONE full aggregate over the points with the previous
    1-row center broadcast (crossJoin of a scalar — the allowlisted
    shape), so the unrolled plan is a linear chain of 9+1 scans (8
    iterates + seed, +1 re-reference of the seed in the output row) —
    the honest cost of a fixed-point method; at 100 TB you'd persist
    the point projection once and every iteration reads the cached
    columnar pair, which is exactly how LPA's rounds are documented.

    Cross-engine: both engines run the SAME iterate count from the
    SAME seed with the SAME distance floor, so the 8th iterate agrees
    to accumulation noise (~1e-15 relative per pass; the Weiszfeld map
    is contractive near the optimum so noise does not amplify);
    convergence-to-optimum is NOT part of the contract. The d floor
    never binds on the half-integer lattice (iterates sit strictly
    between lattice points — probed: min d ~ 0.3 at all fixtures)."""
    p = _points(spark, sf_dir).select("lon", "lat")
    c0 = p.agg(
        F.avg("lon").alias("cx"),
        F.avg("lat").alias("cy"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cur = c0.select("cx", "cy")
    for _ in range(_WEISZFELD_ITERS):
        j = p.crossJoin(F.broadcast(cur))
        d = F.greatest(
            F.sqrt(
                (F.col("lon") - F.col("cx")) * (F.col("lon") - F.col("cx"))
                + (F.col("lat") - F.col("cy")) * (F.col("lat") - F.col("cy"))
            ),
            F.lit(_WEISZFELD_EPS),
        )
        cur = j.select(
            (F.col("lon") / d).alias("wx"),
            (F.col("lat") / d).alias("wy"),
            (F.lit(1.0) / d).alias("w"),
        ).agg(
            (F.sum("wx") / F.sum("w")).alias("cx"),
            (F.sum("wy") / F.sum("w")).alias("cy"),
        )
    return c0.crossJoin(F.broadcast(cur.select(
        F.col("cx").alias("mx"), F.col("cy").alias("my")
    ))).select(
        F.col("n").alias("n_points"),
        r4(F.col("cx")).alias("mean_x"),
        r4(F.col("cy")).alias("mean_y"),
        r4(F.col("mx")).alias("median_x"),
        r4(F.col("my")).alias("median_y"),
    )


@query(
    "spatial_directional_mean",
    oracle=f"""
WITH od AS (
  SELECT year(o.o_orderdate) AS yr,
         CAST({_S_LON} AS DOUBLE) - CAST({LON} AS DOUBLE) AS dx,
         CAST({_S_LAT} AS DOUBLE) - CAST({LAT} AS DOUBLE) AS dy
  FROM lineitem l
  JOIN orders o   ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
),
u AS (
  SELECT yr, dx / sqrt(dx * dx + dy * dy) AS ux,
         dy / sqrt(dx * dx + dy * dy) AS uy,
         sqrt(dx * dx + dy * dy) AS len
  FROM od WHERE dx <> 0 OR dy <> 0
),
g AS (
  SELECT yr, CAST(count(*) AS BIGINT) AS n_lines,
         sum(ux) AS sx, sum(uy) AS sy, avg(len) AS mlen
  FROM u GROUP BY yr
)
SELECT yr, n_lines,
       round(degrees(atan2(sy, sx)), 4) AS mean_bearing_deg,
       round(1 - sqrt(sx * sx + sy * sy) / n_lines, 4) AS circ_variance,
       round(mlen, 4) AS mean_length
FROM g
""",
)
def spatial_directional_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C163: ArcGIS "Linear Directional Mean" (Measuring Geographic
    Distributions) over the customer->supplier order-flow lines, per
    order year — the circular mean bearing, circular variance
    (1 - mean resultant length, Mardia & Jupp 2000) and mean line
    length of the OD flow field.

    No trig in the data path: cos/sin of each bearing ARE the unit
    vector components dx/|d|, dy/|d| — IEEE sqrt and divide are
    correctly-rounded, so per-line unit vectors are BIT-IDENTICAL
    across engines and the only cross-engine surfaces are the
    aggregation order (~1e-15 relative) and the final per-group
    atan2/degrees on the summed resultant. Zero-length lines
    (coincident lattice endpoints — an exact integer test on
    half-integer coords) are dropped, matching the tool's treatment
    of degenerate features.

    Scale: one fact-fact equi-join (lineitem x orders on the order
    key) + two dimension joins (auto-broadcast here; key-shuffles at
    100 TB), then a 7-group map-side-combined aggregate — the star
    join's plan shape with a 6-sum tail. No window, no Python."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("yr")
    )
    c = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.expr(LON).cast("double").alias("cx"),
        F.expr(LAT).cast("double").alias("cy"),
    )
    s = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"),
        F.expr(_S_LON).cast("double").alias("sx_"),
        F.expr(_S_LAT).cast("double").alias("sy_"),
    )
    od = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, F.col("o_custkey") == F.col("ck"))
        .join(s, F.col("l_suppkey") == F.col("sk"))
        .select(
            "yr",
            (F.col("sx_") - F.col("cx")).alias("dx"),
            (F.col("sy_") - F.col("cy")).alias("dy"),
        )
        .where((F.col("dx") != 0) | (F.col("dy") != 0))
    )
    ln = F.sqrt(F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy"))
    u = od.select(
        "yr",
        (F.col("dx") / ln).alias("ux"),
        (F.col("dy") / ln).alias("uy"),
        ln.alias("len"),
    )
    g = u.groupBy("yr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.sum("ux").alias("sx"),
        F.sum("uy").alias("sy"),
        F.avg("len").alias("mlen"),
    )
    sx, sy, n = F.col("sx"), F.col("sy"), F.col("n_lines")
    return g.select(
        "yr",
        "n_lines",
        r4(F.degrees(F.atan2(sy, sx))).alias("mean_bearing_deg"),
        r4(F.lit(1) - F.sqrt(sx * sx + sy * sy) / n).alias("circ_variance"),
        r4(F.col("mlen")).alias("mean_length"),
    )


_EH_CELL = 10.0  # degrees; grid is <= 36 x 16 cells over the lattice span
_EH_Z = 1.96


@query(
    "spatial_emerging_hotspots",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey AS k,
         CAST(floor(CAST({LON} AS DOUBLE) / {_EH_CELL}) AS BIGINT) AS cx,
         CAST(floor(CAST({LAT} AS DOUBLE) / {_EH_CELL}) AS BIGINT) AS cy
  FROM customer
),
binned AS (
  SELECT p.cx, p.cy, year(o.o_orderdate) * 12 + month(o.o_orderdate) AS m,
         round(sum(o.o_totalprice), 2) AS v
  FROM orders o JOIN pts p ON o.o_custkey = p.k
  GROUP BY 1, 2, 3
),
cells AS (SELECT DISTINCT cx, cy FROM pts),
span AS (
  SELECT min(year(o_orderdate) * 12 + month(o_orderdate)) AS lo,
         max(year(o_orderdate) * 12 + month(o_orderdate)) AS hi
  FROM orders
),
cube AS (
  SELECT g.cx, g.cy, g.m, coalesce(b.v, 0.0) AS v
  FROM (SELECT c.cx, c.cy, mm.m
        FROM cells c CROSS JOIN
             (SELECT unnest(generate_series(lo, hi)) AS m FROM span) mm) g
  LEFT JOIN binned b ON b.cx = g.cx AND b.cy = g.cy AND b.m = g.m
),
contrib AS (
  SELECT cu.cx + o1.dx AS tx, cu.cy + o2.dy AS ty, cu.m + o3.dt AS tm,
         cu.v
  FROM cube cu,
       (SELECT unnest([-1, 0, 1]) AS dx) o1,
       (SELECT unnest([-1, 0, 1]) AS dy) o2,
       (SELECT unnest([-1, 0, 1]) AS dt) o3
),
nb AS (
  SELECT tx, ty, tm, sum(v) AS sx, CAST(count(*) AS DOUBLE) AS wi
  FROM contrib GROUP BY 1, 2, 3
),
mom AS (
  SELECT CAST(count(*) AS DOUBLE) AS nn, avg(v) AS xbar,
         sqrt(sum(v * v) / count(*) - avg(v) * avg(v)) AS s
  FROM cube
),
z AS (
  SELECT cu.cx, cu.cy, cu.m,
         round((nb.sx - mom.xbar * nb.wi)
               / (mom.s * sqrt((mom.nn * nb.wi - nb.wi * nb.wi)
                               / (mom.nn - 1))), 4) AS gz
  FROM cube cu
  JOIN nb ON nb.tx = cu.cx AND nb.ty = cu.cy AND nb.tm = cu.m
  CROSS JOIN mom
),
mk AS (
  SELECT a.cx, a.cy,
         CAST(sum(CASE WHEN b.gz > a.gz THEN 1
                       WHEN b.gz < a.gz THEN -1 ELSE 0 END) AS BIGINT) AS s_mk
  FROM z a JOIN z b ON a.cx = b.cx AND a.cy = b.cy AND b.m > a.m
  GROUP BY 1, 2
),
ties AS (
  SELECT cx, cy, sum(t * (t - 1) * (2 * t + 5)) AS tie_term
  FROM (SELECT cx, cy, gz, CAST(count(*) AS DOUBLE) AS t
        FROM z GROUP BY 1, 2, 3)
  GROUP BY 1, 2
),
per_cell AS (
  SELECT z.cx, z.cy,
         CAST(count(*) AS BIGINT) AS n_bins,
         CAST(count(CASE WHEN z.gz >= {_EH_Z} THEN 1 END) AS BIGINT) AS n_hot,
         CAST(count(CASE WHEN z.gz <= -{_EH_Z} THEN 1 END) AS BIGINT) AS n_cold,
         max(CASE WHEN z.m = (SELECT hi FROM span) THEN z.gz END) AS last_z
  FROM z GROUP BY 1, 2
),
r AS (
  SELECT pc.*, mk.s_mk,
         (CAST(pc.n_bins AS DOUBLE) * (pc.n_bins - 1) * (2 * pc.n_bins + 5)
          - coalesce(t.tie_term, 0)) / 18.0 AS var_s
  FROM per_cell pc
  JOIN mk ON mk.cx = pc.cx AND mk.cy = pc.cy
  LEFT JOIN ties t ON t.cx = pc.cx AND t.cy = pc.cy
),
f AS (
  SELECT cx, cy, n_bins, n_hot, n_cold, last_z,
         CASE WHEN s_mk > 0 THEN (s_mk - 1) / sqrt(var_s)
              WHEN s_mk < 0 THEN (s_mk + 1) / sqrt(var_s)
              ELSE 0 END AS z_mk
  FROM r
)
SELECT cx AS cell_x, cy AS cell_y, n_bins, n_hot, n_cold,
       round(z_mk, 4) AS mk_z,
       CASE WHEN last_z >= {_EH_Z} AND z_mk >= {_EH_Z} THEN 'intensifying hot'
            WHEN last_z >= {_EH_Z} AND n_hot = 1 THEN 'new hot'
            WHEN n_hot * 10 >= n_bins * 9 THEN 'persistent hot'
            WHEN last_z <= -{_EH_Z} AND z_mk <= -{_EH_Z} THEN 'intensifying cold'
            WHEN last_z <= -{_EH_Z} AND n_cold = 1 THEN 'new cold'
            WHEN n_cold * 10 >= n_bins * 9 THEN 'persistent cold'
            WHEN n_hot > 0 OR n_cold > 0 THEN 'sporadic'
            ELSE 'none' END AS pattern
FROM f
""",
)
def spatial_emerging_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C167: ArcGIS "Emerging Hot Spot Analysis" (Space Time Pattern
    Mining toolbox) — the flagship space-time composite, built from
    parts this engine already proves separately: a DENSE space-time
    cube (customer-layer cells x full month span, zero-filled) of
    monthly order revenue, the spatio-temporal Getis-Ord Gi* over the
    27-bin (3x3 spatial x +-1 month) neighborhood per bin, and a
    Mann-Kendall trend test over each cell's monthly z series,
    classified into a simplified 8-label ArcGIS taxonomy
    (new/intensifying/persistent hot & cold, sporadic, none).

    Plan shape, stage by stage (no pair join anywhere):
    - cube: cells (distinct customer cells, grid-bounded <= 576) x
      month sequence (calendar-bounded), LEFT join onto the binned
      fact aggregate — zero-filled so absence of activity is COLD,
      the cube semantics ArcGIS uses;
    - Gi*: each bin EXPLODES to its 27 (target, v) contributions and
      a hash aggregate re-collects them per target (the C156 kernel-
      density trick — neighborhood joins become Expand + groupBy);
      global cube moments via one bounded window (grid x calendar);
    - Mann-Kendall: per-cell in-row nested-HOF S and run-length tie
      term (mk_s_expr/mk_tie_expr, shared with C160) over the
      month-ordered z array — months are calendar-bounded.

    Determinism: per-bin revenue rounds to the cent grid; gi_z rounds
    to r4 BEFORE the trend/flag stage, so every downstream sign, count
    and MK input is an exact grid value on both engines (probed: min
    |raw z x 1e4 - midpoint| and min |gi_z| - 1.96 margins recorded in
    tests). mk_z is then a deterministic function of exact integers.
    Citation: task.ts:406-414 (server-side spatial stats surface this
    family re-implements natively); Getis & Ord 1992; Mann 1945."""
    from .timeseries import mk_s_expr, mk_tie_expr

    pts = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.floor(F.expr(LON).cast("double") / _EH_CELL).alias("cx"),
        F.floor(F.expr(LAT).cast("double") / _EH_CELL).alias("cy"),
    )
    o = table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m"),
        "o_totalprice",
    )
    binned = (
        o.join(pts, o.o_custkey == pts.k)
        .groupBy("cx", "cy", "m")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("v"))
    )
    cells = pts.select("cx", "cy").distinct()
    span = table(spark, sf_dir, "orders").agg(
        F.min(F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("lo"),
        F.max(F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("hi"),
    )
    months = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("m"), "hi"
    )
    cube = (
        cells.crossJoin(F.broadcast(months))
        .join(binned, ["cx", "cy", "m"], "left")
        .select("cx", "cy", "m", "hi", F.coalesce("v", F.lit(0.0)).alias("v"))
    )
    offsets = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"), F.lit(dt).alias("dt"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            for dt in (-1, 0, 1)
        ]
    )
    contrib = cube.select(
        "v", F.explode(offsets).alias("o"), "cx", "cy", "m"
    ).select(
        (F.col("cx") + F.col("o.dx")).alias("tx"),
        (F.col("cy") + F.col("o.dy")).alias("ty"),
        (F.col("m") + F.col("o.dt")).alias("tm"),
        "v",
    )
    nb = contrib.groupBy("tx", "ty", "tm").agg(
        F.sum("v").alias("sx"), F.count(F.lit(1)).cast("double").alias("wi")
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cube_m = cube.select(
        "cx",
        "cy",
        "m",
        "hi",
        "v",
        F.count(F.lit(1)).over(w_all).cast("double").alias("nn"),
        F.avg("v").over(w_all).alias("xbar"),
        F.sum(F.col("v") * F.col("v")).over(w_all).alias("svv"),
    )
    s_glob = F.sqrt(F.col("svv") / F.col("nn") - F.col("xbar") * F.col("xbar"))
    z = cube_m.join(
        nb,
        (F.col("cx") == F.col("tx"))
        & (F.col("cy") == F.col("ty"))
        & (F.col("m") == F.col("tm")),
    ).select(
        "cx",
        "cy",
        "m",
        "hi",
        F.round(
            (F.col("sx") - F.col("xbar") * F.col("wi"))
            / (
                s_glob
                * F.sqrt(
                    (F.col("nn") * F.col("wi") - F.col("wi") * F.col("wi"))
                    / (F.col("nn") - 1)
                )
            ),
            4,
        ).alias("gz"),
    )
    per_cell = z.groupBy("cx", "cy").agg(
        F.count(F.lit(1)).cast("int").alias("n"),
        F.count(F.when(F.col("gz") >= _EH_Z, 1)).cast("bigint").alias("n_hot"),
        F.count(F.when(F.col("gz") <= -_EH_Z, 1)).cast("bigint").alias("n_cold"),
        F.max(F.when(F.col("m") == F.col("hi"), F.col("gz"))).alias("last_z"),
        F.expr("transform(sort_array(collect_list(struct(m, gz))), s -> s.gz)").alias(
            "seq"
        ),
    ).withColumn("rv", F.array_sort(F.col("seq")))
    r = per_cell.select(
        "cx",
        "cy",
        F.col("n").cast("bigint").alias("n_bins"),
        "n_hot",
        "n_cold",
        "last_z",
        mk_s_expr("seq", "n").alias("s_mk"),
        (
            (
                F.col("n").cast("double")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                - mk_tie_expr("rv", "n")
            )
            / 18.0
        ).alias("var_s"),
    )
    s_mk, v_s = F.col("s_mk"), F.col("var_s")
    z_mk = (
        F.when(s_mk > 0, (s_mk - 1) / F.sqrt(v_s))
        .when(s_mk < 0, (s_mk + 1) / F.sqrt(v_s))
        .otherwise(F.lit(0.0))
    )
    hot_last = F.col("last_z") >= _EH_Z
    cold_last = F.col("last_z") <= -_EH_Z
    return r.select(
        F.col("cx").alias("cell_x"),
        F.col("cy").alias("cell_y"),
        "n_bins",
        "n_hot",
        "n_cold",
        r4(z_mk).alias("mk_z"),
        F.when(hot_last & (z_mk >= _EH_Z), F.lit("intensifying hot"))
        .when(hot_last & (F.col("n_hot") == 1), F.lit("new hot"))
        .when(F.col("n_hot") * 10 >= F.col("n_bins") * 9, F.lit("persistent hot"))
        .when(cold_last & (z_mk <= -_EH_Z), F.lit("intensifying cold"))
        .when(cold_last & (F.col("n_cold") == 1), F.lit("new cold"))
        .when(F.col("n_cold") * 10 >= F.col("n_bins") * 9, F.lit("persistent cold"))
        .when((F.col("n_hot") > 0) | (F.col("n_cold") > 0), F.lit("sporadic"))
        .otherwise(F.lit("none"))
        .alias("pattern"),
    )


_DB_EPS = 0.8     # eps (and the blocking cell size)
_DB_EPS2 = 0.64   # eps^2 — the SAME double literal on both engines
_DB_MINPTS = 4    # core if >= 4 points (incl self) within eps


def _dbscan_hash_xy_sql() -> str:
    """Engine-portable pseudo-uniform layer in [0,100)^2 from md5 of
    the customer key (the C159 hex-ladder trick): coordinates are a
    DETERMINISTIC pure function of exact integers evaluated with the
    same literals and op order on both engines, so x/y — and therefore
    every d^2-vs-eps^2 comparison — are BIT-IDENTICAL cross-engine
    (the customer lattice itself is unusable here: its occupied
    positions form one diagonal chain at any eps that connects
    anything, a degenerate single snake cluster)."""

    def axis(col, off):
        digits = " + ".join(
            f"(strpos('0123456789abcdef', substr(h, {off + i}, 1)) - 1)"
            f" * {16 ** (3 - i)}"
            for i in range(4)
        )
        return f"CAST({digits} AS DOUBLE) / 65536.0 * 100.0 AS {col}"

    return (
        "h AS MATERIALIZED (SELECT c_custkey AS k,"
        " md5(CAST(c_custkey AS VARCHAR) || ':pt') AS h FROM customer),\n"
        f"p AS MATERIALIZED (SELECT k, {axis('x', 1)}, {axis('y', 5)} FROM h)"
    )


@query(
    "spatial_dbscan",
    oracle=f"""
WITH RECURSIVE {_dbscan_hash_xy_sql()},
pr AS MATERIALIZED (
  SELECT a.k AS ka, b.k AS kb FROM p a JOIN p b
  ON a.k < b.k
   AND a.x - b.x BETWEEN -{_DB_EPS} AND {_DB_EPS}
   AND a.y - b.y BETWEEN -{_DB_EPS} AND {_DB_EPS}
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_DB_EPS2}
),
deg AS (
  SELECT k, count(*) AS d
  FROM (SELECT ka AS k FROM pr UNION ALL SELECT kb FROM pr) GROUP BY k
),
core AS MATERIALIZED (
  SELECT p.k FROM p LEFT JOIN deg ON deg.k = p.k
  WHERE coalesce(deg.d, 0) + 1 >= {_DB_MINPTS}
),
ce AS (
  SELECT ka, kb FROM pr
  WHERE ka IN (SELECT k FROM core) AND kb IN (SELECT k FROM core)
),
edges AS MATERIALIZED (SELECT ka AS src, kb AS dst FROM ce
          UNION ALL SELECT kb, ka FROM ce),
walk(id, root) AS (
  SELECT k, k FROM core
  UNION
  SELECT e.dst, w.root FROM walk w JOIN edges e ON e.src = w.id
),
comp AS (SELECT id, min(root) AS c FROM walk GROUP BY id),
nbr AS (SELECT ka AS k, kb AS nk FROM pr UNION ALL SELECT kb, ka FROM pr),
border AS (
  SELECT nbr.k, min(comp.c) AS c
  FROM nbr JOIN comp ON comp.id = nbr.nk
  WHERE nbr.k NOT IN (SELECT k FROM core)
  GROUP BY nbr.k
),
clusters AS (
  SELECT c AS cluster_id,
         CAST(count(*) AS BIGINT) AS n_core,
         CAST(0 AS BIGINT) AS n_border
  FROM comp GROUP BY c
),
borders AS (SELECT c AS cluster_id, CAST(count(*) AS BIGINT) AS nb
            FROM border GROUP BY c),
merged AS (
  SELECT cl.cluster_id, cl.n_core, coalesce(b.nb, 0) AS n_border
  FROM clusters cl LEFT JOIN borders b ON b.cluster_id = cl.cluster_id
)
SELECT cluster_id, n_core, n_border, n_core + n_border AS n_total FROM merged
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       (SELECT count(*) FROM p)
       - (SELECT count(*) FROM comp)
       - (SELECT count(*) FROM border)
""",
)
def spatial_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C168: ArcGIS "Density-based Clustering" (DBSCAN; Ester et al.,
    KDD 1996) over an engine-portable hashed point layer: core points
    (>= minPts neighbors within eps), clusters = connected components
    of the core-core eps-graph, border points adopt the MIN adjacent
    core's cluster (deterministic where the paper leaves it
    arbitrary), the rest is noise (cluster_id -1).

    Distributed spelling reuses the repo's two scale primitives:
    - the eps-neighbor pair join is grid-cell blocked (_band_pairs:
      3x3 cell expansion, equi-join, exact d^2 verify — pair volume
      bounded by local density, never n^2);
    - components run through dedup.propagate_min_labels (min-label
      propagation + pointer jumping, O(log diameter) rounds, each one
      edge join + groupBy min; labels localCheckpoint per round).
    Parameters are chosen SUBCRITICAL for the uniform layer (mean
    eps-degree ~3 < the ~4.5 continuum-percolation threshold), so
    components stay small (probed: max 70 points / 1118 clusters at
    sf0.1) and the oracle's recursive-CTE closure is feasible; the
    degenerate alternative — the customer lattice — forms one
    diameter-2880 snake at any connecting eps (see _dbscan_hash_xy_sql).

    Cross-engine: coordinates are bit-identical pure functions of the
    key (md5 hex ladder, same literals/op order), so every d^2 <= eps^2
    pair decision and every count is EXACT — no float noise surface
    anywhere in the output (all-BIGINT columns)."""
    from .dedup import propagate_min_labels

    hexes = "0123456789abcdef"
    h = F.md5(F.concat(F.col("c_custkey").cast("string"), F.lit(":pt")))

    def axis(off):
        u16 = sum(
            (F.instr(F.lit(hexes), F.substring(h, off + i, 1)) - 1) * (16 ** (3 - i))
            for i in range(4)
        )
        return u16.cast("double") / 65536.0 * 100.0

    p = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        axis(1).alias("lon"),
        axis(5).alias("lat"),
        F.lit(0.0).alias("x"),
    )
    # One materialization of the eps-neighbor pairs (optimization r12):
    # four consumers (deg, core-core edges, border adoption x2) would
    # otherwise each re-run the 3x3 grid join AND the md5-ladder
    # coordinate derivation — the pair set is ~1.5 |P| rows of two ints
    # at the subcritical density, so the checkpoint is tiny.
    pairs = barrier(_band_pairs(p, _DB_EPS, _DB_EPS2).select("ka", "kb"))
    deg = (
        pairs.select(F.col("ka").alias("k"))
        .unionAll(pairs.select(F.col("kb").alias("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    flagged = barrier(  # |P| rows; consumed by core (3 uses) + border
        p.select("k").join(deg, "k", "left").select(
            "k", (F.coalesce("d", F.lit(0)) + 1 >= _DB_MINPTS).alias("is_core")
        )
    )
    core = flagged.where("is_core").select("k")
    ce = (
        pairs.join(core.select(F.col("k").alias("ka")), "ka", "semi")
        .join(core.select(F.col("k").alias("kb")), "kb", "semi")
        .select(F.col("ka").alias("id_a"), F.col("kb").alias("id_b"))
    )
    comp = propagate_min_labels(core.select(F.col("k").alias("doc_id")), ce)
    nbr = pairs.select(F.col("ka").alias("k"), F.col("kb").alias("nk")).unionAll(
        pairs.select(F.col("kb").alias("k"), F.col("ka").alias("nk"))
    )
    border = barrier(
        flagged.where(~F.col("is_core"))
        .select("k")
        .join(nbr, "k")
        .join(
            comp.select(F.col("doc_id").alias("nk"), "component_id"), "nk"
        )
        .groupBy("k")
        .agg(F.min("component_id").alias("c"))
    )  # border adoption consumed twice (counts + noise)
    clusters = comp.groupBy(F.col("component_id").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_core")
    )
    borders = border.groupBy(F.col("c").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nb")
    )
    merged = clusters.join(borders, "cluster_id", "left").select(
        "cluster_id",
        "n_core",
        F.coalesce("nb", F.lit(0)).cast("bigint").alias("n_border"),
    ).select(
        "cluster_id",
        "n_core",
        "n_border",
        (F.col("n_core") + F.col("n_border")).cast("bigint").alias("n_total"),
    )
    n_all = p.agg(F.count(F.lit(1)).alias("n")).crossJoin(
        F.broadcast(comp.agg(F.count(F.lit(1)).alias("nc")))
    ).crossJoin(F.broadcast(border.agg(F.count(F.lit(1)).alias("nb"))))
    noise = n_all.select(
        F.lit(-1).cast("bigint").alias("cluster_id"),
        F.lit(0).cast("bigint").alias("n_core"),
        F.lit(0).cast("bigint").alias("n_border"),
        (F.col("n") - F.col("nc") - F.col("nb")).cast("bigint").alias("n_total"),
    )
    return merged.unionAll(noise)


_QZ_TOL = 0.5     # quantization tolerance (grid cell size)
_QZ_OX = -180.0   # grid origin
_QZ_OY = -80.0


@query(
    "etl_quantize_geometry",
    oracle=f"""
WITH base AS (
  SELECT c_custkey,
         CAST(3 + (c_custkey % 4) AS INT) AS nv,
         CAST(1 + (c_custkey % 3) AS DOUBLE) AS r,
         CAST({LON} AS DOUBLE) AS cx,
         CAST({LAT} AS DOUBLE) AS cy
  FROM customer
), v AS (
  SELECT c_custkey, nv,
         list_transform(range(0, nv),
           i -> {{'qx': CAST(floor((cx + r * cos(2 * pi() * i / nv)
                                    - {_QZ_OX}) / {_QZ_TOL} + 1e-9) AS BIGINT),
                  'qy': CAST(floor((cy + r * sin(2 * pi() * i / nv)
                                    - {_QZ_OY}) / {_QZ_TOL} + 1e-9) AS BIGINT)}}) AS q
  FROM base
), k AS (
  SELECT c_custkey, nv,
         list_filter(range(0, nv),
           i -> q[i + 1] != q[((i + nv - 1) % nv) + 1]) AS keep, q
  FROM v
), kq AS (
  SELECT c_custkey, nv,
         CASE WHEN len(keep) = 0 THEN [q[1]]
              ELSE list_transform(keep, i -> q[i + 1]) END AS kv
  FROM k
), a AS (
  SELECT c_custkey, nv, CAST(len(kv) AS BIGINT) AS nv_out,
         CASE WHEN len(kv) < 3 THEN 0
              ELSE abs(list_sum(list_transform(range(0, len(kv)),
                j -> kv[j + 1].qx * kv[(j + 1) % len(kv) + 1].qy
                   - kv[(j + 1) % len(kv) + 1].qx * kv[j + 1].qy))) END AS cr2
  FROM kq
)
SELECT c_custkey, CAST(nv AS BIGINT) AS nv_in, nv_out,
       round(cr2 * {_QZ_TOL * _QZ_TOL} / 2, 4) AS area_q
FROM a
""",
)
def etl_quantize_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14+/C172: ArcGIS ``quantizationParameters`` — the feature-
    service vector-tile protocol (tolerance-grid coordinate
    quantization + vertex generalization) the reference forwards
    verbatim with every query (task.ts:406-414): each ring's vertices
    snap to the tolerance grid (floor((x - origin)/tol), integer
    coords), consecutive vertices that collapse into the same cell
    dedupe CYCLICALLY (wrap-around compare, the ring-closure rule),
    and the generalized ring reports its vertex reduction and its
    quantized area.

    Everything is in-row HOF arithmetic over the C150 variable-length
    ring fixture — zero shuffle, zero Python, one codegen projection.
    EXACTNESS: after the floor, coordinates are BIGINTs, so the cyclic
    dedupe, vertex counts and the shoelace cross-sum are exact integer
    arithmetic — area_q = |sum| * tol^2/2 is an exact rational and the
    r4 round carries no noise. The only cross-engine surface is the
    floor itself, made PROVABLY deterministic by a 1e-9 nudge:
    exactly-representable trig hits (cos(0)=1 — 61% of this fixture's
    vertices) land exactly on cell boundaries, where a 1-ulp libm
    divergence (~5e-14 at these magnitudes) would flip the cell; the
    nudge snaps boundary hits INTO the cell identically on both
    engines (1e-9 >> ulp noise), while irrational vertices sit >=
    0.098 grid units from any boundary (probed at all SFs) so the
    nudge can never flip them.
    Degenerate full collapse (all vertices in one cell) keeps one
    vertex, area 0 — matching the tile protocol's point-degeneration."""
    two_pi = 6.283185307179586
    base = table(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.lit(3) + (F.col("c_custkey") % 4)).cast("int").alias("nv"),
        (F.lit(1) + (F.col("c_custkey") % 3)).cast("double").alias("r"),
        F.expr(LON).cast("double").alias("cx"),
        F.expr(LAT).cast("double").alias("cy"),
    )
    v = base.select(
        "c_custkey",
        "nv",
        F.expr(
            f"""
transform(sequence(0, nv - 1), i -> named_struct(
  'qx', CAST(floor((cx + r * cos({two_pi} * i / nv) - {_QZ_OX}) / {_QZ_TOL} + 1e-9) AS BIGINT),
  'qy', CAST(floor((cy + r * sin({two_pi} * i / nv) - {_QZ_OY}) / {_QZ_TOL} + 1e-9) AS BIGINT)))
"""
        ).alias("q"),
    )
    k = v.select(
        "c_custkey",
        "nv",
        "q",
        F.expr(
            "filter(sequence(0, nv - 1), i -> q[i] != q[(i + nv - 1) % nv])"
        ).alias("keep"),
    )
    kq = k.select(
        "c_custkey",
        "nv",
        F.expr(
            "CASE WHEN size(keep) = 0 THEN array(q[0])"
            " ELSE transform(keep, i -> q[i]) END"
        ).alias("kv"),
    )
    a = kq.select(
        "c_custkey",
        F.col("nv").cast("bigint").alias("nv_in"),
        F.size("kv").cast("bigint").alias("nv_out"),
        F.expr(
            """
CASE WHEN size(kv) < 3 THEN 0L
     ELSE abs(aggregate(sequence(0, size(kv) - 1), 0L,
       (acc, j) -> acc + kv[j].qx * kv[(j + 1) % size(kv)].qy
                       - kv[(j + 1) % size(kv)].qx * kv[j].qy)) END
"""
        ).alias("cr2"),
    )
    return a.select(
        "c_custkey",
        "nv_in",
        "nv_out",
        r4(F.col("cr2") * (_QZ_TOL * _QZ_TOL) / 2).alias("area_q"),
    )


_CLQ_K = 8     # neighbor cap (within the _BAND radius)
_CLQ_L = 840   # lcm(1..8): scales n_aB/n_a into an exact integer


@query(
    "spatial_colocation_quotient",
    oracle=f"""
WITH p AS (
  SELECT c_custkey AS k, CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat, c_mktsegment AS cat
  FROM customer
),
und AS (
  SELECT a.k AS ka, b.k AS kb,
         (a.lon - b.lon) * (a.lon - b.lon)
         + (a.lat - b.lat) * (a.lat - b.lat) AS d2
  FROM p a JOIN p b
    ON a.k < b.k
   AND a.lon - b.lon BETWEEN -{_BAND} AND {_BAND}
   AND a.lat - b.lat BETWEEN -{_BAND} AND {_BAND}
   AND (a.lon - b.lon) * (a.lon - b.lon)
       + (a.lat - b.lat) * (a.lat - b.lat) <= {_BAND * _BAND}
),
pr AS (
  SELECT ka AS src, kb AS nbr, d2 FROM und
  UNION ALL SELECT kb, ka, d2 FROM und
),
rk AS (
  SELECT src, nbr,
         row_number() OVER (PARTITION BY src ORDER BY d2, nbr) AS r
  FROM pr
),
nn AS (SELECT src, nbr FROM rk WHERE r <= {_CLQ_K}),
na AS (SELECT src, CAST(count(*) AS BIGINT) AS n_a FROM nn GROUP BY src),
lab AS (
  SELECT nn.src, ps.cat AS cat_a, pn.cat AS cat_b, na.n_a
  FROM nn
  JOIN p ps ON ps.k = nn.src
  JOIN p pn ON pn.k = nn.nbr
  JOIN na ON na.src = nn.src
),
num AS (
  SELECT cat_a, cat_b,
         CAST(sum({_CLQ_L} / n_a) AS BIGINT) AS num_l,
         CAST(count(DISTINCT src) AS BIGINT) AS n_src
  FROM lab GROUP BY 1, 2
),
cats AS (SELECT cat, CAST(count(*) AS BIGINT) AS n_c FROM p GROUP BY cat),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM p)
SELECT num.cat_a, num.cat_b, num.n_src,
       round(CAST(num.num_l AS DOUBLE) / {_CLQ_L} / ca.n_c
             * (tot.n - 1)
             / (CASE WHEN num.cat_a = num.cat_b THEN cb.n_c - 1
                     ELSE cb.n_c END), 4) AS clq
FROM num
JOIN cats ca ON ca.cat = num.cat_a
JOIN cats cb ON cb.cat = num.cat_b
CROSS JOIN tot
""",
)
def spatial_colocation_quotient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C173: ArcGIS "Colocation Analysis" — the colocation quotient
    (Leibovici et al. 2013; Wang et al., the tool's citation): for
    ordered category pair (A, B), are B points over-represented among
    A points' nearest neighbors, relative to B's global share?

      CLQ_{{A->B}} = (1/N_A) sum_{{a in A}} n_aB / n_a
                   / (N_B' / (N - 1)),   N_B' = N_B - [A == B]

    over each point's within-radius neighbors capped at k=8 (ranked by
    (d^2, key) — the C148 tie-break convention; lattice coincidences
    make a value tie-break mandatory). Category = c_mktsegment.

    EXACTNESS trick: n_a <= 8, so scaling each point's fraction by
    L = lcm(1..8) = 840 makes every contribution L*n_aB/n_a an exact
    INTEGER — the numerator sums as exact BIGINTs in any order, and
    CLQ is a deterministic rational of exact integers (no
    accumulation surface; the r4 round is noise-free).

    Plan: the C148 shape (grid-blocked directed candidates ->
    WindowGroupLimit rank <= k) + two category joins + one 25-row
    tail; the only unpartitioned work is 5-row/1-row broadcasts."""
    p = _points(spark, sf_dir).drop("x").join(
        table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("k"), F.col("c_mktsegment").alias("cat")
        ),
        "k",
    )
    und = _band_pairs(
        p.withColumn("x", F.lit(0.0)), _BAND, _BAND * _BAND
    ).select("ka", "kb", "d2")
    pr = und.select(
        F.col("ka").alias("src"), F.col("kb").alias("nbr"), "d2"
    ).unionAll(und.select(F.col("kb").alias("src"), F.col("ka").alias("nbr"), "d2"))
    w = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("nbr").asc())
    nn = (
        pr.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _CLQ_K)
        .select("src", "nbr")
    )
    na = nn.groupBy("src").agg(F.count(F.lit(1)).cast("bigint").alias("n_a"))
    cats_src = p.select(F.col("k").alias("src"), F.col("cat").alias("cat_a"))
    cats_nbr = p.select(F.col("k").alias("nbr"), F.col("cat").alias("cat_b"))
    lab = nn.join(cats_src, "src").join(cats_nbr, "nbr").join(na, "src")
    num = lab.groupBy("cat_a", "cat_b").agg(
        F.sum(F.lit(_CLQ_L) / F.col("n_a")).cast("bigint").alias("num_l"),
        F.countDistinct("src").cast("bigint").alias("n_src"),
    )
    cats = p.groupBy("cat").agg(F.count(F.lit(1)).cast("bigint").alias("n_c"))
    tot = p.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ca = cats.select(F.col("cat").alias("cat_a"), F.col("n_c").alias("na_c"))
    cb = cats.select(F.col("cat").alias("cat_b"), F.col("n_c").alias("nb_c"))
    r = (
        num.join(F.broadcast(ca), "cat_a")
        .join(F.broadcast(cb), "cat_b")
        .crossJoin(F.broadcast(tot))
    )
    nb_eff = F.when(
        F.col("cat_a") == F.col("cat_b"), F.col("nb_c") - 1
    ).otherwise(F.col("nb_c"))
    return r.select(
        "cat_a",
        "cat_b",
        "n_src",
        r4(
            F.col("num_l").cast("double")
            / _CLQ_L
            / F.col("na_c")
            * (F.col("n") - 1)
            / nb_eff
        ).alias("clq"),
    )


_ISA_BANDS = (1.5, 2.5, 3.5, 4.5)  # increasing distance bands
_ISA_MAX2 = 20.25                  # 4.5^2 — the single pair join's radius


@query(
    "spatial_incremental_morans",
    oracle=f"""
WITH p AS ({_P_SQL}),
g AS MATERIALIZED (
  SELECT CAST(count(*) AS DOUBLE) AS n, avg(x) AS xbar,
         sum((x - (SELECT avg(x) FROM p)) * (x - (SELECT avg(x) FROM p))) AS s_den
  FROM p
),
pr AS MATERIALIZED (
  SELECT a.x AS xa, b.x AS xb, a.k AS ka, b.k AS kb,
         (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) AS d2
  FROM p a JOIN p b ON a.k < b.k
   AND a.lon - b.lon BETWEEN -4.5 AND 4.5
   AND a.lat - b.lat BETWEEN -4.5 AND 4.5
   AND (a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat) <= {_ISA_MAX2}
),
nums AS MATERIALIZED (
  SELECT {", ".join(f'''2.0 * sum(CASE WHEN pr.d2 <= {b*b} THEN (pr.xa - g.xbar) * (pr.xb - g.xbar) END) AS num{i},
         CAST(2 * count(CASE WHEN pr.d2 <= {b*b} THEN 1 END) AS DOUBLE) AS w{i}''' for i, b in enumerate(_ISA_BANDS))}
  FROM pr, g GROUP BY g.xbar
),
deg AS (
  SELECT k, {", ".join(f"CAST(count(CASE WHEN d2 <= {b*b} THEN 1 END) AS DOUBLE) AS d{i}" for i, b in enumerate(_ISA_BANDS))}
  FROM (SELECT ka AS k, d2 FROM pr UNION ALL SELECT kb, d2 FROM pr)
  GROUP BY k
),
s2s AS MATERIALIZED (
  SELECT {", ".join(f"sum(4.0 * d{i} * d{i}) AS s2_{i}" for i in range(len(_ISA_BANDS)))} FROM deg
),
bands AS (
  {" UNION ALL ".join(f'''SELECT CAST({b} AS DOUBLE) AS band, nums.num{i} AS num, nums.w{i} AS w, s2s.s2_{i} AS s2, g.n, g.s_den
   FROM nums, s2s, g''' for i, b in enumerate(_ISA_BANDS))}
),
z AS (
  SELECT band, CAST(w AS BIGINT) AS w_sum,
         round((n / w) * num / s_den, 4) AS morans_i,
         round(((n / w) * num / s_den - (-1.0 / (n - 1)))
               / sqrt((n*n*(2.0*w) - n*s2 + 3.0*w*w) / (w*w*(n*n - 1.0))
                      - (1.0 / ((n - 1) * (n - 1)))), 4) AS z_score
  FROM bands
)
SELECT band, w_sum, morans_i, z_score,
       CASE WHEN z_score = (SELECT max(z_score) FROM z) THEN 1 ELSE 0 END AS is_peak
FROM z
""",
)
def spatial_incremental_morans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C174: ArcGIS "Incremental Spatial Autocorrelation" — Global
    Moran's I (C144) swept over increasing distance bands, reporting
    the z-score per band and flagging the PEAK band (the tool's
    recommended analysis scale for Gi*/kernel bandwidths).

    One pair join at the LARGEST band feeds every band via conditional
    aggregation (the C146 Ripley's K trick): num_b/W_b from one
    4-condition pass over pairs, per-node degrees per band from one
    4-condition pass over pair endpoints (S2_b = sum 4 deg_b^2), all
    combined as 1-row broadcasts and exploded into the 4-row band
    table. W/S2 are exact integer counts; I and z are scale-free
    ratios (§5.3.1); the peak flag compares z AFTER the r4 round (both
    engines compare identical grid values; inter-band z gaps probed
    >> the grid step). The 4-row max window is audit-allowlisted."""
    p = _points(spark, sf_dir)
    g = p.agg(
        F.count("*").cast("double").alias("n"), F.avg("x").alias("xbar")
    )
    pr = _band_pairs(p, _ISA_BANDS[-1], _ISA_MAX2)
    prg = pr.crossJoin(F.broadcast(g))
    num_aggs = []
    for i, b in enumerate(_ISA_BANDS):
        in_b = F.col("d2") <= b * b
        num_aggs.append(
            (
                F.lit(2.0)
                * F.sum(
                    F.when(
                        in_b,
                        (F.col("xa") - F.col("xbar"))
                        * (F.col("xb") - F.col("xbar")),
                    )
                )
            ).alias(f"num{i}")
        )
        num_aggs.append(
            (F.lit(2) * F.count(F.when(in_b, 1))).cast("double").alias(f"w{i}")
        )
    nums = prg.agg(*num_aggs)
    den = p.crossJoin(F.broadcast(g)).agg(
        F.sum(
            (F.col("x") - F.col("xbar")) * (F.col("x") - F.col("xbar"))
        ).alias("s_den")
    )
    ends = pr.select(F.col("ka").alias("k"), "d2").unionAll(
        pr.select(F.col("kb").alias("k"), "d2")
    )
    deg = ends.groupBy("k").agg(
        *[
            F.count(F.when(F.col("d2") <= b * b, 1))
            .cast("double")
            .alias(f"d{i}")
            for i, b in enumerate(_ISA_BANDS)
        ]
    )
    s2s = deg.agg(
        *[
            F.sum(F.lit(4.0) * F.col(f"d{i}") * F.col(f"d{i}")).alias(f"s2_{i}")
            for i in range(len(_ISA_BANDS))
        ]
    )
    row = (
        nums.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(s2s))
        .crossJoin(F.broadcast(g))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"num{i}").alias("num"),
                F.col(f"w{i}").alias("w"),
                F.col(f"s2_{i}").alias("s2"),
            )
            for i, b in enumerate(_ISA_BANDS)
        ]
    )
    bands = row.select(
        "n", "s_den", F.explode(band_structs).alias("t")
    ).select("n", "s_den", "t.band", "t.num", "t.w", "t.s2")
    n, w, num, s2, s_den = (
        F.col(c) for c in ("n", "w", "num", "s2", "s_den")
    )
    i_stat = (n / w) * num / s_den
    ei = F.lit(-1.0) / (n - 1)
    var = (n * n * (F.lit(2.0) * w) - n * s2 + F.lit(3.0) * w * w) / (
        w * w * (n * n - 1.0)
    ) - F.lit(1.0) / ((n - 1) * (n - 1))
    z = bands.select(
        "band",
        w.cast("bigint").alias("w_sum"),
        r4(i_stat).alias("morans_i"),
        r4((i_stat - ei) / F.sqrt(var)).alias("z_score"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return z.select(
        "band",
        "w_sum",
        "morans_i",
        "z_score",
        F.when(
            F.col("z_score") == F.max("z_score").over(w_all), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_peak"),
    )


# ---------------------------------------------------------------------------
# B-surface closure (round 8): the last two forwarded leaf params.
# maxAllowableOffset (server-side geometry generalization) and
# geometryPrecision (coordinate decimal rounding) — task.ts:410-414
# forwards both verbatim with every layer query; Esri documents them as
# on-the-fly vertex thinning / decimal truncation applied to the
# response geometry. C172 (quantizationParameters) closed the third
# member of this family; these two reuse its in-row HOF machinery.

_GG_TOL2 = 1600   # maxAllowableOffset = 40 integer units, squared
_GG_SWEEPS = 3    # deviation-thinning sweeps to fixpoint (probed in tests)
_GG_HEX = "0123456789abcdef"


def _gg_jit(axis: str, engine: str) -> str:
    """Two-hex-digit md5 ladder -> integer jitter in [-25, 25], bit-
    identical on both engines (the corpus.py bucket recipe). `j` is the
    in-scope lambda variable (vertex index), c_custkey the outer key."""
    if engine == "spark":
        h = (
            "md5(concat(cast(c_custkey as string), ':', "
            f"cast(j as string), ':{axis}'))"
        )
        pos, sub = "instr", "substring"
    else:
        h = (
            "md5(CAST(c_custkey AS VARCHAR) || ':' || "
            f"CAST(j AS VARCHAR) || ':{axis}')"
        )
        pos, sub = "strpos", "substr"
    v = (
        f"(({pos}('{_GG_HEX}', {sub}({h}, 1, 1)) - 1) * 16"
        f" + {pos}('{_GG_HEX}', {sub}({h}, 2, 1)) - 1)"
    )
    return f"(CAST({v} % 51 AS BIGINT) - 25)"


def _gg_ring0(engine: str) -> str:
    """Initial ring: nv vertices equally spaced along the perimeter of
    an axis-aligned square of half-side s (integer units), plus md5
    jitter — EXACT integer coordinates on both engines, no trig. The
    perimeter position t = j*step maps piecewise-linearly to (x, y);
    8*s is divisible by every nv in {8, 9, 12, 18} (s = 720*r), so t
    and the coordinates are exact BIGINTs."""
    div = "DIV" if engine == "spark" else "//"
    t = "(j * step)"
    e = f"({t} {div} (2 * s))"
    f_ = f"({t} % (2 * s))"
    bx = (
        f"(CASE {e} WHEN 0 THEN s WHEN 1 THEN s - {f_}"
        f" WHEN 2 THEN -s ELSE -s + {f_} END)"
    )
    by = (
        f"(CASE {e} WHEN 0 THEN -s + {f_} WHEN 1 THEN s"
        f" WHEN 2 THEN s - {f_} ELSE -s END)"
    )
    jx, jy = _gg_jit("x", engine), _gg_jit("y", engine)
    if engine == "spark":
        return (
            "transform(sequence(0, CAST(nv AS INT) - 1), j -> "
            f"named_struct('x', {bx} + {jx}, 'y', {by} + {jy}))"
        )
    return (
        "list_transform(range(0, nv), j -> "
        f"{{'x': {bx} + {jx}, 'y': {by} + {jy}}})"
    )


def _gg_droppable(a: str, engine: str) -> str:
    """Vertex i of ring array `a` is droppable iff its perpendicular
    deviation from the chord joining its cyclic neighbors is <= the
    allowable offset: dev = |cross| / |chord| <= tol, compared as the
    EXACT integer inequality cross^2 <= TOL2 * chord^2 (coords are
    BIGINTs, so both sides are exact — no float, no libm, identical
    keep/drop decisions on both engines)."""
    if engine == "spark":
        m = f"size({a})"

        def idx(e: str) -> str:
            return f"{a}[{e}]"

    else:
        m = f"len({a})"

        def idx(e: str) -> str:
            return f"{a}[({e}) + 1]"

    p = idx(f"(i + {m} - 1) % {m}")
    c = idx("i")
    n = idx(f"(i + 1) % {m}")
    cross = (
        f"(({n}.x - {p}.x) * ({c}.y - {p}.y)"
        f" - ({c}.x - {p}.x) * ({n}.y - {p}.y))"
    )
    chord2 = (
        f"(({n}.x - {p}.x) * ({n}.x - {p}.x)"
        f" + ({n}.y - {p}.y) * ({n}.y - {p}.y))"
    )
    return f"({cross} * {cross} <= {_GG_TOL2} * {chord2})"


def _gg_keep(a: str, engine: str) -> str:
    drop = _gg_droppable(a, engine)
    if engine == "spark":
        return f"filter(sequence(0, size({a}) - 1), i -> NOT {drop})"
    return f"list_filter(range(0, len({a})), i -> NOT {drop})"


def _gg_apply(a: str, ki: str, engine: str) -> str:
    """One sweep: simultaneously drop every droppable vertex. Rings at
    or below 3 vertices stop thinning; an (unreachable — corners keep
    deviation >> tol by construction) all-droppable sweep keeps the
    ring unchanged so the recursion is total on both engines."""
    if engine == "spark":
        return (
            f"CASE WHEN size({a}) <= 3 THEN {a}"
            f" WHEN size({ki}) = 0 THEN {a}"
            f" ELSE transform({ki}, i -> {a}[i]) END"
        )
    return (
        f"CASE WHEN len({a}) <= 3 THEN {a}"
        f" WHEN len({ki}) = 0 THEN {a}"
        f" ELSE list_transform({ki}, i -> {a}[(i) + 1]) END"
    )


def _gg_area2(a: str, engine: str) -> str:
    """Twice the shoelace area of the final ring — exact BIGINT."""
    if engine == "spark":
        m = f"size({a})"
        return (
            f"CASE WHEN {m} < 3 THEN 0L ELSE "
            f"abs(aggregate(sequence(0, {m} - 1), 0L, (acc, j) -> "
            f"acc + {a}[j].x * {a}[(j + 1) % {m}].y"
            f" - {a}[(j + 1) % {m}].x * {a}[j].y)) END"
        )
    m = f"len({a})"
    return (
        f"CAST(CASE WHEN {m} < 3 THEN 0 ELSE "
        f"abs(list_sum(list_transform(range(0, {m}), j -> "
        f"{a}[j + 1].x * {a}[(j + 1) % {m} + 1].y"
        f" - {a}[(j + 1) % {m} + 1].x * {a}[j + 1].y))) END AS BIGINT)"
    )


def _gg_oracle(sweeps: int = _GG_SWEEPS) -> str:
    parts = [
        f"""
WITH base AS (
  SELECT c_custkey,
         CAST(([8, 9, 12, 18])[CAST(c_custkey % 4 AS INT) + 1] AS BIGINT) AS nv,
         CAST(720 * (1 + c_custkey % 3) AS BIGINT) AS s
  FROM customer
), prep AS (
  SELECT c_custkey, nv, s, (8 * s) // nv AS step FROM base
), v0 AS (
  SELECT c_custkey, nv, {_gg_ring0('duck')} AS kv0 FROM prep
)"""
    ]
    cur = "kv0"
    src = "v0"
    for t in range(1, sweeps + 1):
        ki = f"ki{t}"
        nxt = f"kv{t}"
        parts.append(
            f""", k{t} AS (
  SELECT c_custkey, nv, {cur}, {_gg_keep(cur, 'duck')} AS {ki} FROM {src}
), v{t} AS (
  SELECT c_custkey, nv, {_gg_apply(cur, ki, 'duck')} AS {nxt} FROM k{t}
)"""
        )
        cur, src = nxt, f"v{t}"
    parts.append(
        f"""
SELECT c_custkey, CAST(nv AS BIGINT) AS nv_in,
       CAST(len({cur}) AS BIGINT) AS nv_out,
       {_gg_area2(cur, 'duck')} AS area2_gen
FROM {src}"""
    )
    return "".join(parts)


def _generalized_rings(
    spark: SparkSession, sf_dir: str, sweeps: int = _GG_SWEEPS
) -> tuple[DataFrame, str]:
    """Shared builder: the jittered square-perimeter ring fixture plus
    `sweeps` staged thinning passes; returns (df, final kv column)."""
    from .scale_patterns import spread_for_fanout

    # spread BEFORE the per-row HOF sweep ladder (optimization r12):
    # the single-split customer scan otherwise runs every ring's
    # build + thinning sweeps in ONE task
    df = (
        spread_for_fanout(
            table(spark, sf_dir, "customer"),
            n_rows=row_count(sf_dir, "customer"),
        )
        .select(
            "c_custkey",
            F.expr(
                "CAST(element_at(array(8, 9, 12, 18), "
                "CAST(c_custkey % 4 AS INT) + 1) AS BIGINT)"
            ).alias("nv"),
            F.expr("CAST(720 * (1 + c_custkey % 3) AS BIGINT)").alias("s"),
        )
        .withColumn("step", F.expr("(8 * s) DIV nv"))
        .withColumn("kv0", F.expr(_gg_ring0("spark")))
    )
    cur = "kv0"
    for t in range(1, sweeps + 1):
        ki = f"ki{t}"
        df = df.withColumn(ki, F.expr(_gg_keep(cur, "spark")))
        df = df.withColumn(f"kv{t}", F.expr(_gg_apply(cur, ki, "spark")))
        cur = f"kv{t}"
    return df, cur


@query("etl_generalize_geometry", oracle=_gg_oracle())
def etl_generalize_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14++/C176: ArcGIS ``maxAllowableOffset`` — server-side geometry
    generalization, the last structured member of the forwarded query
    surface (task.ts:410-414 passes it verbatim with every layer
    query; Esri documents it as on-the-fly vertex thinning such that
    the generalized geometry deviates from the original by at most the
    offset). The classic algorithm is Douglas-Peucker; the
    cross-engine-deterministic distributed spelling here is ITERATIVE
    DEVIATION THINNING (the bottom-up dual): each sweep drops every
    vertex whose perpendicular deviation from the chord of its cyclic
    neighbors is <= the offset, repeated to fixpoint (_GG_SWEEPS
    sweeps; the fixpoint is probed at all SFs by
    tests/test_spatial_stats.py). Same output contract as DP: every
    surviving vertex deviates more than the offset from its local
    chord, collinear runs collapse to their endpoints, corners
    survive.

    EXACTNESS (the C172 discipline, strengthened — zero libm): ring
    vertices are nv points equally spaced on the perimeter of an
    integer square (half-side s = 720r units; 8s divisible by every
    nv in {8, 9, 12, 18}) plus md5-ladder integer jitter in [-25, 25]
    — exact BIGINTs on both engines, no trig anywhere. The drop test
    compares cross^2 <= tol^2 * chord^2 in exact integer arithmetic
    (|coords| <= 2185, so cross^2 <= 1.6e15 and tol^2*chord^2 <= 6e10,
    both far inside BIGINT), the sweep is a simultaneous set-drop (no
    order dependence), and the reported doubled shoelace area of the
    generalized ring is an exact integer — every output column is a
    BIGINT with zero float surface.

    Scale: pure in-row HOF projection over <= 18-vertex arrays — one
    scan, zero Exchange, zero Python (plan-pinned); at 100 TB this is
    embarrassingly parallel map work, exactly how a feature service
    generalizes tiles on the way out."""
    df, cur = _generalized_rings(spark, sf_dir)
    return df.select(
        "c_custkey",
        F.col("nv").alias("nv_in"),
        F.size(cur).cast("bigint").alias("nv_out"),
        F.expr(_gg_area2(cur, "spark")).alias("area2_gen"),
    )


def _gp_jit(axis: str, engine: str) -> str:
    """Five-hex-digit md5 ladder -> m in [0, 1048575], then the ODD
    dyadic-free jitter (2*(m % 1000000) + 1) / 2000000 in (0, 1).
    The odd numerator makes an exact decimal midpoint at 4 (or 1)
    decimals impossible — a midpoint would need numerator = 100000
    mod 200000 (even) — so the downstream floor-based rounding never
    sits on a tie. Every operation (%, *, +, /) is IEEE-correctly-
    rounded, so both engines hold the bit-identical double."""
    if engine == "spark":
        h = f"md5(concat(cast(c_custkey as string), ':gp{axis}'))"
        pos, sub = "instr", "substring"
    else:
        h = f"md5(CAST(c_custkey AS VARCHAR) || ':gp{axis}')"
        pos, sub = "strpos", "substr"
    digits = " + ".join(
        f"({pos}('{_GG_HEX}', {sub}({h}, {d + 1}, 1)) - 1) * {16 ** (4 - d)}"
        for d in range(5)
    )
    # CAST divisor: a bare 2000000.0 literal parses as DECIMAL in DuckDB,
    # and newer DuckDB types int/DECIMAL division as DECIMAL (scale-rounded
    # value + Decimal pandas materialization) — the r10 C12 hash-regression
    # class. CAST(... AS DOUBLE) forces the identical IEEE double division
    # in every DuckDB version and in Spark (shared text, both dialects).
    return (
        f"((2 * (CAST({digits} AS BIGINT) % 1000000) + 1)"
        " / CAST(2000000 AS DOUBLE))"
    )


def _gp_snap(x: str, p: int) -> str:
    """Half-up-toward-+inf decimal rounding as an explicit floor
    formula — identical text on both engines, no engine round() and
    therefore no tie-rule dependence: floor of the same double is the
    same integer everywhere. Returns the scaled BIGINT coordinate."""
    scale = 10 ** p
    return f"CAST(floor(({x}) * {scale} + 0.5) AS BIGINT)"


_GP_SQL_COLS = f"""
  CAST({LON} AS DOUBLE) + {{jx}} AS lon,
  CAST({LAT} AS DOUBLE) + {{jy}} AS lat
"""


@query(
    "etl_geometry_precision",
    oracle=f"""
WITH pts AS (
  SELECT c_custkey, c_mktsegment,
         CAST({LON} AS DOUBLE) + {_gp_jit('x', 'duck')} AS lon,
         CAST({LAT} AS DOUBLE) + {_gp_jit('y', 'duck')} AS lat
  FROM customer
), snapped AS (
  SELECT c_mktsegment,
         {_gp_snap('lon', 4)} AS ulon4, {_gp_snap('lat', 4)} AS ulat4,
         {_gp_snap('lon', 1)} AS ulon1, {_gp_snap('lat', 1)} AS ulat1,
         {_gp_snap('lon', 0)} AS ulon0, {_gp_snap('lat', 0)} AS ulat0
  FROM pts
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_pts,
       CAST(count(DISTINCT ulon4 * 4000000 + ulat4) AS BIGINT) AS n_cells4,
       CAST(count(DISTINCT ulon1 * 4000 + ulat1) AS BIGINT) AS n_cells1,
       CAST(count(DISTINCT ulon0 * 400 + ulat0) AS BIGINT) AS n_cells0,
       CAST(sum(ulon4) AS BIGINT) AS sum_ulon4,
       CAST(min(ulat4) AS BIGINT) AS min_ulat4
FROM snapped
GROUP BY c_mktsegment
""",
)
def etl_geometry_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B14++/C177: ArcGIS ``geometryPrecision`` — the number of decimal
    places in response geometry coordinates, forwarded verbatim by the
    reference with every layer query (task.ts:410-414). Semantics:
    every coordinate rounds to p decimals on the way out; collapsing
    coincident snapped vertices is the consumer-visible effect (fewer
    distinct locations at coarser precision).

    Spelled as the explicit floor formula floor(x*10^p + 0.5) — NOT
    engine round() — so no tie-break rule is ever consulted: both
    engines hold bit-identical doubles (half-integer lattice base +
    odd-numerator dyadic-free md5 jitter, IEEE ops only, zero libm)
    and floor of the same double is the same integer. The jitter's odd
    numerator over 2e6 makes exact decimal midpoints at p in {1, 4}
    impossible (parity argument in _gp_jit), so the formula is also
    SEMANTICALLY half-up, not accidentally tie-dependent. Outputs are
    scaled-BIGINT coordinates and counts — zero float surface.

    The per-segment precision ladder n_cells4 >= n_cells1 >= n_cells0
    (at p=0 every lattice-sharing customer collapses into one cell —
    jitter < 1 cannot cross an integer-degree boundary from an X.5
    base) is exactly what a precision knob does to a feature payload. Scale: one scan, one
    hash aggregate with map-side combine; distinct-cell counts ride
    the same shuffle key (c_mktsegment, 5 groups)."""
    jx, jy = _gp_jit("x", "spark"), _gp_jit("y", "spark")
    pts = table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        F.expr(f"CAST({LON} AS DOUBLE) + {jx}").alias("lon"),
        F.expr(f"CAST({LAT} AS DOUBLE) + {jy}").alias("lat"),
    )
    snapped = pts.select(
        "c_mktsegment",
        F.expr(_gp_snap("lon", 4)).alias("ulon4"),
        F.expr(_gp_snap("lat", 4)).alias("ulat4"),
        F.expr(_gp_snap("lon", 1)).alias("ulon1"),
        F.expr(_gp_snap("lat", 1)).alias("ulat1"),
        F.expr(_gp_snap("lon", 0)).alias("ulon0"),
        F.expr(_gp_snap("lat", 0)).alias("ulat0"),
    )
    return snapped.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_pts"),
        F.countDistinct(
            F.col("ulon4") * 4000000 + F.col("ulat4")
        ).alias("n_cells4"),
        F.countDistinct(F.col("ulon1") * 4000 + F.col("ulat1")).alias(
            "n_cells1"
        ),
        F.countDistinct(F.col("ulon0") * 400 + F.col("ulat0")).alias(
            "n_cells0"
        ),
        F.sum("ulon4").alias("sum_ulon4"),
        F.min("ulat4").alias("min_ulat4"),
    )


# Jittered point layer: the half-integer lattice plus the dyadic md5
# jitter in (0, 1) (the _gp_jit recipe — bit-identical doubles on both
# engines). Separates the lattice's exact-duplicate positions
# (c_custkey vs c_custkey + 1440), giving a non-degenerate nearest-
# neighbor structure: consecutive keys sit at base offset (1, 1), so
# every point's true NN is within 2*sqrt(2) < 3 of it (wrap keys use
# the other-side consecutive key, same bound; probed differentially by
# the brute-force oracle below).
_ANN_BAND = 3.0


def _jittered_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    jx, jy = _gp_jit("x", "spark"), _gp_jit("y", "spark")
    return table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"),
        F.expr(f"CAST({LON} AS DOUBLE) + {jx}").alias("lon"),
        F.expr(f"CAST({LAT} AS DOUBLE) + {jy}").alias("lat"),
        F.col("c_acctbal").alias("x"),
    )


_JP_SQL = f"""
  SELECT c_custkey AS k,
         CAST({LON} AS DOUBLE) + {_gp_jit('x', 'duck')} AS lon,
         CAST({LAT} AS DOUBLE) + {_gp_jit('y', 'duck')} AS lat
  FROM customer
"""


@query(
    "spatial_avg_nearest_neighbor",
    oracle=f"""
WITH p AS MATERIALIZED ({_JP_SQL}),
nn AS (
  SELECT a.k,
         min((a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)) AS d2
  FROM p a JOIN p b ON a.k <> b.k
  GROUP BY a.k
),
s1 AS (
  SELECT sum(sqrt(d2)) AS s_nn, CAST(count(*) AS BIGINT) AS n_resolved
  FROM nn
),
s2 AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         (max(lon) - min(lon)) * (max(lat) - min(lat)) AS area
  FROM p
)
SELECT n, n_resolved,
       round(s_nn / n, 4) AS d_obs,
       round(0.5 / sqrt(n / area), 4) AS d_exp,
       round((s_nn / n) / (0.5 / sqrt(n / area)), 4) AS ann_ratio,
       round((s_nn / n - 0.5 / sqrt(n / area))
             / (0.26136 / sqrt(n * n / area)), 4) AS z_score
FROM s2, s1
""",
)
def spatial_avg_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C179: Average Nearest Neighbor — the last flagship member of the
    ArcGIS "Analyzing Patterns" toolbox (with Moran's I C144, Ripley's
    K C146, General G C153): observed mean nearest-neighbor distance
    vs the expectation 1/(2*sqrt(n/A)) under CSR (Clark & Evans 1954),
    ratio < 1 = clustered, > 1 = dispersed, z = (Do - De) / SE with
    SE = 0.26136 / sqrt(n^2/A) (Esri's documented constant), A = the
    bounding-rectangle study area (Esri's default).

    Plan: the C148 kNN shape reduced to rank-1 — grid-blocked pair
    generation (_band_pairs, cell = band = 3.0) -> directed union ->
    min(d2) per source (a hash aggregate, cheaper than the rank
    window) -> one global aggregate, combined with the bbox/count
    moments via a 1-row broadcast (audit-allowlisted). The oracle is
    BRUTE-FORCE TRUE NN over all n^2 pairs — engine agreement proves
    the 3.0-band blocking loses no point's true nearest neighbor on
    the jittered lattice (consecutive keys sit within 2*sqrt(2) < 3),
    the same blocked-equals-spec discipline as C144-C146. n_resolved
    is emitted precisely so a dropped isolated point can never hide.
    Floats: both engines hold bit-identical coordinates (dyadic md5
    jitter, IEEE ops only), so every d2 comparison and min() agree
    exactly; only the final sum carries order noise (~1e-12 against
    the 1e-4 grid at d_obs ~ 0.5)."""
    p = _jittered_points(spark, sf_dir)
    und = _band_pairs(p, _ANN_BAND, _ANN_BAND * _ANN_BAND)
    pr = und.select(F.col("ka").alias("src"), "d2").unionAll(
        und.select(F.col("kb").alias("src"), "d2")
    )
    nn = pr.groupBy("src").agg(F.min("d2").alias("d2"))
    s1 = nn.agg(
        F.sum(F.sqrt("d2")).alias("s_nn"),
        F.count("*").alias("n_resolved"),
    )
    s2 = p.agg(
        F.count("*").alias("n"),
        ((F.max("lon") - F.min("lon")) * (F.max("lat") - F.min("lat"))).alias(
            "area"
        ),
    )
    c = s2.crossJoin(F.broadcast(s1))
    d_obs = F.col("s_nn") / F.col("n")
    d_exp = 0.5 / F.sqrt(F.col("n") / F.col("area"))
    se = 0.26136 / F.sqrt(F.col("n") * F.col("n") / F.col("area"))
    return c.select(
        "n",
        "n_resolved",
        r4(d_obs).alias("d_obs"),
        r4(d_exp).alias("d_exp"),
        r4(d_obs / d_exp).alias("ann_ratio"),
        r4((d_obs - d_exp) / se).alias("z_score"),
    )


_HEX_R = 2.0  # hex circumradius (degrees) — cells well above jitter scale
_SQRT3_3 = 0.5773502691896257  # sqrt(3)/3 as a shared 17-digit literal


def _hex_stage1() -> str:
    """Fractional axial coords (pointy-top hexes, Red Blob Games'
    standard axial/cube algebra): identical text on both engines."""
    return (
        f"({_SQRT3_3!r} * lon - lat / 3) / {_HEX_R!r} AS qf, "
        f"(2 * lat / 3) / {_HEX_R!r} AS rf"
    )


def _hex_stage2() -> str:
    """Cube rounding, tie-free floor(x+0.5) spelling. All inputs are
    bit-identical doubles cross-engine (dyadic jitter + IEEE ops with
    literal constants), so every comparison lands identically."""
    return """
  CAST(floor(qf + 0.5) AS BIGINT) AS q1,
  CAST(floor(rf + 0.5) AS BIGINT) AS r1,
  CAST(floor((-qf - rf) + 0.5) AS BIGINT) AS s1,
  abs(floor(qf + 0.5) - qf) AS dq,
  abs(floor(rf + 0.5) - rf) AS dr,
  abs(floor((-qf - rf) + 0.5) - (-qf - rf)) AS ds
"""


def _hex_stage3() -> str:
    return """
  CASE WHEN dq > dr AND dq > ds THEN -r1 - s1 ELSE q1 END AS hq,
  CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds THEN -q1 - s1 ELSE r1 END AS hr
"""


@query(
    "spatial_hex_tessellation",
    oracle=f"""
WITH p AS ({_JP_SQL}),
a AS (SELECT k, lon, lat, {_hex_stage1()} FROM p),
b AS (SELECT k, qf, rf, {_hex_stage2()} FROM a),
c AS (SELECT k, {_hex_stage3()} FROM b),
j AS (
  SELECT c.hq, c.hr, cu.c_acctbal
  FROM c JOIN customer cu ON cu.c_custkey = c.k
)
SELECT hq, hr,
       CAST(count(*) AS BIGINT) AS n_pts,
       CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
FROM j
GROUP BY hq, hr
""",
)
def spatial_hex_tessellation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C181: Generate Tessellation (hexagon bin) + Summarize — the
    ArcGIS hex-binning pair (hexagons tile with uniform neighbor
    distance, the preferred aggregation cell for point density maps;
    squares/quadkeys are C155). Points map to axial hex coordinates
    (pointy-top, circumradius {_HEX_R}) and snap via CUBE ROUNDING:
    round each cube component, then repair the one with the largest
    rounding error so q + r + s = 0 stays invariant — the standard
    exact algorithm, spelled with the tie-free floor(x+0.5) formula.

    Determinism: jittered-lattice coords are bit-identical doubles on
    both engines (dyadic md5 jitter, IEEE ops, literal constants —
    sqrt(3)/3 embedded as a 17-digit literal, never computed), so
    every rounding-error comparison and the final (hq, hr) agree
    exactly; outputs are BIGINT cells, counts, and money cents via the
    floor(x*100 + 0.5) spelling (a bare double->BIGINT cast truncates
    on one engine and rounds on the other — SURVEY 5.3.8).

    Scale: projection + ONE map-side-combined hash aggregate on the
    cell key — the same shape as the C155 quadkey rollup; no pair
    join, no window, no Python."""
    p = _jittered_points(spark, sf_dir)
    a = p.select(
        "k",
        "x",
        F.expr(f"({_SQRT3_3!r} * lon - lat / 3) / {_HEX_R!r}").alias("qf"),
        F.expr(f"(2 * lat / 3) / {_HEX_R!r}").alias("rf"),
    )
    b = a.select("k", "x", "qf", "rf", *[
        F.expr(e.strip().rsplit(" AS ", 1)[0]).alias(
            e.strip().rsplit(" AS ", 1)[1]
        )
        for e in _hex_stage2().strip().split(",\n")
    ])
    c = b.select(
        "k",
        "x",
        F.expr(
            "CASE WHEN dq > dr AND dq > ds THEN -r1 - s1 ELSE q1 END"
        ).alias("hq"),
        F.expr(
            "CASE WHEN NOT (dq > dr AND dq > ds) AND dr > ds"
            " THEN -q1 - s1 ELSE r1 END"
        ).alias("hr"),
    )
    return c.groupBy("hq", "hr").agg(
        F.count("*").alias("n_pts"),
        F.sum(F.expr("CAST(floor(x * 100 + 0.5) AS BIGINT)")).alias("sum_cents"),
    )


_LOF_K = 3
_LOF_BAND = 6.0   # >= 4*sqrt(2): jittered keys k+-1..3 stay in-band, so
                  # every point's true 3rd NN is inside the band
_LOF_ORACLE_BAND = 10.0  # oracle prefilter, strictly wider on purpose


@query(
    "spatial_lof_outliers",
    oracle=f"""
WITH p AS MATERIALIZED ({_JP_SQL}),
pr AS (
  SELECT a.k AS src, b.k AS nbr,
         sqrt((a.lon-b.lon)*(a.lon-b.lon) + (a.lat-b.lat)*(a.lat-b.lat)) AS d
  FROM p a JOIN p b
    ON a.k <> b.k
   AND a.lon - b.lon BETWEEN -{_LOF_ORACLE_BAND} AND {_LOF_ORACLE_BAND}
   AND a.lat - b.lat BETWEEN -{_LOF_ORACLE_BAND} AND {_LOF_ORACLE_BAND}
),
rk AS (
  SELECT src, nbr, d,
         row_number() OVER (PARTITION BY src ORDER BY d, nbr) AS r
  FROM pr
),
knn AS (SELECT src, nbr, d FROM rk WHERE r <= {_LOF_K}),
kd AS (SELECT src, max(d) AS kdist FROM knn GROUP BY src),
reach AS (
  SELECT knn.src, knn.nbr, greatest(kb.kdist, knn.d) AS rd
  FROM knn JOIN kd kb ON kb.src = knn.nbr
),
lrd AS (SELECT src, {_LOF_K} / sum(rd) AS lrd FROM reach GROUP BY src),
lof AS (
  SELECT knn.src, sum(ln.lrd) / ({_LOF_K} * la.lrd) AS lof
  FROM knn
  JOIN lrd ln ON ln.src = knn.nbr
  JOIN lrd la ON la.src = knn.src
  GROUP BY knn.src, la.lrd
)
SELECT lof.src AS k, round(kd.kdist, 4) AS kdist,
       round(lrd.lrd, 4) AS lrd, round(lof.lof, 4) AS lof
FROM lof JOIN kd ON kd.src = lof.src JOIN lrd ON lrd.src = lof.src
""",
)
def spatial_lof_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C187: Local Outlier Factor (Breunig et al., SIGMOD 2000) — the
    canonical density-ratio anomaly detector (points whose local
    density is low RELATIVE to their neighbors' score > 1), over the
    jittered point layer with k = {_LOF_K}:

      kdist(b)   = distance to b's k-th neighbor
      reach(a,b) = max(kdist(b), d(a,b))
      lrd(a)     = k / sum_b reach(a,b)
      LOF(a)     = mean_b lrd(b) / lrd(a)

    Plan: the C148 grid-blocked kNN (WindowGroupLimit rank <= k), then
    two equi-joins that ship the k-distances and lrds back along the
    kNN edges — every stage is key-partitioned, nothing global. The
    {_LOF_BAND}-degree band provably contains every point's true 3rd
    NN (keys k±1..±3 sit within 4*sqrt(2) after jitter); the oracle
    deliberately uses a WIDER {_LOF_ORACLE_BAND}-degree brute pass so
    engine agreement re-proves the bound rather than assuming it.
    Distances are identical doubles cross-engine (bit-identical
    coords, sqrt correctly rounded); the 3-term reach/lrd sums carry
    ulp-order noise ~12 orders under the r4 grid.

    Plan note: the kNN edge table is referenced by four downstream
    joins; Catalyst re-plans the shared subtree per reference but
    ReusedExchange deduplicates the EXECUTION (measured r12: a
    localCheckpoint barrier here ran 3.6 -> 6.6 s — the barrier broke
    exchange reuse and cost an extra materialization, so it was
    reverted; at 100 TB a persisted kNN table across queries is still
    the right layout, but inside one query the reused exchange wins)."""
    p = _jittered_points(spark, sf_dir)
    und = _band_pairs(p, _LOF_BAND, _LOF_BAND * _LOF_BAND)
    pr = und.select(
        F.col("ka").alias("src"), F.col("kb").alias("nbr"), "d2"
    ).unionAll(
        und.select(F.col("kb").alias("src"), F.col("ka").alias("nbr"), "d2")
    ).withColumn("d", F.sqrt("d2"))
    w = Window.partitionBy("src").orderBy(F.col("d").asc(), F.col("nbr").asc())
    knn = (
        pr.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _LOF_K)
        .select("src", "nbr", "d")
    )
    kd = knn.groupBy("src").agg(F.max("d").alias("kdist"))
    reach = knn.join(
        kd.select(F.col("src").alias("nbr"), F.col("kdist").alias("kdist_b")),
        "nbr",
    ).select("src", "nbr", F.greatest("kdist_b", "d").alias("rd"))
    lrd = reach.groupBy("src").agg(
        (F.lit(_LOF_K) / F.sum("rd")).alias("lrd")
    )
    lof = (
        knn.join(
            lrd.select(F.col("src").alias("nbr"), F.col("lrd").alias("lrd_b")),
            "nbr",
        )
        .join(lrd, "src")
        .groupBy("src", "lrd")
        .agg((F.sum("lrd_b") / (_LOF_K * F.first("lrd"))).alias("lof"))
    )
    return (
        lof.join(kd, "src")
        .select(
            F.col("src").alias("k"),
            r4(F.col("kdist")).alias("kdist"),
            r4(F.col("lrd")).alias("lrd"),
            r4(F.col("lof")).alias("lof"),
        )
    )


@query(
    "spatial_huff_model",
    oracle=f"""
WITH cust AS MATERIALIZED (
  SELECT c_custkey,
         CAST({LON} AS DOUBLE) AS x,
         CAST({LAT} AS DOUBLE) AS y
  FROM customer
), st AS MATERIALIZED (
  SELECT s_suppkey,
         CAST(((s_suppkey * 37) % 360) - 180 AS DOUBLE) AS x,
         CAST(((s_suppkey * 53) % 160) - 80 AS DOUBLE) AS y,
         CAST(1 + (s_suppkey % 9) AS DOUBLE) AS a
  FROM supplier
), w AS MATERIALIZED (
  SELECT c.c_custkey, st.s_suppkey,
         st.a / ((c.x - st.x) * (c.x - st.x) + (c.y - st.y) * (c.y - st.y)) AS w
  FROM cust c CROSS JOIN st
), tot AS MATERIALIZED (
  SELECT c_custkey, sum(w) AS tw FROM w GROUP BY c_custkey
)
SELECT w.s_suppkey AS store_key,
       CAST(max(st.a) AS BIGINT) AS attractiveness,
       round(sum(w.w / tot.tw), 4) AS captured_demand,
       round(100.0 * sum(w.w / tot.tw) / (SELECT count(*) FROM cust), 4)
         AS market_share_pct
FROM w
JOIN tot ON w.c_custkey = tot.c_custkey
JOIN st ON st.s_suppkey = w.s_suppkey
GROUP BY w.s_suppkey
""",
)
def spatial_huff_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HUFF GRAVITY MODEL (ArcGIS Business Analyst's Huff Model tool;
    Huff 1963): the probability a consumer at origin i patronizes
    store j is the store's attractiveness over squared distance,
    normalized across all stores — P_ij = (A_j/d²_ij) / Σ_k A_k/d²_ik
    (distance-decay exponent λ=2, the classical calibration, which
    keeps d² an exact IEEE value on the lattice: customers sit on the
    half-integer grid, stores on the integer grid, so d² = n + 0.5 is
    exact and never zero). Output per store: total captured demand
    Σ_i P_ij (each customer carries one demand unit) and market share
    — the trade-area summary the tool reports.

    Scale shape — the OD star with DEMAND-POINT AGGREGATION, which is
    how the tool itself runs (block centroids, not addresses): origins
    first aggregate to weighted lattice cells (customer positions are
    (c%360, c%160)-periodic → ≤2880 distinct cells at ANY scale
    factor, multiplicity m per cell), so the OD expansion is
    |cells|×|S|, not |customers|×|S| — the fact table is reduced to a
    BOUNDED relation before the gravity math, all of it
    whole-stage-codegen (no lambda HOFs: an earlier in-row-fold
    spelling paid ~12 s of interpreted HOF evaluation at sf0.1; this
    one runs the same math in ~1 s). Per-cell normalizers come from a
    partitioned window over the OD rows (one skinny shuffle); capture
    returns via groupBy(store) partial aggregation. At planetary store
    counts you'd additionally bound the competitor set by distance
    cutoff / grid blocking (the C179/C187 trick); Huff trade areas are
    local by construction.

    Floats: every w_ij = A/d² is one IEEE division of exact values;
    engine divergence is group-sum ORDER only (the cell-weighted sum
    Σ m·P vs the oracle's per-customer sum), ~1e-12 absolute against
    the 5e-5 r4 grid (SURVEY §5.3.1 magnitude check)."""
    from ..helpers import r4

    origins = (
        table(spark, sf_dir, "customer")
        .selectExpr(
            f"CAST({LON} AS DOUBLE) AS x",
            f"CAST({LAT} AS DOUBLE) AS y",
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("double").alias("m"))
    )
    stores = table(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        "CAST(((s_suppkey * 37) % 360) - 180 AS DOUBLE) AS sx",
        "CAST(((s_suppkey * 53) % 160) - 80 AS DOUBLE) AS sy",
        "CAST(1 + (s_suppkey % 9) AS DOUBLE) AS a",
    )
    n_cust = table(spark, sf_dir, "customer").count()  # plan literal
    od = origins.crossJoin(F.broadcast(stores)).withColumn(
        "w",
        F.col("a")
        / (
            (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
            + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
        ),
    )
    tw = F.sum("w").over(Window.partitionBy("x", "y"))
    return (
        od.withColumn("p", F.col("w") / tw)
        .groupBy(F.col("s_suppkey").alias("store_key"))
        .agg(
            F.max(F.col("a").cast("bigint")).alias("attractiveness"),
            F.sum(F.col("m") * F.col("p")).alias("cap"),
        )
        .select(
            "store_key",
            "attractiveness",
            r4("cap").alias("captured_demand"),
            r4(F.lit(100.0) * F.col("cap") / F.lit(float(n_cust))).alias(
                "market_share_pct"
            ),
        )
    )


@query(
    "spatial_gwr_local_mean",
    oracle=f"""
WITH p AS MATERIALIZED (
  SELECT c_custkey AS k,
         CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat,
         CAST(c_acctbal AS DOUBLE) AS v
  FROM customer
), pairs AS MATERIALIZED (
  SELECT a.k,
         CAST(floor(b.v * 100 + 0.5) AS BIGINT) AS cents,
         CAST((a.lon - b.lon) * (a.lon - b.lon)
              + (a.lat - b.lat) * (a.lat - b.lat) AS BIGINT) AS d2i
  FROM p a JOIN p b
    ON b.lon BETWEEN a.lon - 6 AND a.lon + 6
   AND b.lat BETWEEN a.lat - 6 AND a.lat + 6
   AND (a.lon - b.lon) * (a.lon - b.lon)
       + (a.lat - b.lat) * (a.lat - b.lat) < 36
)
SELECT k,
       CAST(count(*) AS BIGINT) AS n_nbrs,
       round(CAST(sum((36 - d2i) * (36 - d2i) * cents) AS DOUBLE)
             / CAST(sum((36 - d2i) * (36 - d2i)) * 100 AS DOUBLE), 4)
         AS local_mean
FROM pairs
GROUP BY k
""",
)
def spatial_gwr_local_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOGRAPHICALLY WEIGHTED SUMMARY (ArcGIS Geographically Weighted
    Regression family / GW Summary Statistics; Brunsdon, Fotheringham
    & Charlton 1996): at every point, the locally weighted mean of the
    attribute over neighbors inside bandwidth h=6, weighted by the
    BISQUARE kernel w = (1 - d²/h²)² — ArcGIS's default adaptive-GWR
    kernel shape, chosen here over the Gaussian deliberately: it is
    PURE ARITHMETIC (no exp/libm, the r8 engine-neutral recipe), has
    compact support (the grid block IS the kernel support, nothing is
    truncated), and d² is an exact integer on the lattice, so both
    engines compute bit-identical weights. The point itself
    participates with w=1 (d=0), standard GW summary convention.

    Output per point: neighbor count inside the bandwidth and the
    local weighted mean — the smoothed surface whose deviation from
    the global mean is what GWR maps as spatial nonstationarity.

    Scale shape: the C179/C187 grid-block pattern — bin to h-sized
    cells, replicate the right side to its 3×3 neighborhood, equi-join
    on the cell key (pairs bounded by local density, never a cross
    join), one groupBy(point) partial aggregation. Exactness: both
    aggregate sums are BIGINTs ((36−d²)²·cents and (36−d²)² — d² is an
    exact lattice integer), so the result is ONE IEEE division of
    identical operands on each engine; no sum-order noise exists at
    all (§5.3.1 strongest form)."""
    from ..helpers import r4

    p = table(spark, sf_dir, "customer").selectExpr(
        "c_custkey AS k",
        f"CAST({LON} AS DOUBLE) AS lon",
        f"CAST({LAT} AS DOUBLE) AS lat",
        "CAST(c_acctbal AS DOUBLE) AS v",
    )
    h = 6.0
    binned = p.withColumn(
        "cx", F.floor(F.col("lon") / h).cast("bigint")
    ).withColumn("cy", F.floor(F.col("lat") / h).cast("bigint"))
    a = binned.select(
        F.col("k"), F.col("lon").alias("lon_a"), F.col("lat").alias("lat_a"),
        F.col("cx").alias("cxa"), F.col("cy").alias("cya"),
    )
    b = (
        binned.select(
            F.col("lon").alias("lon_b"), F.col("lat").alias("lat_b"),
            F.col("v").alias("vb"), "cx", "cy",
        )
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "lon_b", "lat_b", "vb",
            (F.col("cx") + F.col("dx")).alias("cxb"),
            (F.col("cy") + F.col("dy")).alias("cyb"),
        )
    )
    d2 = (F.col("lon_a") - F.col("lon_b")) * (F.col("lon_a") - F.col("lon_b")) + (
        F.col("lat_a") - F.col("lat_b")
    ) * (F.col("lat_a") - F.col("lat_b"))
    # exact-integer spelling (the deterministic-from-exact-ints rule):
    # d2 is an exact integer on the lattice, so the bisquare weight
    # times 36^2 is the exact BIGINT (36-d2)^2; money goes to cents.
    # Both aggregate sums are then order-free exact integers and the
    # local mean is ONE IEEE division of identical operands on both
    # engines — the r4 rounding cannot disagree (a float-weight
    # spelling hash-mismatched 1/150 rows on a grid boundary).
    iw = (F.lit(36) - F.col("d2i")) * (F.lit(36) - F.col("d2i"))
    return (
        a.join(
            b,
            (F.col("cxa") == F.col("cxb"))
            & (F.col("cya") == F.col("cyb"))
            & (d2 < F.lit(36.0)),
        )
        .select(
            "k",
            F.floor(F.col("vb") * 100 + F.lit(0.5)).cast("bigint").alias("cents"),
            d2.cast("bigint").alias("d2i"),
        )
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("n_nbrs"),
            F.sum(iw * F.col("cents")).alias("num"),
            F.sum(iw).alias("den"),
        )
        .select(
            "k",
            "n_nbrs",
            r4(
                F.col("num").cast("double")
                / (F.col("den") * F.lit(100)).cast("double")
            ).alias("local_mean"),
        )
    )


# ---------------------------------------------------------------------------
# C206: IDW interpolation (ArcGIS "IDW" / Spatial Analyst; Shepard
# 1968) — the inverse-distance-weighted surface at a fixed evaluation
# lattice from the customer sample points, power p=2, search radius 6.

_IDW_R2Q = 144           # radius^2 on the quadrupled-integer d2 grid (6^2 * 4)
_IDW_WSCALE = 1 << 30    # weight quantization: wq = 2^30 DIV d2q


@query(
    "spatial_idw_interpolation",
    oracle=f"""
WITH g AS (
  SELECT gx.x AS gx, gy.y AS gy
  FROM (SELECT unnest(generate_series(-175, 175, 10)) AS x) gx
  CROSS JOIN (SELECT unnest(generate_series(-75, 75, 10)) AS y) gy
), p AS (
  SELECT CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat,
         CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
), pairs AS (
  SELECT g.gx, g.gy,
         {_IDW_WSCALE} // (CAST(2 * (g.gx - p.lon) AS BIGINT)
                           * CAST(2 * (g.gx - p.lon) AS BIGINT)
                           + CAST(2 * (g.gy - p.lat) AS BIGINT)
                           * CAST(2 * (g.gy - p.lat) AS BIGINT)) AS wq,
         p.cents
  FROM g JOIN p
    ON CAST(2 * (g.gx - p.lon) AS BIGINT) * CAST(2 * (g.gx - p.lon) AS BIGINT)
     + CAST(2 * (g.gy - p.lat) AS BIGINT) * CAST(2 * (g.gy - p.lat) AS BIGINT)
       < {_IDW_R2Q}
)
SELECT gx, gy, CAST(count(*) AS BIGINT) AS n_nbrs,
       round(CAST(sum(wq * cents) AS DOUBLE)
             / CAST(sum(wq) * 100 AS DOUBLE), 4) AS idw_value
FROM pairs GROUP BY gx, gy
""",
)
def spatial_idw_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C206: Inverse Distance Weighting at a 36x16 evaluation lattice
    (10-degree spacing) over the customer sample points: value =
    sum(w_i * v_i) / sum(w_i), w = 1/d^2, neighbors inside radius 6.
    Empty cells (no sample in radius) drop, the ArcGIS NoData
    convention.

    Determinism (the C190 exact-int discipline): on the half-integer
    lattice 2*dx and 2*dy are exact integers, so d2q = (2dx)^2+(2dy)^2
    is an exact BIGINT (= 4*d^2, never 0 — samples sit 0.5 off the
    grid), and the weight is QUANTIZED AS PART OF THE OPERATOR SPEC to
    wq = 2^30 DIV d2q — an exact integer division, relative
    granularity 2^-30 (five orders below r4). Both aggregate sums are
    then order-free BIGINTs and the surface value is ONE IEEE division
    of identical operands.

    Scale: the oracle is the brute grid x points definition (bounded:
    576 cells); the Spark side is the C179/C187/C190 grid-block join —
    samples binned to radius-sized cells and replicated to the 3x3
    neighborhood, equi-join on the cell key, one partial-aggregated
    groupBy(cell). Cost is local density x 576, never |grid| x n."""
    h = 6.0
    g = (
        spark.range(-175, 176, 10)
        .select(F.col("id").cast("int").alias("gx"))
        .crossJoin(
            spark.range(-75, 76, 10).select(F.col("id").cast("int").alias("gy"))
        )
        .withColumn("cxa", F.floor(F.col("gx") / h).cast("bigint"))
        .withColumn("cya", F.floor(F.col("gy") / h).cast("bigint"))
    )
    p = (
        table(spark, sf_dir, "customer")
        .selectExpr(
            f"CAST({LON} AS DOUBLE) AS lon",
            f"CAST({LAT} AS DOUBLE) AS lat",
            "CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents",
        )
        .withColumn("cx", F.floor(F.col("lon") / h).cast("bigint"))
        .withColumn("cy", F.floor(F.col("lat") / h).cast("bigint"))
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "lon", "lat", "cents",
            (F.col("cx") + F.col("dx")).alias("cxb"),
            (F.col("cy") + F.col("dy")).alias("cyb"),
        )
    )
    dxq = (2 * (F.col("gx") - F.col("lon"))).cast("bigint")
    dyq = (2 * (F.col("gy") - F.col("lat"))).cast("bigint")
    d2q = dxq * dxq + dyq * dyq
    pairs = g.join(
        p,
        (F.col("cxa") == F.col("cxb"))
        & (F.col("cya") == F.col("cyb"))
        & (d2q < F.lit(_IDW_R2Q)),
    ).select(
        "gx",
        "gy",
        F.expr(f"CAST({_IDW_WSCALE} AS BIGINT) DIV "
               f"(CAST(2 * (gx - lon) AS BIGINT) * CAST(2 * (gx - lon) AS BIGINT)"
               f" + CAST(2 * (gy - lat) AS BIGINT) * CAST(2 * (gy - lat) AS BIGINT))"
               ).alias("wq"),
        "cents",
    )
    return pairs.groupBy("gx", "gy").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nbrs"),
        r4(
            F.sum(F.col("wq") * F.col("cents")).cast("double")
            / (F.sum("wq") * 100).cast("double")
        ).alias("idw_value"),
    )


# ---------------------------------------------------------------------------
# C210: Spatial Join, point-in-polygon (ArcGIS "Spatial Join" with
# match_option INTERSECT, one-to-many) — points joined to every
# polygon that CONTAINS them. The B11 single-polygon ray-cast filter
# generalized to a two-TABLE join with per-row polygon vertex arrays.

_PIPJ_CELL = 8  # grid cell size; must exceed half the largest polygon span


def _pipj_exprs(engine: str) -> dict[str, str]:
    """Engine spellings: polygon synthesis (regular m-gon vertex
    array) + in-row even-odd ray cast of point (px, py) against the
    vertex array ``vs`` — identical arithmetic text modulo HOF
    dialect/array base (the C200 discipline)."""
    sp = engine == "spark"
    if sp:
        verts = (
            "transform(sequence(0, m - 1), i -> named_struct("
            "'x', cx + r * cos(2 * pi() * i / m), "
            "'y', cy + r * sin(2 * pi() * i / m)))"
        )
        nxt = "vs[(i + 1) % m]"
        cur = "vs[i]"
        pip = (
            "aggregate(sequence(0, m - 1), 0, (acc, i) -> acc + "
            f"CASE WHEN (({cur}.y > py) <> ({nxt}.y > py)) AND "
            f"(px < ({nxt}.x - {cur}.x) * (py - {cur}.y)"
            f" / ({nxt}.y - {cur}.y) + {cur}.x) "
            "THEN 1 ELSE 0 END) % 2 = 1"
        )
    else:
        verts = (
            "list_transform(range(0, m), i -> {"
            "'x': cx + r * cos(2 * pi() * i / m), "
            "'y': cy + r * sin(2 * pi() * i / m)})"
        )
        nxt = "vs[((i + 1) % m) + 1]"
        cur = "vs[i + 1]"
        pip = (
            "list_sum(list_transform(range(0, m), i -> "
            f"CASE WHEN (({cur}.y > py) <> ({nxt}.y > py)) AND "
            f"(px < ({nxt}.x - {cur}.x) * (py - {cur}.y)"
            f" / ({nxt}.y - {cur}.y) + {cur}.x) "
            "THEN 1 ELSE 0 END)) % 2 = 1"
        )
    return {"verts": verts, "pip": pip}


_PIPJ_POLY_BASE = """
  SELECT n_nationkey, n_name,
         CAST((n_nationkey * 29 % 340) - 170 + 0.5 AS DOUBLE) AS cx,
         CAST((n_nationkey * 13 % 140) - 70 + 0.5 AS DOUBLE) AS cy,
         CAST(4 + (n_nationkey % 3) AS DOUBLE) AS r,
         CAST(5 + (n_nationkey % 4) AS INT) AS m
  FROM nation
"""

_PIPJ_PT_BASE = f"""
  SELECT c_custkey,
         CAST({LON} AS DOUBLE) AS px,
         CAST({LAT} AS DOUBLE) AS py
  FROM customer
"""


def _pipj_oracle() -> str:
    e = _pipj_exprs("duck")
    return f"""
WITH poly AS ({_PIPJ_POLY_BASE}),
pv AS (SELECT *, {e["verts"]} AS vs FROM poly),
pt AS ({_PIPJ_PT_BASE})
SELECT pt.c_custkey, pv.n_nationkey AS nationkey, pv.n_name
FROM pt JOIN pv
  ON pt.px BETWEEN pv.cx - pv.r AND pv.cx + pv.r
 AND pt.py BETWEEN pv.cy - pv.r AND pv.cy + pv.r
WHERE {e["pip"]}
"""


@query("join_point_in_polygon", oracle=_pipj_oracle())
def join_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C210: one-to-many point-in-polygon spatial JOIN — every
    (customer point, nation polygon) pair where the point is inside,
    the B11 ray-cast predicate (filters._ray_cast_sql) lifted from a
    compile-time polygon to PER-ROW vertex arrays and from a filter
    to a two-table join. Polygons are regular 5-8-gons synthesized per
    nation; their envelope is the sargable prefilter, the in-row
    even-odd fold decides exactly.

    Scale (the C179/C190 grid-block shape, polygon flavor): each
    polygon replicates to the grid cells its ENVELOPE covers (<= 3x3
    at cell=8 > span/2 — exact integer cell bounds, no polygon is
    missed); points key by their single cell; one equi-join on the
    cell key, envelope + ray-cast evaluated only on co-located pairs.
    Cost = local density x |polygons per cell|, never |points| x
    |polygons|. The oracle is the brute cross-join definition, so the
    differential check proves blocked == spec (join_geodesic
    precedent).

    Determinism: vertex trig over the finite nation/key lattice with
    identical expression text (shoelace precedent); the ray cast is
    strict-inequality arithmetic on those identical doubles — every
    crossing decision matches bit-for-bit."""
    e = _pipj_exprs("spark")
    poly = (
        table(spark, sf_dir, "nation")
        .selectExpr(
            "n_nationkey", "n_name",
            "CAST((n_nationkey * 29 % 340) - 170 + 0.5 AS DOUBLE) AS cx",
            "CAST((n_nationkey * 13 % 140) - 70 + 0.5 AS DOUBLE) AS cy",
            "CAST(4 + (n_nationkey % 3) AS DOUBLE) AS r",
            "CAST(5 + (n_nationkey % 4) AS INT) AS m",
        )
        .withColumn("vs", F.expr(e["verts"]))
        # envelope -> covering cells (exact integer bounds)
        .withColumn(
            "gx",
            F.explode(
                F.sequence(
                    F.floor((F.col("cx") - F.col("r")) / _PIPJ_CELL),
                    F.floor((F.col("cx") + F.col("r")) / _PIPJ_CELL),
                )
            ),
        )
        .withColumn(
            "gy",
            F.explode(
                F.sequence(
                    F.floor((F.col("cy") - F.col("r")) / _PIPJ_CELL),
                    F.floor((F.col("cy") + F.col("r")) / _PIPJ_CELL),
                )
            ),
        )
    )
    pt = (
        table(spark, sf_dir, "customer")
        .selectExpr(
            "c_custkey",
            f"CAST({LON} AS DOUBLE) AS px",
            f"CAST({LAT} AS DOUBLE) AS py",
        )
        .withColumn("gx", F.floor(F.col("px") / _PIPJ_CELL))
        .withColumn("gy", F.floor(F.col("py") / _PIPJ_CELL))
    )
    joined = pt.join(
        F.broadcast(poly),
        ["gx", "gy"],
    ).filter(
        F.col("px").between(F.col("cx") - F.col("r"), F.col("cx") + F.col("r"))
        & F.col("py").between(F.col("cy") - F.col("r"), F.col("cy") + F.col("r"))
        & F.expr(e["pip"])
    )
    return joined.select(
        "c_custkey", F.col("n_nationkey").alias("nationkey"), "n_name"
    )


# ---------------------------------------------------------------------------
# C215 constants: own lattice (step 4) + wider search radius 24
# so the surface populates even at the sparsest fixture density.
_ZONAL_R2Q = (2 * 24) ** 2


# C215: Zonal Statistics (ArcGIS Spatial Analyst "Zonal Statistics as
# Table") — per-zone aggregates of a value surface: zones are the
# C210 nation polygons, the surface is the C206 IDW lattice. The two
# spatial primitives COMPOSE: surface cells assign to zones by the
# same in-row ray cast, then one bounded per-zone aggregate.


@query(
    "spatial_zonal_stats",
    oracle=f"""
WITH g AS (
  SELECT gx.x AS gx, gy.y AS gy
  FROM (SELECT unnest(generate_series(-172, 172, 4)) AS x) gx
  CROSS JOIN (SELECT unnest(generate_series(-76, 76, 4)) AS y) gy
), p AS (
  SELECT CAST({LON} AS DOUBLE) AS lon,
         CAST({LAT} AS DOUBLE) AS lat,
         CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents
  FROM customer
), pairs AS (
  SELECT g.gx, g.gy,
         {_IDW_WSCALE} // (CAST(2 * (g.gx - p.lon) AS BIGINT)
                           * CAST(2 * (g.gx - p.lon) AS BIGINT)
                           + CAST(2 * (g.gy - p.lat) AS BIGINT)
                           * CAST(2 * (g.gy - p.lat) AS BIGINT)) AS wq,
         p.cents
  FROM g JOIN p
    ON CAST(2 * (g.gx - p.lon) AS BIGINT) * CAST(2 * (g.gx - p.lon) AS BIGINT)
     + CAST(2 * (g.gy - p.lat) AS BIGINT) * CAST(2 * (g.gy - p.lat) AS BIGINT)
       < {_ZONAL_R2Q}
), surf AS (
  SELECT gx, gy,
         sum(wq * cents) AS num, sum(wq) AS den
  FROM pairs GROUP BY gx, gy
), poly AS ({_PIPJ_POLY_BASE}),
pv AS (SELECT *, {_pipj_exprs("duck")["verts"]} AS vs FROM poly),
zs AS (
  SELECT pv.n_nationkey AS zone_key, pv.n_name AS zone_name,
         surf.num, surf.den
  FROM surf JOIN pv
    ON CAST(surf.gx AS DOUBLE) BETWEEN pv.cx - pv.r AND pv.cx + pv.r
   AND CAST(surf.gy AS DOUBLE) BETWEEN pv.cy - pv.r AND pv.cy + pv.r
  WHERE {_pipj_exprs("duck")["pip"].replace("px", "CAST(surf.gx AS DOUBLE)").replace("py", "CAST(surf.gy AS DOUBLE)")}
)
SELECT zone_key, zone_name,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(CAST(sum(num) AS DOUBLE) / (CAST(sum(den) AS DOUBLE) * 100), 4)
         AS zonal_weighted_mean,
       round(CAST(min(num // den) AS DOUBLE) / 100, 4) AS zonal_min_cell,
       round(CAST(max(num // den) AS DOUBLE) / 100, 4) AS zonal_max_cell
FROM zs GROUP BY zone_key, zone_name
""",
)
def spatial_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C215: Zonal Statistics as Table — the per-zone rollup of a
    value SURFACE (here the C206 IDW interpolation lattice) over
    polygon zones (the C210 nation polygons): cell count, the zone's
    overall weighted mean (exact integer num/den sums re-aggregated
    per zone — NOT a mean of cell means, so the statistic is
    independent of the cell partitioning), and min/max cell value
    (cells compared on the exact integer quotient num DIV den).

    Scale: surface build is C206's blocked join; the zone assignment
    joins a BOUNDED lattice (576 cells) against polygon envelopes +
    in-row ray cast; the final aggregate is |zones|-row. Composition
    of two already-scale-shaped primitives — nothing new grows with
    the data. Determinism: integer sums + one division per reported
    double; cell extrema via integer DIV quotients (C206/C190
    discipline)."""
    h = 24.0
    g = (
        spark.range(-172, 173, 4)
        .select(F.col("id").cast("int").alias("gx"))
        .crossJoin(
            spark.range(-76, 77, 4).select(F.col("id").cast("int").alias("gy"))
        )
        .withColumn("cxa", F.floor(F.col("gx") / h).cast("bigint"))
        .withColumn("cya", F.floor(F.col("gy") / h).cast("bigint"))
    )
    p = (
        table(spark, sf_dir, "customer")
        .selectExpr(
            f"CAST({LON} AS DOUBLE) AS lon",
            f"CAST({LAT} AS DOUBLE) AS lat",
            "CAST(floor(CAST(c_acctbal AS DOUBLE) * 100 + 0.5) AS BIGINT) AS cents",
        )
        .withColumn("cx", F.floor(F.col("lon") / h).cast("bigint"))
        .withColumn("cy", F.floor(F.col("lat") / h).cast("bigint"))
        .withColumn("dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .select(
            "lon", "lat", "cents",
            (F.col("cx") + F.col("dx")).alias("cxb"),
            (F.col("cy") + F.col("dy")).alias("cyb"),
        )
    )
    wq = F.expr(
        f"CAST({_IDW_WSCALE} AS BIGINT) DIV "
        f"(CAST(2 * (gx - lon) AS BIGINT) * CAST(2 * (gx - lon) AS BIGINT)"
        f" + CAST(2 * (gy - lat) AS BIGINT) * CAST(2 * (gy - lat) AS BIGINT))"
    )
    dxq = (2 * (F.col("gx") - F.col("lon"))).cast("bigint")
    dyq = (2 * (F.col("gy") - F.col("lat"))).cast("bigint")
    d2q = dxq * dxq + dyq * dyq
    surf = (
        g.join(
            p,
            (F.col("cxa") == F.col("cxb"))
            & (F.col("cya") == F.col("cyb"))
            & (d2q < F.lit(_ZONAL_R2Q)),
        )
        .select("gx", "gy", wq.alias("wq"), "cents")
        .groupBy("gx", "gy")
        .agg(
            F.sum(F.col("wq") * F.col("cents")).alias("num"),
            F.sum("wq").alias("den"),
        )
    )
    e = _pipj_exprs("spark")
    pv = (
        table(spark, sf_dir, "nation")
        .selectExpr(
            "n_nationkey", "n_name",
            "CAST((n_nationkey * 29 % 340) - 170 + 0.5 AS DOUBLE) AS cx",
            "CAST((n_nationkey * 13 % 140) - 70 + 0.5 AS DOUBLE) AS cy",
            "CAST(4 + (n_nationkey % 3) AS DOUBLE) AS r",
            "CAST(5 + (n_nationkey % 4) AS INT) AS m",
        )
        .withColumn("vs", F.expr(e["verts"]))
    )
    pip = (
        e["pip"]
        .replace("px", "CAST(gx AS DOUBLE)")
        .replace("py", "CAST(gy AS DOUBLE)")
    )
    zs = surf.join(
        F.broadcast(pv),
        F.expr(
            "CAST(gx AS DOUBLE) BETWEEN cx - r AND cx + r "
            "AND CAST(gy AS DOUBLE) BETWEEN cy - r AND cy + r"
        )
        & F.expr(pip),
    )
    return zs.groupBy(
        F.col("n_nationkey").alias("zone_key"), F.col("n_name").alias("zone_name")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        r4(
            F.sum("num").cast("double") / (F.sum("den").cast("double") * 100)
        ).alias("zonal_weighted_mean"),
        r4(F.min(F.expr("num DIV den")).cast("double") / 100).alias(
            "zonal_min_cell"
        ),
        r4(F.max(F.expr("num DIV den")).cast("double") / 100).alias(
            "zonal_max_cell"
        ),
    )
