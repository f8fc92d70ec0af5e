"""Filter operators — SURVEY.md §2 A3/B1/B10/B11.

The reference ships a SQL-92 ``where`` clause to the server verbatim
(``ARCGIS_QUERY``, task.ts:406-408). We accept the same grammar through
``F.expr`` — Spark's parser covers the SQL-92 predicate subset directly —
and Catalyst pushes the conjuncts into the parquet scan (visible as
``PushedFilters``), which is the 100 TB win: row-group pruning happens
before any row is materialized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import LAT, LON
from ..registry import query
from ..tables import table

# The exact predicate text is shared with the oracle — this *is* the
# reference's passthrough design: one SQL-92 string, two executors.
_COMPOUND = (
    "(l_quantity > 30 AND l_discount <= 0.05) "
    "OR (l_returnflag = 'R' AND NOT (l_linestatus = 'F'))"
)


@query(
    "filter_compound_predicates",
    oracle=f"""
SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag, l_linestatus
FROM lineitem
WHERE {_COMPOUND}
""",
)
def filter_compound_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: AND/OR/NOT + comparison operators, as a pushed-down filter."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(F.expr(_COMPOUND))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_discount",
            "l_returnflag",
            "l_linestatus",
        )
    )


_LIKE = "p_name LIKE '%bolt' AND p_type LIKE 'ECO%' AND p_brand NOT LIKE 'Brand#1%'"


@query(
    "filter_like_pattern",
    oracle=f"""
SELECT p_partkey, p_name, p_brand, p_type
FROM part
WHERE {_LIKE}
""",
)
def filter_like_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: LIKE / NOT LIKE patterns (prefix, suffix, negation)."""
    return (
        table(spark, sf_dir, "part")
        .filter(F.expr(_LIKE))
        .select("p_partkey", "p_name", "p_brand", "p_type")
    )


@query(
    "filter_in_list",
    oracle="""
SELECT o_orderkey, o_orderpriority, o_orderstatus
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_orderstatus NOT IN ('P')
""",
)
def filter_in_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1: IN / NOT IN value lists."""
    od = table(spark, sf_dir, "orders")
    return od.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH") & ~F.col("o_orderstatus").isin("P")
    ).select("o_orderkey", "o_orderpriority", "o_orderstatus")


@query(
    "filter_between_dates",
    oracle="""
SELECT l_orderkey, l_linenumber, l_shipdate
FROM lineitem
WHERE l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 23:59:59'
""",
)
def filter_between_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1/B10: temporal BETWEEN (the Esri ``time=<start>,<end>`` param).

    ms-precision column, µs-safe on both engines (SURVEY.md §5.3.2).
    """
    li = table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-12-31 23:59:59").cast("timestamp")
    return li.filter(F.col("l_shipdate").between(lo, hi)).select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )


@query(
    "filter_spatial_envelope",
    oracle=f"""
SELECT c_custkey, CAST({LON} AS DOUBLE) AS lon, CAST({LAT} AS DOUBLE) AS lat
FROM customer
WHERE ({LON}) BETWEEN -150.0 AND 60.0 AND ({LAT}) BETWEEN -40.0 AND 45.0
""",
)
def filter_spatial_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: spatial envelope (bounding-box) predicate.

    The reference forwards ``geometry=<bbox>&spatialRel=intersects`` to
    the server; for point data an envelope intersect is exactly a pair
    of BETWEENs — sargable, pushed down, partition-prunable if the table
    is laid out on a space-filling curve (the 100 TB design: Z-order /
    Hilbert bucketing on (lon,lat)).
    """
    cu = table(spark, sf_dir, "customer")
    return (
        cu.withColumn("lon", F.expr(LON).cast("double"))
        .withColumn("lat", F.expr(LAT).cast("double"))
        .filter(F.col("lon").between(-150.0, 60.0) & F.col("lat").between(-40.0, 45.0))
        .select("c_custkey", "lon", "lat")
    )


# B11 `spatialRel=esriSpatialRelIntersects` against a POLYGON (the case
# the envelope query can't express): a fixed simple non-convex polygon
# in lon/lat. Vertices use .1-.9 decimal fractions so no fixture point
# (always at half-integer coords) lies on an edge.
_POLYGON = [
    (-120.3, -60.2),
    (40.7, -60.2),
    (40.7, 20.4),
    (-20.6, 70.9),
    (-20.6, -10.3),
    (-120.3, 40.8),
]


def _ray_cast_sql(lon: str, lat: str) -> str:
    """Even-odd ray casting as ONE arithmetic SQL string shared by both
    engines (identical expression tree -> identical IEEE doubles ->
    identical boolean, even at crossing boundaries). One term per edge:
    the edge straddles the point's latitude AND the rightward ray from
    the point crosses it; odd crossing count == inside."""
    terms = []
    n = len(_POLYGON)
    for i in range(n):
        x1, y1 = _POLYGON[i]
        x2, y2 = _POLYGON[(i + 1) % n]
        terms.append(
            f"(CASE WHEN (({y1} > {lat}) <> ({y2} > {lat})) AND "
            f"({lon} < ({x2} - {x1}) * ({lat} - ({y1})) / ({y2} - ({y1})) + ({x1})) "
            f"THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ") % 2 = 1"


_PIP_ENV_LON = (min(x for x, _ in _POLYGON), max(x for x, _ in _POLYGON))
_PIP_ENV_LAT = (min(y for _, y in _POLYGON), max(y for _, y in _POLYGON))


@query(
    "filter_spatial_point_in_polygon",
    oracle=f"""
SELECT c_custkey, lon, lat
FROM (
  SELECT c_custkey, CAST({LON} AS DOUBLE) AS lon, CAST({LAT} AS DOUBLE) AS lat
  FROM customer
)
WHERE lon BETWEEN {_PIP_ENV_LON[0]} AND {_PIP_ENV_LON[1]}
  AND lat BETWEEN {_PIP_ENV_LAT[0]} AND {_PIP_ENV_LAT[1]}
  AND {_ray_cast_sql("lon", "lat")}
""",
)
def filter_spatial_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: point-in-polygon (`spatialRel=esriSpatialRelIntersects`
    with a polygon geometry, forwarded verbatim by the reference at
    task.ts:410-414) — even-odd ray casting over a non-convex polygon.

    Scale shape: the polygon's ENVELOPE goes first as a sargable
    BETWEEN pair (pushed to the parquet scan / prunes space-filling-
    curve partitions); the exact O(|vertices|) ray-cast arithmetic runs
    only on envelope survivors, entirely inside whole-stage codegen.
    For polygon sets, broadcast the vertex table and explode per
    candidate polygon after an envelope bucket join."""
    cu = table(spark, sf_dir, "customer")
    return (
        cu.withColumn("lon", F.expr(LON).cast("double"))
        .withColumn("lat", F.expr(LAT).cast("double"))
        .filter(
            F.col("lon").between(*_PIP_ENV_LON)
            & F.col("lat").between(*_PIP_ENV_LAT)
            & F.expr(_ray_cast_sql("lon", "lat"))
        )
        .select("c_custkey", "lon", "lat")
    )


# B11 polygon-POLYGON predicates: the feature geometry is a per-row
# diamond (the L1 ball |x-cx|+|y-cy| <= w — a rotated square, so it is
# a genuine polygon, not an envelope) whose center/size derive from the
# key. A simple-polygon pair intersects iff any edge pair crosses, or
# one contains the other; with both polygons simple and vertex
# coordinates constructed to avoid exact touching, containment reduces
# to one representative-point test per direction. All of it is plain
# IEEE-double arithmetic emitted as ONE SQL string shared with the
# oracle, so both engines evaluate the identical expression tree.
_DIAMOND_W = "0.35 + (c_custkey % 5) * 0.4"  # 0.35 .. 1.95


def _l1_seg_dist_sql(ax: float, ay: float, bx: float, by: float) -> str:
    """Exact min L1 distance from the point (lon, lat) to the CONSTANT
    segment a→b: f(t) = |ax + t·dx − lon| + |ay + t·dy − lat| is convex
    piecewise-linear in t, so its minimum over t ∈ [0,1] is attained at
    t=0, t=1, or one of the two abs breakpoints (t where an abs argument
    is zero), clamped into [0,1]. Breakpoints with a zero denominator
    (axis-parallel edges) simply don't exist and are omitted at
    SQL-generation time — no runtime division by zero."""
    dx, dy = bx - ax, by - ay
    ts = ["0.0", "1.0"]
    if dx != 0.0:
        ts.append(f"least(greatest((lon - {ax!r}) / {dx!r}, 0.0), 1.0)")
    if dy != 0.0:
        ts.append(f"least(greatest((lat - {ay!r}) / {dy!r}, 0.0), 1.0)")
    evals = [
        f"(abs({ax!r} + {t} * {dx!r} - lon) + abs({ay!r} + {t} * {dy!r} - lat))"
        for t in ts
    ]
    return "least(" + ", ".join(evals) + ")"


def _l1_boundary_dist_sql() -> str:
    """Min L1 distance from (lon, lat) to the query-polygon boundary."""
    n = len(_POLYGON)
    per_edge = [
        _l1_seg_dist_sql(*_POLYGON[i], *_POLYGON[(i + 1) % n]) for i in range(n)
    ]
    return "least(" + ", ".join(per_edge) + ")"


# sargable envelope prefilter: per-row w is bounded by w_max=1.95, so a
# CONSTANT-bound envelope test goes first (pushes to the scan / prunes
# space-filling-curve partitions at cluster SF); the exact O(|edges|)
# distance arithmetic runs on envelope survivors only, inside codegen.
_PPOLY_PREFILTER = (
    f"lon BETWEEN {_PIP_ENV_LON[0]} - 1.95 AND {_PIP_ENV_LON[1]} + 1.95 "
    f"AND lat BETWEEN {_PIP_ENV_LAT[0]} - 1.95 AND {_PIP_ENV_LAT[1]} + 1.95"
)


def _ppoly_query(where: str) -> str:
    """Shared Spark/DuckDB query text. The predicate pieces: center_in
    (even-odd ray cast) and bdist (min L1 distance from the diamond
    center to the polygon boundary). Because the diamond IS the L1 ball
    of radius w, every polygon-polygon relation reduces to these two:
    some boundary point lies inside the open diamond ⟺ bdist < w, and
    with no boundary inside, the diamond is entirely inside or outside
    by the center's side. This replaces a 24-segment-crossing spelling
    whose single expression tree grew past janino's 64 KB method limit
    and silently dropped whole-stage codegen."""
    return f"""
SELECT c_custkey, lon, lat, w FROM (
  SELECT c_custkey, lon, lat, w,
       {_ray_cast_sql("lon", "lat")} AS center_in,
       {_l1_boundary_dist_sql()} AS bdist
  FROM (
    SELECT c_custkey, CAST({LON} AS DOUBLE) AS lon,
           CAST({LAT} AS DOUBLE) AS lat,
           CAST({_DIAMOND_W} AS DOUBLE) AS w
    FROM customer
  )
  WHERE {_PPOLY_PREFILTER}
)
WHERE {where}
"""


# intersects: diamond ⊆ polygon (center inside, no boundary within w),
# polygon boundary enters the diamond (bdist < w — covers boundary
# crossings AND polygon ⊆ diamond, whose whole boundary is within w),
# or both. Touching (bdist == w exactly) cannot occur by construction.
_PPOLY_INTERSECTS = _ppoly_query("center_in OR bdist < w")
# within: query polygon contains the diamond — center inside and no
# boundary point closer than the diamond radius.
_PPOLY_CONTAINS = _ppoly_query("center_in AND bdist > w")


@query("filter_spatial_polygon_intersects", oracle=_PPOLY_INTERSECTS)
def filter_spatial_polygon_intersects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: polygon-polygon `esriSpatialRelIntersects` (the reference
    forwards it verbatim, task.ts:410-414) — per-feature diamond
    polygons against a fixed non-convex query polygon, decided by the
    L1-ball distance formulation: a feature diamond (an L1 ball of
    radius w) intersects the polygon iff its center lies inside the
    polygon OR the min L1 distance from the center to the polygon
    boundary is < w (`center_in OR bdist < w` — see _ppoly_query,
    whose docstring derives both predicates).

    Scale shape: constant-bound envelope prefilter first (sargable,
    row-group prunable), then per-edge point-to-segment L1 distances —
    a fixed |edges|-term min — as pure codegen arithmetic on survivors.
    For a polygon SET on the query side, envelope-bucket-join first and
    explode the vertex table per candidate pair (never all-pairs). An
    earlier O(|edges|²) segment-crossing spelling produced one
    monolithic expression that blew janino's 64 KB method limit and
    silently fell back to interpreted evaluation; the L1-ball spelling
    keeps the predicate inside whole-stage codegen."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _PPOLY_INTERSECTS, ("customer",))


@query("filter_spatial_polygon_contains", oracle=_PPOLY_CONTAINS)
def filter_spatial_polygon_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: `esriSpatialRelWithin` (feature within the query geometry;
    equivalently the query polygon CONTAINS the feature) — center-in-
    polygon AND no boundary crossing; exact for simple polygons with
    non-touching vertices. Same envelope-first shape as the intersects
    twin. The mirrored `esriSpatialRelContains` (feature contains the
    query geometry) is the same arithmetic with the roles swapped —
    representative query vertex in the feature AND no crossing; it is
    not registered as a query because no fixture diamond can contain
    the 160-degree-wide query polygon, which would make its oracle row
    a trivially-empty result."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _PPOLY_CONTAINS, ("customer",))


# --- B11 tail: the remaining named `spatialRel` values a reference
# user can pass (the reference forwards any esriSpatialRel* verbatim,
# task.ts:410-414). Touches/overlaps are decided on ENVELOPE geometry
# pairs, where both relations have exact interval arithmetic: feature
# envelope [lon-w, lon+w] x [lat-w, lat+w] (half-integer centers,
# w in {0.5, 1.0, 1.5} — all dyadic doubles, so every bound and every
# equality below is EXACT in IEEE arithmetic on both engines) against
# a fixed integer-bound query envelope.
_ENV_W = "0.5 + (c_custkey % 3) * 0.5"
_ENV_Q = (-100.0, 50.0, -50.0, 40.0)  # lon_lo, lon_hi, lat_lo, lat_hi


def _env_rel_query(where: str) -> str:
    qx0, qx1, qy0, qy1 = _ENV_Q
    return f"""
SELECT c_custkey, lon, lat, w FROM (
  SELECT c_custkey, lon, lat, w,
         (lon - w <= {qx1} AND lon + w >= {qx0}
          AND lat - w <= {qy1} AND lat + w >= {qy0}) AS closure_meet,
         (lon - w < {qx1} AND lon + w > {qx0}
          AND lat - w < {qy1} AND lat + w > {qy0}) AS interior_meet,
         (lon - w >= {qx0} AND lon + w <= {qx1}
          AND lat - w >= {qy0} AND lat + w <= {qy1}) AS a_in_q,
         ({qx0} >= lon - w AND {qx1} <= lon + w
          AND {qy0} >= lat - w AND {qy1} <= lat + w) AS q_in_a
  FROM (
    SELECT c_custkey, CAST({LON} AS DOUBLE) AS lon,
           CAST({LAT} AS DOUBLE) AS lat,
           CAST({_ENV_W} AS DOUBLE) AS w
    FROM customer
  )
)
WHERE {where}
"""


_ENV_TOUCHES = _env_rel_query("closure_meet AND NOT interior_meet")
_ENV_OVERLAPS = _env_rel_query("interior_meet AND NOT a_in_q AND NOT q_in_a")


@query("filter_spatial_envelope_touches", oracle=_ENV_TOUCHES)
def filter_spatial_envelope_touches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: `esriSpatialRelTouches` — boundaries intersect, interiors
    do not. For two envelopes that is pure interval arithmetic:
    closures meet (non-strict interval overlap on both axes) while
    interiors do not (strict overlap fails on at least one axis) —
    i.e. the envelopes share only an edge segment or a corner. Every
    coordinate here is a dyadic double, so the boundary equalities the
    relation hinges on are exact, not epsilon-tolerant.

    Scale shape: both conjuncts are conjunctions of constant-bound
    comparisons on lon/lat/w — fully sargable, row-group prunable, and
    evaluated inside whole-stage codegen; no join, no shuffle."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _ENV_TOUCHES, ("customer",))


@query("filter_spatial_envelope_overlaps", oracle=_ENV_OVERLAPS)
def filter_spatial_envelope_overlaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: `esriSpatialRelOverlaps` — interiors intersect but neither
    geometry contains the other (same dimension on both sides, per the
    DE-9IM definition for area/area pairs). Interval arithmetic again:
    strict interval overlap on both axes, minus the two containment
    cases. Same sargable, join-free scale shape as the touches twin."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _ENV_OVERLAPS, ("customer",))


# esriSpatialRelCrosses: a POLYLINE feature vs the query POLYGON. The
# feature is the segment from (lon, lat) to (lon+3.3, lat+2.6); for a
# line against an area, `crosses` holds iff the line passes from the
# polygon's exterior into its interior, i.e. the segment PROPERLY
# crosses at least one boundary edge. Proper crossing of segments PQ
# and AB is the classic orientation-sign test: the endpoints of each
# segment lie strictly on opposite sides of the other's supporting
# line. The (3.3, 2.6) offset is chosen so that over the ENTIRE
# reachable coordinate grid (360x160 half-integer centers) no
# orientation determinant is 0 and the smallest magnitude is 0.02 —
# twelve orders above double rounding error — so every sign decision
# is robust and identical on both engines (verified exhaustively at
# build time; see tests/test_plans.py spatial section).
_SEG_DX, _SEG_DY = 3.3, 2.6


def _seg_cross_count_sql() -> str:
    """Number of polygon edges the feature segment properly crosses,
    as one shared SQL string. orient(U,V,W) = (Vx-Ux)(Wy-Uy)-(Vy-Uy)(Wx-Ux);
    PQ crosses AB iff orient(P,Q,A)*orient(P,Q,B) < 0 AND
    orient(A,B,P)*orient(A,B,Q) < 0."""
    px, py = "lon", "lat"
    qx, qy = f"(lon + {_SEG_DX})", f"(lat + {_SEG_DY})"
    terms = []
    n = len(_POLYGON)
    for i in range(n):
        ax, ay = _POLYGON[i]
        bx, by = _POLYGON[(i + 1) % n]

        def orient(ux, uy, vx, vy, wx, wy) -> str:
            return (
                f"(({vx} - {ux}) * ({wy} - {uy}) - ({vy} - {uy}) * ({wx} - {ux}))"
            )

        o1 = orient(px, py, qx, qy, repr(ax), repr(ay))
        o2 = orient(px, py, qx, qy, repr(bx), repr(by))
        o3 = orient(repr(ax), repr(ay), repr(bx), repr(by), px, py)
        o4 = orient(repr(ax), repr(ay), repr(bx), repr(by), qx, qy)
        terms.append(
            f"(CASE WHEN {o1} * {o2} < 0 AND {o3} * {o4} < 0 THEN 1 ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")"


# sargable prefilter: the segment's bbox must meet the polygon envelope
_CROSS_PREFILTER = (
    f"lon BETWEEN {_PIP_ENV_LON[0]} - {_SEG_DX} AND {_PIP_ENV_LON[1]} "
    f"AND lat BETWEEN {_PIP_ENV_LAT[0]} - {_SEG_DY} AND {_PIP_ENV_LAT[1]}"
)

_SEG_CROSSES = f"""
SELECT c_custkey, lon, lat, n_crossings FROM (
  SELECT c_custkey, lon, lat,
         CAST({_seg_cross_count_sql()} AS BIGINT) AS n_crossings
  FROM (
    SELECT c_custkey, CAST({LON} AS DOUBLE) AS lon,
           CAST({LAT} AS DOUBLE) AS lat
    FROM customer
  )
  WHERE {_CROSS_PREFILTER}
)
WHERE n_crossings > 0
"""


@query("filter_spatial_polygon_crosses", oracle=_SEG_CROSSES)
def filter_spatial_polygon_crosses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B11: `esriSpatialRelCrosses` — a polyline feature (a fixed-
    offset segment per row) crosses the query polygon iff it properly
    crosses at least one boundary edge (passes exterior -> interior).
    Decided by orientation-sign determinants — six edge tests, each
    four 2x2 determinants — emitted as ONE SQL string shared with the
    oracle so both engines evaluate the identical IEEE expression tree.
    Also returns the crossing count (a polyline can enter and leave a
    non-convex polygon several times), which the differential check
    validates cell-by-cell.

    Scale shape: constant-bound bbox prefilter first (sargable, prunes
    at scan), then O(|edges|) determinant arithmetic on survivors in
    whole-stage codegen — the same envelope-then-exact discipline as
    every other spatial predicate here. For a polygon SET, bucket-join
    envelopes first; never all-pairs."""
    from ..tables import sql_over

    return sql_over(spark, sf_dir, _SEG_CROSSES, ("customer",))
