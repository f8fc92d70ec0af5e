"""GeoJSON feature operators — the reference's Tier-A surface on real
GeoJSON-shaped DataFrames (SURVEY.md §2 A6-A16; fixtures FIXTURES.md §2).

Data model: a feature row is
    id         string
    properties map<string,string>
    geom_type  string   -- Point/LineString/Polygon/Multi* (GeoJSON tag)
    coords     array<array<array<array<double>>>>  (canonical depth-4)

GeoJSON nests coordinates at a type-dependent depth; a typed columnar
engine needs ONE schema, so every geometry is canonicalized to depth 4
with singleton wrappers:

    Point            [[[pt]]]           (1 part, 1 ring, 1 vertex)
    LineString       [[line]]           (1 part, 1 ring)
    Polygon          [rings]            (1 part)
    MultiPoint       [[[pt]], ...]      (N parts)
    MultiLineString  [[line], ...]      (N parts)
    MultiPolygon     [rings, ...]       (N parts)

The outer dimension is always the *part* axis, so the reference's
UnMulti explode (task.ts:433-444) is one generator over ``coords`` for
every type, and reprojection (task.ts:194,203-207,213-217) is one
nested ``transform`` over vertices regardless of type. All operators
here are narrow, shuffle-free, codegen'd projections — they run at scan
speed at any scale.

Each operator on the sync path is ONE SQL-text expression (``F.expr`` /
``selectExpr``), its lambdas SQL lambdas (``transform(coords, part ->
...)``), the idiom of ``acid.merge``'s post-image. The same expression
built through the Column API costs py4j round trips per node, and every
Python lambda is rebuilt node by node through the gateway; as text the
JVM parses it in one call. On ``feature_sync``'s pull (6,000-feature
layer, 4-core VM) building the chain went from ~1,770 round trips to
~125, and its traced build time from 0.31-0.36 s to 0.14 s per sync.
Identifiers are backtick-quoted and string literals escaped
(``helpers.sql_ident`` / ``sql_string``); double literals carry the
``D`` suffix (a bare ``6378137.0`` is a DECIMAL) and natural log is
``ln`` (one-argument ``log`` divides by ``ln(e)``), so every value is
bit-identical to the Column-API spelling.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_arcgis_spark.helpers import sql_ident, sql_string

MULTI_TYPES = ("MultiPoint", "MultiLineString", "MultiPolygon")
ROUTED_TYPES = ("Point", "LineString", "Polygon")

_C4 = "array<array<array<array<double>>>>"


def parse_geometry(df: DataFrame, type_col: str = "geom_type", json_col: str = "coords_json") -> DataFrame:
    """Parse GeoJSON ``coordinates`` JSON (type-dependent depth) into the
    canonical depth-4 ``coords`` column. Unknown/null geometry yields
    NULL coords (the reference skips those downstream, task.ts:184-187).
    """
    t, j = sql_ident(type_col), sql_ident(json_col)
    return df.withColumn("coords", F.expr(
        f"CASE WHEN {t} = 'Point' THEN array(array(array(from_json({j}, 'array<double>'))))"
        f" WHEN {t} = 'LineString' THEN array(array(from_json({j}, 'array<array<double>>')))"
        f" WHEN {t} = 'Polygon' THEN array(from_json({j}, 'array<array<array<double>>>'))"
        f" WHEN {t} = 'MultiPoint'"
        f" THEN transform(from_json({j}, 'array<array<double>>'), p -> array(array(p)))"
        f" WHEN {t} = 'MultiLineString'"
        f" THEN transform(from_json({j}, 'array<array<array<double>>>'), line -> array(line))"
        f" WHEN {t} = 'MultiPolygon' THEN from_json({j}, '{_C4}') END"
    ))


def rewrite_id(df: DataFrame, layer_id: int | str, id_col: str = "id") -> DataFrame:
    """A6 (task.ts:427): ``feature.id = 'layer-{layerId}-{id}'``."""
    prefix = sql_string(f"layer-{layer_id}-")
    return df.withColumn(
        id_col, F.expr(f"concat({prefix}, CAST({sql_ident(id_col)} AS STRING))")
    )


def nest_metadata(df: DataFrame, props_col: str = "properties") -> DataFrame:
    """A7 (task.ts:429-431): ``properties = {metadata: properties}``."""
    return df.withColumn(props_col, F.expr(f"struct({sql_ident(props_col)} AS metadata)"))


def explode_multi(df: DataFrame, id_col: str = "id") -> DataFrame:
    """A8 (task.ts:433-444): UnMulti — ``MultiX`` becomes N features of
    type ``X`` with ids suffixed ``-{idx}`` and duplicated attributes;
    non-Multi features pass through with id and part count 1 intact.

    One ``inline`` generator in the scan stage: a Multi row with coords
    yields one struct per part, any other row yields itself — row-count
    expansion without a shuffle or a union. Multi features with NULL
    coords (unparseable geometry) and rows with NULL ``geom_type`` pass
    through unexploded, so the routing stage counts them as skips; an
    empty Multi yields nothing. The input is scanned ONCE, so a pushdown
    scan (``arcgis_sim_pushdown``) can feed it without a pin: the
    reader's two-scans-one-relation hazard (``ArcGISSimReader``) needs
    two scans.
    """
    part = {
        id_col: f"concat({sql_ident(id_col)}, '-', _idx)",
        "geom_type": "regexp_replace(geom_type, '^Multi', '')",
        "coords": "array(_part)",
    }
    cols = [sql_ident(c) for c in df.columns]
    exploded = ", ".join(
        f"{part.get(c, q)} AS {q}" for c, q in zip(df.columns, cols)
    )
    whole = ", ".join(f"{q} AS {q}" for q in cols)
    multi = ", ".join(sql_string(t) for t in MULTI_TYPES)
    return df.selectExpr(
        f"inline(CASE WHEN geom_type IN ({multi}) AND coords IS NOT NULL"
        f" THEN transform(coords, (_part, _idx) -> struct({exploded}))"
        f" ELSE array(struct({whole})) END)"
    )


def route_by_geom_type(df: DataFrame) -> DataFrame:
    """A9 (task.ts:178-187): add the target-layer route; NULL route ==
    the reference's skip counter. Per-sink writes filter on ``route``."""
    return df.withColumn("route", F.expr(
        "CASE WHEN geom_type = 'Point' THEN 'points'"
        " WHEN geom_type = 'LineString' THEN 'lines'"
        " WHEN geom_type = 'Polygon' THEN 'polys' END"
    ))


# Web-Mercator sphere radius, π/4 and π/2 as SQL DOUBLE literals
_R = "6378137.0D"
_QUARTER_PI = "0.7853981633974483D"
_HALF_PI = "1.5707963267948966D"


# ``{}`` (SQL over the ``[x, y]`` array ``v``) applied to every vertex of
# every ring of every part: type-agnostic thanks to the canonical coords
_EACH_VERTEX = "transform(coords, part -> transform(part, ring -> transform(ring, v -> {})))"


def reproject_web_mercator(df: DataFrame) -> DataFrame:
    """A10 (task.ts:194,203-207,213-217): EPSG:4326 -> EPSG:3857 over
    every vertex: x = R·radians(lon); y = R·ln(tan(π/4 + radians(lat)/2))."""
    return df.withColumn("coords", F.expr(_EACH_VERTEX.format(
        f"array({_R} * radians(v[0]), {_R} * ln(tan({_QUARTER_PI} + radians(v[1]) / 2)))"
    )))


def reproject_inverse(df: DataFrame) -> DataFrame:
    """Inverse Web-Mercator (3857 -> 4326), for round-trip property
    tests: lon = degrees(x/R); lat = degrees(2·atan(exp(y/R)) − π/2)."""
    return df.withColumn("coords", F.expr(_EACH_VERTEX.format(
        f"array(degrees(v[0] / {_R}), degrees(atan(exp(v[1] / {_R})) * 2 - {_HALF_PI}))"
    )))


def ring_signed_area2(ring: Column) -> Column:
    """Twice the shoelace signed area of one ring (vertex array of
    ``[x, y]`` pairs): positive = counter-clockwise, negative =
    clockwise. The ``% n`` wrap makes closed rings (first == last
    vertex, the GeoJSON convention) and open rings evaluate
    identically — the wrap edge of a closed ring is degenerate and
    contributes exactly 0. Pure in-row fold, codegen'd.
    ``orient_rings_esri`` spells the same fold as SQL text
    (``_AREA2``); the tests hold the two equal."""
    n = F.size(ring)
    return F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + ring[i][0] * ring[(i + 1) % n][1]
        - ring[(i + 1) % n][0] * ring[i][1],
    )


# ring_signed_area2 over the SQL ring ``{r}``
_AREA2 = (
    "aggregate(sequence(0, size({r}) - 1), 0.0D, (acc, i) -> acc"
    " + {r}[i][0] * {r}[(i + 1) % size({r})][1]"
    " - {r}[(i + 1) % size({r})][0] * {r}[i][1])"
)


def orient_rings_esri(df: DataFrame) -> DataFrame:
    """A11 winding repair — the ring-orientation normalization
    ``@terraformer/arcgis`` ``geojsonToArcGIS`` applies when the
    reference converts Polygon features (task.ts:211): Esri JSON
    requires OUTER rings clockwise and HOLES counter-clockwise, the
    exact opposite of the GeoJSON RFC 7946 convention (outer CCW,
    holes CW). Per polygon part, ring 0 is forced CW and rings 1+ are
    forced CCW by reversing the vertex order of any ring whose
    shoelace sign disagrees; degenerate (zero-area) rings are left
    untouched. Non-polygon geometries pass through unchanged.

    Narrow in-row transform — no shuffle, no Python, runs at scan
    speed with the rest of the A11 conversion."""
    s2 = _AREA2.format(r="ring")
    fix_ring = (
        f"CASE WHEN CASE WHEN ri = 0 THEN {s2} > 0 ELSE {s2} < 0 END"
        " THEN reverse(ring) ELSE ring END"
    )
    return df.withColumn("coords", F.expr(
        "CASE WHEN geom_type IN ('Polygon', 'MultiPolygon')"
        f" THEN transform(coords, part -> transform(part, (ring, ri) -> {fix_ring}))"
        " ELSE coords END"
    ))


def upsert_by_key(existing: DataFrame, incoming: DataFrame, key: str) -> DataFrame:
    """A13 (task.ts:267-349): key-based MERGE, incoming wins.

    One full-outer join + coalesce per column; the ``action`` column
    tags the branch the reference would have executed per feature
    ('insert' ≅ addFeatures task.ts:284-314, 'update' ≅ updateFeatures
    task.ts:316-349, 'keep' = untouched target rows).
    """
    e = existing.alias("e")
    i = incoming.alias("i")
    cols = [c for c in existing.columns if c != key]
    incoming_present = F.col(f"i.{key}").isNotNull()
    joined = e.join(i, F.col(f"e.{key}") == F.col(f"i.{key}"), "full_outer")
    picked = [
        F.coalesce(F.col(f"e.{key}"), F.col(f"i.{key}")).alias(key),
        # row-level replacement: when the key exists in incoming, the
        # WHOLE incoming row wins (updateFeatures replaces the feature,
        # task.ts:316-349) — a per-column coalesce would resurrect old
        # values wherever the update carries NULL
        *[
            F.when(incoming_present, F.col(f"i.{c}")).otherwise(F.col(f"e.{c}")).alias(c)
            for c in cols
        ],
        F.when(~incoming_present, "keep")
        .when(F.col(f"e.{key}").isNull(), "insert")
        .otherwise("update")
        .alias("action"),
    ]
    return joined.select(*picked)


def to_esri_json(df: DataFrame) -> DataFrame:
    """A11 (task.ts:191,201,211 + 230-233): GeoJSON -> Esri JSON.

    Structural conversion per geometry type — Point => ``{x, y}``,
    LineString => ``{paths: [line]}``, Polygon => ``{rings: rings}`` —
    with the Web-Mercator ``spatialReference {wkid: 102100, latestWkid:
    3857}`` stamped exactly as the reference does after reprojection.
    Expects single-part (exploded) features; emits an ``esri_json``
    string column with fixed field order (hash-stable).
    """
    sr = "'spatialReference', named_struct('wkid', 102100, 'latestWkid', 3857)"
    pt = "coords[0][0][0]"
    return df.withColumn("esri_json", F.expr(
        "CASE WHEN geom_type = 'Point'"
        f" THEN to_json(named_struct('x', {pt}[0], 'y', {pt}[1], {sr}))"
        " WHEN geom_type = 'LineString'"
        f" THEN to_json(named_struct('paths', coords[0], {sr}))"
        " WHEN geom_type = 'Polygon'"
        f" THEN to_json(named_struct('rings', coords[0], {sr})) END"
    ))


# Permissive superset schema: exactly one of x/y, paths, rings is
# populated per EsriJSON geometry kind; from_json leaves the rest NULL.
_ESRI_SCHEMA = (
    "x double, y double, paths array<array<array<double>>>, "
    "rings array<array<array<double>>>"
)


def from_esri_json(df: DataFrame, json_col: str = "esri_json") -> DataFrame:
    """A11 inverse (the esri-dump ingest direction): Esri JSON ->
    GeoJSON ``(geom_type, coords)`` in the canonical depth-4 layout.

    Mapping (the esri-dump convention the reference consumes):
      ``{x, y}``        -> Point           ``[[[pt]]]``
      ``{paths: [p]}``  -> LineString      ``[[p]]``
      ``{paths: N>1}``  -> MultiLineString ``[[p1], [p2], ...]``
      ``{rings: rs}``   -> Polygon         ``[rs]`` (holes stay rings)
    Unrecognized/null JSON -> NULL geom_type + coords (skip-counted
    downstream, task.ts:184-187). A narrow projection — scan-speed,
    shuffle-free; with ``to_esri_json`` this closes the round trip so
    the pipeline can ingest native Esri payloads end to end.
    """
    g = F.from_json(F.col(json_col), _ESRI_SCHEMA)
    is_point = g["x"].isNotNull() & g["y"].isNotNull()
    one_path = g["paths"].isNotNull() & (F.size(g["paths"]) == 1)
    many_paths = g["paths"].isNotNull() & (F.size(g["paths"]) > 1)
    has_rings = g["rings"].isNotNull()
    geom_type = (
        F.when(is_point, "Point")
        .when(one_path, "LineString")
        .when(many_paths, "MultiLineString")
        .when(has_rings, "Polygon")
    )
    coords = (
        F.when(is_point, F.array(F.array(F.array(F.array(g["x"], g["y"])))))
        .when(one_path, F.array(g["paths"]))
        .when(many_paths, F.transform(g["paths"], lambda p: F.array(p)))
        .when(has_rings, F.array(g["rings"]))
        .cast(_C4)
    )
    return df.withColumn("geom_type", geom_type).withColumn("coords", coords)
