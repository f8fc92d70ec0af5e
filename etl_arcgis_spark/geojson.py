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
UnMulti explode (task.ts:433-444) is exactly ``posexplode(coords)`` for
every type, and reprojection (task.ts:194,203-207,213-217) is one
nested ``transform`` over vertices regardless of type. All operators
here are narrow, shuffle-free, codegen'd projections — they run at scan
speed at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MULTI_TYPES = ("MultiPoint", "MultiLineString", "MultiPolygon")
ROUTED_TYPES = ("Point", "LineString", "Polygon")

_C4 = "array<array<array<array<double>>>>"


def parse_geometry(df: DataFrame, type_col: str = "geom_type", json_col: str = "coords_json") -> DataFrame:
    """Parse GeoJSON ``coordinates`` JSON (type-dependent depth) into the
    canonical depth-4 ``coords`` column. Unknown/null geometry yields
    NULL coords (the reference skips those downstream, task.ts:184-187).
    """
    t = F.col(type_col)
    j = F.col(json_col)
    pt = F.from_json(j, "array<double>")
    line = F.from_json(j, "array<array<double>>")
    rings = F.from_json(j, "array<array<array<double>>>")
    parts4 = F.from_json(j, _C4)
    coords = (
        F.when(t == "Point", F.array(F.array(F.array(pt))))
        .when(t == "LineString", F.array(F.array(line)))
        .when(t == "Polygon", F.array(rings))
        .when(t == "MultiPoint", F.transform(line, lambda p: F.array(F.array(p))))
        .when(t == "MultiLineString", F.transform(rings, lambda ln: F.array(ln)))
        .when(t == "MultiPolygon", parts4)
    )
    return df.withColumn("coords", coords)


def rewrite_id(df: DataFrame, layer_id: int | str, id_col: str = "id") -> DataFrame:
    """A6 (task.ts:427): ``feature.id = 'layer-{layerId}-{id}'``."""
    return df.withColumn(
        id_col, F.concat(F.lit(f"layer-{layer_id}-"), F.col(id_col).cast("string"))
    )


def nest_metadata(df: DataFrame, props_col: str = "properties") -> DataFrame:
    """A7 (task.ts:429-431): ``properties = {metadata: properties}``."""
    return df.withColumn(props_col, F.struct(F.col(props_col).alias("metadata")))


def explode_multi(df: DataFrame, id_col: str = "id") -> DataFrame:
    """A8 (task.ts:433-444): UnMulti — ``MultiX`` becomes N features of
    type ``X`` with ids suffixed ``-{idx}`` and duplicated attributes;
    non-Multi features pass through with id and part count 1 intact.

    ``posexplode`` is a generator in the scan stage: row-count expansion
    without any shuffle.
    """
    is_multi = F.col("geom_type").isin(*MULTI_TYPES)
    explodable = is_multi & F.col("coords").isNotNull()
    exploded = (
        df.filter(explodable)
        .select(
            "*", F.posexplode("coords").alias("part_idx", "part")
        )
        .withColumn(id_col, F.concat(F.col(id_col), F.lit("-"), F.col("part_idx")))
        .withColumn("geom_type", F.regexp_replace("geom_type", "^Multi", ""))
        .withColumn("coords", F.array(F.col("part")))
        .drop("part_idx", "part")
    )
    # Multi features with NULL coords (unparseable geometry) pass
    # through unexploded so the routing stage can count them as skips —
    # posexplode alone would silently erase them
    passthrough = df.filter(~explodable | F.col("geom_type").isNull())
    return passthrough.unionByName(exploded)


def route_by_geom_type(df: DataFrame) -> DataFrame:
    """A9 (task.ts:178-187): add the target-layer route; NULL route ==
    the reference's skip counter. Per-sink writes filter on ``route``."""
    return df.withColumn(
        "route",
        F.when(F.col("geom_type") == "Point", "points")
        .when(F.col("geom_type") == "LineString", "lines")
        .when(F.col("geom_type") == "Polygon", "polys"),
    )


_R = 6378137.0


def _merc_x(lon: Column) -> Column:
    return F.lit(_R) * F.radians(lon)


_PI = 3.141592653589793


def _merc_y(lat: Column) -> Column:
    return F.lit(_R) * F.log(F.tan(F.lit(_PI / 4) + F.radians(lat) / 2))


def _map_vertices(df: DataFrame, vertex) -> DataFrame:
    """Apply ``vertex`` (a ``[x, y]`` Column -> Column function) to
    every vertex of every ring of every part — one nested ``transform``
    chain, type-agnostic thanks to the canonical depth-4 coords."""
    return df.withColumn(
        "coords",
        F.transform(
            "coords",
            lambda part: F.transform(part, lambda ring: F.transform(ring, vertex)),
        ),
    )


def reproject_web_mercator(df: DataFrame) -> DataFrame:
    """A10 (task.ts:194,203-207,213-217): EPSG:4326 -> EPSG:3857 over
    every vertex."""
    return _map_vertices(
        df, lambda pt: F.array(_merc_x(pt.getItem(0)), _merc_y(pt.getItem(1)))
    )


def reproject_inverse(df: DataFrame) -> DataFrame:
    """Inverse Web-Mercator (3857 -> 4326), for round-trip property
    tests: lon = degrees(x/R); lat = degrees(2·atan(exp(y/R)) − π/2)."""
    return _map_vertices(
        df,
        lambda pt: F.array(
            F.degrees(pt.getItem(0) / F.lit(_R)),
            F.degrees(F.atan(F.exp(pt.getItem(1) / F.lit(_R))) * 2 - F.lit(_PI / 2)),
        ),
    )


def ring_signed_area2(ring: Column) -> Column:
    """Twice the shoelace signed area of one ring (vertex array of
    ``[x, y]`` pairs): positive = counter-clockwise, negative =
    clockwise. The ``% n`` wrap makes closed rings (first == last
    vertex, the GeoJSON convention) and open rings evaluate
    identically — the wrap edge of a closed ring is degenerate and
    contributes exactly 0. Pure in-row fold, codegen'd."""
    n = F.size(ring)
    return F.aggregate(
        F.sequence(F.lit(0), n - 1),
        F.lit(0.0),
        lambda acc, i: acc
        + ring[i][0] * ring[(i + 1) % n][1]
        - ring[(i + 1) % n][0] * ring[i][1],
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
    def fix_ring(ring: Column, ri: Column) -> Column:
        s2 = ring_signed_area2(ring)
        wrong = F.when(ri == 0, s2 > 0).otherwise(s2 < 0)
        return F.when(wrong, F.reverse(ring)).otherwise(ring)

    fixed = F.transform(
        "coords", lambda part: F.transform(part, fix_ring)
    )
    is_poly = F.col("geom_type").isin("Polygon", "MultiPolygon")
    return df.withColumn(
        "coords", F.when(is_poly, fixed).otherwise(F.col("coords"))
    )


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
    sr = F.struct(
        F.lit(102100).alias("wkid"), F.lit(3857).alias("latestWkid")
    ).alias("spatialReference")
    pt = F.col("coords").getItem(0).getItem(0).getItem(0)
    point_json = F.to_json(
        F.struct(pt.getItem(0).alias("x"), pt.getItem(1).alias("y"), sr)
    )
    line_json = F.to_json(F.struct(F.col("coords").getItem(0).alias("paths"), sr))
    poly_json = F.to_json(F.struct(F.col("coords").getItem(0).alias("rings"), sr))
    return df.withColumn(
        "esri_json",
        F.when(F.col("geom_type") == "Point", point_json)
        .when(F.col("geom_type") == "LineString", line_json)
        .when(F.col("geom_type") == "Polygon", poly_json),
    )


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
