"""Reference-behavior tests on GeoJSON-shaped fixtures (SURVEY.md §5.4).

Mirrors the reference's own transforms feature-for-feature:
explode -idx ids (task.ts:433-444), metadata nesting (task.ts:429-431),
id rewrite (task.ts:427), geometry routing + skip (task.ts:178-187),
Web-Mercator reprojection (task.ts:194), key upsert (task.ts:267-349).
Fixture includes every Multi* type, a null geometry, and Null Island
per FIXTURES.md §2.
"""

from __future__ import annotations

import json

import py4j.clientserver
import pytest
from pyspark.sql import functions as F

from etl_arcgis_spark import geojson as G
from etl_arcgis_spark.sources import arcgis_sim
from perfbench import gen

FEATURES = [
    # (id, properties, geom_type, coordinates)
    ("f1", {"callsign": "A"}, "Point", [10.0, 20.0]),
    ("f2", {"callsign": "B"}, "Point", [0.0, 0.0]),  # Null Island passes through
    ("f3", {"callsign": "C"}, "LineString", [[0.0, 1.0], [2.0, 3.0]]),
    ("f4", {"callsign": "D"}, "Polygon", [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]]),
    ("f5", {"callsign": "E"}, "MultiPoint", [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]),
    ("f6", {"callsign": "F"}, "MultiLineString", [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]]),
    (
        "f7",
        {"callsign": "G"},
        "MultiPolygon",
        [
            [[[0.0, 0.0], [1.0, 0.0], [1.0, 1.0], [0.0, 0.0]]],
            [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 5.0]]],
        ],
    ),
    ("f8", {"callsign": "H"}, None, None),  # no geometry -> skipped
    ("f9", {"callsign": "I"}, "GeometryCollection", None),  # unrouteable
    # Multi type whose coordinates failed to parse: must survive explode
    # (as an unexploded row) and land in the skip count, not vanish
    ("f10", {"callsign": "J"}, "MultiLineString", None),
]


@pytest.fixture(scope="module")
def features(spark):
    rows = [
        (fid, props, gt, json.dumps(coords) if coords is not None else None)
        for fid, props, gt, coords in FEATURES
    ]
    df = spark.createDataFrame(
        rows, "id string, properties map<string,string>, geom_type string, coords_json string"
    )
    return G.parse_geometry(df)


def test_explode_conservation_and_ids(features):
    out = G.explode_multi(features)
    rows = {r["id"]: r for r in out.collect()}
    # 3 + 2 + 2 parts from the three Multi features; 6 non-multi rows and
    # the null-coords Multi (f10) pass through
    assert len(rows) == 7 + 3 + 2 + 2
    assert rows["f10"]["geom_type"] == "MultiLineString"  # unexploded, kept
    # -idx suffix and Multi prefix stripped (task.ts:433-444)
    assert rows["f5-0"]["geom_type"] == "Point"
    assert rows["f5-2"]["coords"] == [[[[5.0, 6.0]]]]
    assert rows["f6-1"]["geom_type"] == "LineString"
    assert rows["f7-1"]["geom_type"] == "Polygon"
    # properties duplicated onto every part
    assert rows["f7-0"]["properties"]["callsign"] == "G"
    assert rows["f7-1"]["properties"]["callsign"] == "G"
    # non-multi untouched
    assert rows["f1"]["geom_type"] == "Point"


def test_route_and_skip(features):
    routed = G.route_by_geom_type(G.explode_multi(features))
    skipped = routed.filter(F.col("route").isNull()).select("id").collect()
    # null geometry + GeometryCollection + unparseable Multi are skipped
    # (task.ts:178-187)
    assert {r["id"] for r in skipped} == {"f8", "f9", "f10"}
    counts = {r["route"]: r["n"] for r in routed.groupBy("route").agg(F.count("*").alias("n")).collect()}
    assert counts["points"] == 2 + 3  # f1, f2 + exploded f5
    assert counts["lines"] == 1 + 2
    assert counts["polys"] == 1 + 2


def test_id_rewrite_and_metadata_nesting(features):
    out = G.nest_metadata(G.rewrite_id(features, 7))
    row = out.filter(F.col("id") == "layer-7-f1").first()
    assert row is not None  # task.ts:427 format
    assert row["properties"]["metadata"]["callsign"] == "A"  # task.ts:429-431


def test_reprojection_roundtrip(features):
    """Property test: 4326 -> 3857 -> 4326 within 1e-9 degrees; Null
    Island maps to (0, 0) exactly (CHANGELOG.md:103 behavior)."""
    geo = features.filter(F.col("coords").isNotNull())
    back = G.reproject_inverse(G.reproject_web_mercator(geo))
    orig = {r["id"]: r["coords"] for r in geo.collect()}
    rt = {r["id"]: r["coords"] for r in back.collect()}
    for fid, parts in orig.items():
        for p, part in enumerate(parts):
            for r, ring in enumerate(part):
                for v, (lon, lat) in enumerate(ring):
                    lon2, lat2 = rt[fid][p][r][v]
                    assert abs(lon - lon2) < 1e-9 and abs(lat - lat2) < 1e-9
    # Null Island passes through, mapping to (0, 0) within float noise
    merc = {r["id"]: r["coords"] for r in G.reproject_web_mercator(geo).collect()}
    x0, y0 = merc["f2"][0][0][0]
    assert abs(x0) < 1e-6 and abs(y0) < 1e-6  # metres


def test_upsert_by_key(spark):
    existing = spark.createDataFrame(
        [("c1", "Alpha", "old"), ("c2", "Bravo", "old")],
        "cotuid string, callsign string, remarks string",
    )
    incoming = spark.createDataFrame(
        [("c2", "Bravo2", None), ("c3", "Charlie", "new")],
        "cotuid string, callsign string, remarks string",
    )
    out = {r["cotuid"]: r for r in G.upsert_by_key(existing, incoming, "cotuid").collect()}
    assert out["c1"]["action"] == "keep" and out["c1"]["callsign"] == "Alpha"
    assert out["c2"]["action"] == "update" and out["c2"]["callsign"] == "Bravo2"
    # row-level replacement: the update's NULL remarks CLEARS the field
    # (updateFeatures replaces the whole feature) — a column coalesce
    # would have resurrected 'old'
    assert out["c2"]["remarks"] is None
    assert out["c3"]["action"] == "insert" and out["c3"]["remarks"] == "new"


def test_to_esri_json_conversion(features):
    """A11: GeoJSON->EsriJSON — x/y for points, paths for lines, rings
    for polygons, spatialReference stamped (task.ts:191-233)."""
    out = G.to_esri_json(G.explode_multi(features))
    rows = {r["id"]: r["esri_json"] for r in out.collect() if r["esri_json"]}
    pt = json.loads(rows["f1"])
    assert pt == {"x": 10.0, "y": 20.0, "spatialReference": {"wkid": 102100, "latestWkid": 3857}}
    ln = json.loads(rows["f3"])
    assert ln["paths"] == [[[0.0, 1.0], [2.0, 3.0]]]
    assert ln["spatialReference"]["wkid"] == 102100
    pg = json.loads(rows["f7-1"])
    assert pg["rings"] == [[[5.0, 5.0], [6.0, 5.0], [6.0, 6.0], [5.0, 5.0]]]
    # null-geometry and unrouteable features produce no esri_json
    assert "f8" not in rows and "f9" not in rows


def test_esri_json_round_trip(features):
    """A11 inverse: EsriJSON -> GeoJSON recovers geom_type and the
    canonical depth-4 coords bit-for-bit for every routed feature
    (to_json/from_json double round-trip is exact)."""
    routed = G.explode_multi(features).filter(
        F.col("geom_type").isin("Point", "LineString", "Polygon")
    )
    fwd = G.to_esri_json(routed)
    back = G.from_esri_json(
        fwd.select("id", "esri_json").withColumnRenamed("esri_json", "ej"), "ej"
    )
    want = {r["id"]: (r["geom_type"], r["coords"]) for r in routed.collect()}
    got = {r["id"]: (r["geom_type"], r["coords"]) for r in back.collect()}
    assert got == want and len(got) >= 9


def test_from_esri_json_multipath_and_garbage(spark):
    """Multi-path polylines map to MultiLineString; unparseable or
    unknown payloads yield NULL geometry (skip-counted, not an error)."""
    rows = [
        ("m1", '{"paths": [[[0.0, 0.0], [1.0, 1.0]], [[2.0, 2.0], [3.0, 3.0]]]}'),
        ("g1", "not json at all"),
        ("g2", '{"unknown": 1}'),
        ("g3", None),
    ]
    out = {
        r["id"]: (r["geom_type"], r["coords"])
        for r in G.from_esri_json(
            spark.createDataFrame(rows, "id string, esri_json string")
        ).collect()
    }
    assert out["m1"][0] == "MultiLineString"
    assert out["m1"][1] == [[[[0.0, 0.0], [1.0, 1.0]]], [[[2.0, 2.0], [3.0, 3.0]]]]
    for bad in ("g1", "g2", "g3"):
        assert out[bad] == (None, None)


def _incoming(raw):
    """The Incoming chain as ``perfbench/workloads.py:IncomingFlow.pull``
    builds it: id rewrite, metadata nesting, explode, routing,
    reprojection, ring repair, Esri JSON."""
    feats = raw.withColumnRenamed("fid", "id").withColumn(
        "properties", F.create_map(F.lit("callsign"), F.col("callsign"),
                                   F.lit("remarks"), F.col("remarks")))
    inc = G.explode_multi(G.nest_metadata(G.rewrite_id(G.parse_geometry(feats), 7)))
    routed = G.route_by_geom_type(inc).filter(F.col("route").isNotNull())
    shipped = G.to_esri_json(G.orient_rings_esri(G.reproject_web_mercator(routed)))
    return shipped.select("id", "route", "esri_json")


@pytest.fixture(scope="module")
def layer(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("layer") / "layer.jsonl")
    records = gen.layer(path, 101, 600)
    arcgis_sim.register(spark)
    return path, records


def _pushdown_scan(spark, path):
    return (
        spark.read.format("arcgis_sim_pushdown").option("path", path)
        .option("pageSize", 150).load().filter(F.col("priority") <= 3)
    )


def test_unpinned_pushdown_scan_feeds_the_chain(spark, layer):
    """explode_multi scans its input once, so the pushdown reader can
    feed the chain unpinned. Two scans of one pushdown relation with
    different pushed filters share one scan's rows (ArcGISSimReader),
    which silently dropped rows when explode_multi was a union."""
    path, records = layer
    want_n = sum(
        len(json.loads(r["coords_json"])) if r["geom_type"].startswith("Multi") else 1
        for r in records if r["priority"] <= 3
    )
    pinned = sorted(_incoming(_pushdown_scan(spark, path).localCheckpoint()).collect())
    unpinned_df = _incoming(_pushdown_scan(spark, path))
    unpinned = sorted(unpinned_df.collect())
    assert len(pinned) == want_n
    assert unpinned == pinned
    plan = unpinned_df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BatchScan") == 1 and "Union" not in plan


# py4j round trips to build the chain above on a loaded scan. The
# Column-API spelling took ~1,770; as SQL text it takes ~125.
CHAIN_PY4J_BUDGET = 300


def test_chain_build_stays_within_py4j_budget(spark, layer, monkeypatch):
    raw = _pushdown_scan(spark, layer[0])
    calls = 0
    send = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        nonlocal calls
        calls += 1
        return send(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    _incoming(raw)
    monkeypatch.undo()
    assert calls <= CHAIN_PY4J_BUDGET, f"building the chain took {calls} py4j calls"
