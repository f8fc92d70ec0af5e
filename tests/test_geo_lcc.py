"""geo_reproject_lcc: round-trip closure, ellipsoid-pinned anchors
(origin, standard-parallel scale), and the r4 midpoint-margin probe
underwriting the determinism recipe (the test_geo_utm discipline)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from etl_arcgis_spark.helpers import LAT, LON
from etl_arcgis_spark.operators.etl import (
    _lcc_fwd_stages,
    _lcc_inv_stages,
    apply_stages,
)
from etl_arcgis_spark.tables import table


def _fwd(df):
    return apply_stages(df, _lcc_fwd_stages())


def _fwd_inv(df):
    return apply_stages(_fwd(df), _lcc_inv_stages())


def test_lcc_round_trip_closure(spark):
    """inverse(forward(p)) closes below 1e-6 degrees over the CONUS
    lattice window (three conformal fixed-point refinements)."""
    df = (
        table(spark, "/root/testdata/sf0.01", "customer")
        .select(
            F.expr(LON).cast("double").alias("lon"),
            F.expr(LAT).cast("double").alias("lat"),
        )
        .filter(F.col("lon").between(-130, -60) & F.col("lat").between(20, 55))
    )
    pdf = _fwd_inv(df).select("lat", "lon", "lat_inv", "lon_inv").toPandas()
    assert len(pdf) > 0
    assert float((pdf.lat_inv - pdf.lat).abs().max()) < 1e-6
    assert float((pdf.lon_inv - pdf.lon).abs().max()) < 1e-6


def test_lcc_origin_and_axis_anchors(spark):
    """Ellipsoid-independent pins: the projection origin (39N, 96W)
    maps to exactly (0, 0); every point on the central meridian has
    E = 0 and N monotone in latitude."""
    df = spark.createDataFrame(
        [(-96.0, 39.0), (-96.0, 30.0), (-96.0, 45.0), (-96.0, 52.0)],
        "lon double, lat double",
    )
    rows = {r.lat: (r.lcc_e, r.lcc_n) for r in _fwd(df).collect()}
    assert abs(rows[39.0][0]) < 1e-9 and abs(rows[39.0][1]) < 1e-6
    assert all(abs(e) < 1e-9 for (e, _n) in rows.values())
    assert rows[30.0][1] < rows[39.0][1] < rows[45.0][1] < rows[52.0][1]


def test_lcc_standard_parallel_scale_is_one(spark):
    """On BOTH standard parallels the scale factor is 1: a small
    east-west step of dlam degrees at phi1/phi2 must project to a
    chord of length a*m(phi)*dlam_rad within first order — this pins
    n and F against the ELLIPSOID (Snyder §15), not against our own
    forward code. Between the parallels scale < 1, outside > 1."""
    e2 = 0.0066943800229007869
    a = 6378137.0
    dlam = 0.01  # degrees

    def parallel_radius(lat_deg):
        phi = math.radians(lat_deg)
        return a * math.cos(phi) / math.sqrt(1 - e2 * math.sin(phi) ** 2)

    lats = [33.0, 45.0, 39.0, 25.0, 52.0]
    df = spark.createDataFrame(
        [(-96.0 + k * dlam, lat) for lat in lats for k in (0, 1)],
        "lon double, lat double",
    )
    pts = {
        (r.lat, r.lon): (r.lcc_e, r.lcc_n) for r in _fwd(df).collect()
    }
    for lat in lats:
        (e0, n0) = pts[(lat, -96.0)]
        (e1, n1) = pts[(lat, -96.0 + dlam)]
        chord = math.hypot(e1 - e0, n1 - n0)
        arc = parallel_radius(lat) * math.radians(dlam)
        k = chord / arc
        if lat in (33.0, 45.0):
            assert abs(k - 1) < 1e-6, (lat, k)
        elif lat == 39.0:
            assert k < 1 - 1e-4, (lat, k)
        else:
            assert k > 1 + 1e-4, (lat, k)


def test_lcc_r4_midpoint_margin(spark):
    """The finite CONUS lattice value set must keep every r4-rounded
    easting/northing far from a .00005 midpoint: require > 5e-4 grid
    units (5e-8 absolute — the UTM probe's bar; libm cross-engine
    noise at the ~3e6 m magnitudes here is ~1e-9)."""
    df = (
        table(spark, "/root/testdata/sf0.1", "customer")
        .select(
            F.expr(LON).cast("double").alias("lon"),
            F.expr(LAT).cast("double").alias("lat"),
        )
        .filter(F.col("lon").between(-130, -60) & F.col("lat").between(20, 55))
        .distinct()
    )
    pdf = _fwd(df).select("lcc_e", "lcc_n").toPandas()
    import numpy as np

    for col in ("lcc_e", "lcc_n"):
        v = pdf[col].to_numpy() * 10000.0
        frac = np.abs(v - np.round(v))
        margin = float(np.min(np.abs(frac - 0.5)))
        assert margin > 5e-4, (col, margin)
