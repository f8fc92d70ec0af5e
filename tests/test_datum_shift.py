"""C231 datum shift: SQL Molodensky vs an independent python
transcription, plus the physical NAD27-CONUS shift signature."""

from __future__ import annotations

import pyspark.sql.functions as F

from etl_arcgis_spark.operators import etl

SF = "/root/testdata/sf0.001"


def test_sql_matches_python_twin(spark):
    out = {
        r["c_custkey"]: (r["lon_wgs84"], r["lat_wgs84"])
        for r in etl.etl_datum_shift_nad27(spark, SF).collect()
    }
    assert out
    from etl_arcgis_spark.tables import table

    pts = (
        table(spark, SF, "customer")
        .select(
            "c_custkey",
            F.expr(etl.LON).cast("double").alias("lon"),
            F.expr(etl.LAT).cast("double").alias("lat"),
        )
        .filter(F.col("lon").between(-130, -60) & F.col("lat").between(20, 55))
        .collect()
    )
    for r in pts:
        lon_w, lat_w = etl.molodensky_py(r["lon"], r["lat"])
        got_lon, got_lat = out[r["c_custkey"]]
        assert abs(got_lon - round(lon_w, 7)) <= 1e-7
        assert abs(got_lat - round(lat_w, 7)) <= 1e-7


def test_conus_shift_signature(spark):
    """The NAD27->WGS84 CONUS shift is famously tens of meters with a
    dominant westward component in longitude seconds — pin the
    magnitude envelope so a sign/param transcription error can't pass."""
    rows = etl.etl_datum_shift_nad27(spark, SF).collect()
    assert rows
    for r in rows:
        total = (r["shift_north_m"] ** 2 + r["shift_east_m"] ** 2) ** 0.5
        assert 5.0 <= total <= 250.0, (r["c_custkey"], total)


def test_roundtrip_first_order():
    """Applying the inverse parameter set returns within the abridged
    formula's own second-order error (<< the shift itself)."""
    import etl_arcgis_spark.operators.etl as e

    lon0, lat0 = -96.5, 39.5
    lon1, lat1 = e.molodensky_py(lon0, lat0)
    # invert by negating the shift parameters around the twin
    saved = (e._M_DX, e._M_DY, e._M_DZ, e._M_DA, e._M_DF)
    try:
        e._M_DX, e._M_DY, e._M_DZ = -saved[0], -saved[1], -saved[2]
        e._M_DA, e._M_DF = -saved[3], -saved[4]
        lon2, lat2 = e.molodensky_py(lon1, lat1)
    finally:
        e._M_DX, e._M_DY, e._M_DZ, e._M_DA, e._M_DF = saved
    # second-order residual: meters-level shift, sub-mm closure
    assert abs(lon2 - lon0) < 1e-6 and abs(lat2 - lat0) < 1e-6
