"""outSR wkid dispatch (VERDICT r10 "next" #4): routing parity with the
bespoke projection operators + A18 quarantine on unsupported wkids."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from etl_arcgis_spark.operators import etl

SF = "/root/testdata/sf0.001"


def _points(spark, wkid: int):
    from etl_arcgis_spark.tables import table

    return table(spark, SF, "customer").select(
        "c_custkey",
        F.expr(etl.LON).cast("double").alias("lon"),
        F.expr(etl.LAT).cast("double").alias("lat"),
        F.lit(wkid).cast("bigint").alias("wkid"),
    )


def _dispatched(spark, wkid: int):
    out = etl.reproject_by_wkid(_points(spark, wkid), [wkid])
    return {
        r["c_custkey"]: (r["easting"], r["northing"])
        for r in out.filter("status = 'projected'").collect()
    }


def test_dispatch_matches_bespoke_webmercator(spark):
    got = _dispatched(spark, 3857)
    want = {
        r["c_custkey"]: (r["x_3857"], r["y_3857"])
        for r in etl.geo_reproject_webmercator(spark, SF).collect()
    }
    assert got
    for k, v in got.items():
        assert v == want[k]


def test_dispatch_matches_bespoke_utm_in_zone(spark):
    """EPSG:32614 (UTM 14N): the fixed-zone kernel must equal the
    per-row-zone bespoke operator for every in-zone northern row."""
    got = _dispatched(spark, 32614)
    want = {
        r["c_custkey"]: (r["easting"], r["northing"])
        for r in etl.geo_reproject_utm(spark, SF)
        .filter("zone = 14 AND hemi = 'N'")
        .collect()
    }
    assert got and set(got) == set(want)
    for k, v in got.items():
        assert v == want[k]


@pytest.mark.parametrize(
    "wkid,bespoke",
    [
        (5070, "geo_reproject_albers"),
        (102003, "geo_reproject_albers"),
        (102004, "geo_reproject_lcc"),
        (3035, "geo_reproject_laea"),
    ],
)
def test_dispatch_matches_bespoke_conic_azimuthal(spark, wkid, bespoke):
    got = _dispatched(spark, wkid)
    want = {
        r["c_custkey"]: (r["easting"], r["northing"])
        for r in getattr(etl, bespoke)(spark, SF).collect()
    }
    assert got and got == want


def test_unsupported_wkid_is_quarantined_not_undefined(spark):
    """The reference forwards arbitrary CRS (task.ts:194); an
    unimplemented wkid must route to the A18 quarantine status —
    every input row accounted for, no exception, no silent drop."""
    df = _points(spark, 99999)
    out = etl.reproject_by_wkid(df, [99999, 3857])
    rows = out.collect()
    assert len(rows) == df.count()
    assert {r["status"] for r in rows} == {"quarantine:unsupported_wkid"}
    assert all(r["easting"] is None and r["northing"] is None for r in rows)


def test_out_of_window_rows_quarantined_and_partitioned_exactly(spark):
    """Every row lands in exactly one leg: projected + out_of_window
    partition the in-wkid rows; nothing is duplicated or lost."""
    df = _points(spark, 32755)  # UTM 55S: lon [144,150), lat < 0
    out = etl.reproject_by_wkid(df, [32755])
    counts = {
        r["status"]: r["n"]
        for r in out.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert sum(counts.values()) == df.count()
    in_window = df.filter(
        "lon >= 144 AND lon < 150 AND lat < 0 AND lat >= -80"
    ).count()
    assert counts.get("projected", 0) == in_window
    assert counts["quarantine:out_of_window"] == df.count() - in_window


def test_null_inputs_quarantined_not_dropped(spark):
    """ADVICE r11: a NULL wkid/lon/lat row must land in an explicit
    quarantine status, not vanish — the r11 union-of-filtered-legs
    spelling dropped such rows silently (a NULL predicate fails both a
    filter and its negation). Every input row accounted for."""
    df = spark.createDataFrame(
        [
            (1, 10.0, 50.0, 3857),     # projected
            (2, None, 50.0, 3857),     # null lon
            (3, 10.0, None, 3857),     # null lat
            (4, 10.0, 50.0, None),     # null wkid
            (5, None, None, None),     # all null
        ],
        "id bigint, lon double, lat double, wkid bigint",
    )
    out = etl.reproject_by_wkid(df, [3857]).collect()
    assert len(out) == 5
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["status"] == "projected"
    for i in (2, 3, 4, 5):
        assert by_id[i]["status"] == "quarantine:null_input", by_id[i]
        assert by_id[i]["easting"] is None and by_id[i]["northing"] is None


def test_dispatch_plans_one_scan(spark):
    """VERDICT r11 finding #3: the r11 dispatch unioned 15 filtered
    legs = 15 physical scans of the base at 7 CRSes. The r12 CASE-
    routed projection must plan exactly ONE scan of the source."""
    from etl_arcgis_spark import registry

    df = registry.all_queries()["geo_reproject_dispatch"](spark, SF)
    p = df._jdf.queryExecution().executedPlan().toString()
    n_scans = p.count("Scan parquet") + p.count("Scan ExistingRDD") + p.count(
        "Scan In-memory"
    )
    assert n_scans == 1, f"expected 1 scan, plan has {n_scans}:\n{p[:2000]}"
    assert "Exchange" not in p  # map-only: no shuffle anywhere
