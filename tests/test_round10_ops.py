"""Semantics tests for the round-10 extension operators (C200+) —
brute-force / known-answer references on crafted inputs. The check.py
oracles prove fixture agreement; these prove the FORMULAS on
adversarial cases (planted orientations, degenerate rings, known
sketch collisions, hand-computed statistics)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_arcgis_spark.geojson import _AREA2, orient_rings_esri, ring_signed_area2


# ---------------------------------------------------------------------------
# C200: ring-winding repair (terraformer geojsonToArcGIS semantics)

# integer-coordinate unit squares: orientation is exact, no trig
_CCW_SQ = [[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0]]
_CW_SQ = list(reversed(_CCW_SQ))
_CCW_HOLE = [[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5]]
_CW_HOLE = list(reversed(_CCW_HOLE))
# closed variant (first vertex repeated) — GeoJSON's usual spelling
_CCW_SQ_CLOSED = _CCW_SQ + [_CCW_SQ[0]]


def test_ring_signed_area2_sign_and_closure(spark):
    rows = [
        ("ccw", [[_CCW_SQ]]),
        ("cw", [[_CW_SQ]]),
        ("ccw_closed", [[_CCW_SQ_CLOSED]]),
    ]
    df = spark.createDataFrame(
        rows, "id string, coords array<array<array<array<double>>>>"
    )
    out = {
        r["id"]: r["s2"]
        for r in df.select(
            "id", ring_signed_area2(F.col("coords")[0][0]).alias("s2")
        ).collect()
    }
    assert out["ccw"] == 8.0  # 2x area of the 2x2 square, CCW positive
    assert out["cw"] == -8.0
    assert out["ccw_closed"] == 8.0  # closure edge contributes 0
    # orient_rings_esri's SQL-text spelling of the same fold agrees
    sql = {
        r["id"]: r["s2"]
        for r in df.select(
            "id", F.expr(_AREA2.format(r="coords[0][0]")).alias("s2")
        ).collect()
    }
    assert sql == out


def test_orient_rings_esri_repairs_only_wrong_rings(spark):
    rows = [
        # RFC 7946 polygon (outer CCW, hole CW) -> BOTH rings flip
        ("geojson", "Polygon", [[_CCW_SQ, _CW_HOLE]]),
        # already Esri-oriented (outer CW, hole CCW) -> untouched
        ("esri", "Polygon", [[_CW_SQ, _CCW_HOLE]]),
        # non-polygon passes through even though its "ring" is CCW
        ("line", "LineString", [[_CCW_SQ]]),
    ]
    df = spark.createDataFrame(
        rows, "id string, geom_type string, coords array<array<array<array<double>>>>"
    )
    fixed = {r["id"]: r["coords"] for r in orient_rings_esri(df).collect()}
    # repaired GeoJSON polygon: outer now CW, hole now CCW
    assert fixed["geojson"][0][0] == _CW_SQ
    assert fixed["geojson"][0][1] == _CCW_HOLE
    # correctly-oriented polygon is bit-identical
    assert fixed["esri"][0][0] == _CW_SQ
    assert fixed["esri"][0][1] == _CCW_HOLE
    # LineString untouched (still CCW order)
    assert fixed["line"][0][0] == _CCW_SQ


def test_orient_rings_esri_multipolygon_per_part(spark):
    rows = [
        (
            "mp",
            "MultiPolygon",
            [[_CCW_SQ], [_CW_SQ, _CW_HOLE]],  # part 0 flips; part 1 hole flips
        )
    ]
    df = spark.createDataFrame(
        rows, "id string, geom_type string, coords array<array<array<array<double>>>>"
    )
    fixed = orient_rings_esri(df).collect()[0]["coords"]
    assert fixed[0][0] == _CW_SQ
    assert fixed[1][0] == _CW_SQ
    assert fixed[1][1] == _CCW_HOLE


# ---------------------------------------------------------------------------
# C201: simplified silhouette — independent numpy twin of the WHOLE
# pipeline (md5 seeding, integer quantization, 3 Lloyd rounds,
# centroid silhouette) at sf0.001. Proves the formula and the fit
# against a third implementation, not just Spark-vs-DuckDB.

import hashlib
import math

import numpy as np
import pyarrow.parquet as pq

_SF = "/root/testdata/sf0.001"


def _numpy_silhouette():
    t = pq.read_table(f"{_SF}/embeddings.parquet").to_pandas()
    ids = t["vec_id"].to_numpy()
    emb = np.stack([np.asarray(v, dtype=np.float32) for v in t["embedding"]])
    qv = np.floor(emb.astype(np.float64) * 1000 + 0.5).astype(np.int64)
    hs = np.array([hashlib.md5(str(int(i)).encode()).hexdigest() for i in ids])
    bucket = np.array([(int(h[0], 16) * 16 + int(h[1], 16)) % 8 for h in hs])
    # seeds: min-md5 vector per bucket
    cents = {}
    for b in sorted(set(bucket.tolist())):
        idx = np.where(bucket == b)[0]
        j = idx[np.argsort(hs[idx])[0]]
        cents[b] = qv[j].astype(np.float64)
    for _ in range(3):
        cid_arr = _assign(qv, cents)
        new = {}
        for c in sorted(cents):
            idx = np.where(cid_arr == c)[0]
            if len(idx):
                # exact integer sums, one division per component
                new[c] = qv[idx].sum(axis=0).astype(np.float64) / len(idx)
        cents = new
    cid_arr = _assign(qv, cents)
    keys = sorted(cents)
    out = {}
    for i in range(len(qv)):
        d2 = sorted(
            (float(((qv[i] - cents[c]) ** 2).sum()), c) for c in keys
        )
        a, b = math.sqrt(d2[0][0]), math.sqrt(d2[1][0])
        s = 0.0 if max(a, b) == 0 else (b - a) / max(a, b)
        sq = math.floor(s * 1_000_000 + 0.5)
        out.setdefault(d2[0][1], []).append(sq)
    return {
        c: (len(v), round(sum(v) / (1_000_000.0 * len(v)), 4))
        for c, v in out.items()
    }


def _assign(qv, cents):
    keys = sorted(cents)
    d = np.stack(
        [((qv - cents[c]) ** 2).sum(axis=1) for c in keys], axis=1
    )
    return np.array([keys[j] for j in np.argmin(d, axis=1)])


def test_ml_silhouette_matches_numpy_twin(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    got = {
        r["cid"]: (r["n_vectors"], r["mean_silhouette"])
        for r in registry.QUERIES["ml_silhouette"](spark, _SF).collect()
    }
    want = _numpy_silhouette()
    assert set(got) == set(want)
    for c in want:
        assert got[c][0] == want[c][0], (c, got[c], want[c])
        assert abs(got[c][1] - want[c][1]) < 2e-4, (c, got[c], want[c])


# ---------------------------------------------------------------------------
# C202: Cohen's kappa — known-answer checks on crafted contingency
# tables via the same integer spelling.


def _kappa_brute(cells):
    """cells: {(pred, actual): count} -> (po, pe, kappa) floats."""
    n = sum(cells.values())
    agree = sum(c for (p, a), c in cells.items() if p == a)
    preds = {p for p, _ in cells}
    acts = {a for _, a in cells}
    pe_num = sum(
        sum(c for (p2, _), c in cells.items() if p2 == p)
        * sum(c for (_, a2), c in cells.items() if a2 == p)
        for p in preds | acts
    )
    po = agree / n
    pe = pe_num / (n * n)
    return po, pe, (agree * n - pe_num) / (n * n - pe_num)


def test_kappa_known_values():
    # Cohen 1960's worked example-style table: strong agreement
    po, pe, k = _kappa_brute(
        {("a", "a"): 20, ("a", "b"): 5, ("b", "a"): 10, ("b", "b"): 15}
    )
    assert abs(k - ((po - pe) / (1 - pe))) < 1e-12  # integer spelling == def
    # perfect agreement -> kappa 1
    assert _kappa_brute({("a", "a"): 7, ("b", "b"): 3})[2] == 1.0
    # agreement exactly at chance -> kappa 0 (independent marginals)
    po, pe, k = _kappa_brute(
        {("a", "a"): 25, ("a", "b"): 25, ("b", "a"): 25, ("b", "b"): 25}
    )
    assert k == 0.0


def test_kappa_query_matches_brute(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    row = registry.QUERIES["stats_cohens_kappa"](spark, _SF).collect()[0]
    # recompute the contingency straight off the parquet
    t = pq.read_table(f"{_SF}/documents.parquet").to_pandas()
    markers = {"the", "and", "of", "to", "is"}
    cells = {}
    for txt, lang in zip(t["text"], t["lang"]):
        pred = "en" if any(w in markers for w in txt.split(" ")) else "und"
        act = "en" if lang == "en" else "und"
        cells[(pred, act)] = cells.get((pred, act), 0) + 1
    po, pe, k = _kappa_brute(cells)
    assert row["n_docs"] == sum(cells.values())
    assert abs(row["po"] - round(po, 4)) < 1e-9
    assert abs(row["pe"] - round(pe, 4)) < 1e-9
    assert abs(row["kappa"] - round(k, 4)) < 1e-9


# ---------------------------------------------------------------------------
# C203: Count-Min sketch — the one-sided error guarantee + exact
# estimates on a collision-free universe.


def test_countmin_overcount_nonnegative_everywhere(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = registry.QUERIES["agg_countmin_sketch"](spark, _SF).collect()
    assert len(rows) == 20
    for r in rows:
        # CM never undercounts
        assert r["cm_estimate"] >= r["true_count"], dict(r)
        assert r["overcount"] == r["cm_estimate"] - r["true_count"]


def test_countmin_exact_when_no_collisions(spark):
    """On a 3-key universe (far fewer keys than counters) the CM
    estimate is exact: some of d=4 rows may collide, but min() needs
    only ONE collision-free row, and P(all 4 collide) is ~0 for 3 keys
    in 64 buckets — assert equality directly."""
    from etl_arcgis_spark.operators.aggregates import _cm_bucket, _CM_D

    df = spark.createDataFrame(
        [(1, 7), (2, 5), (3, 11)], "k int, true_count int"
    )
    hrows = spark.range(_CM_D).select(F.col("id").alias("r"))
    cells = (
        df.crossJoin(hrows)
        .selectExpr("r", _cm_bucket("spark", "r", "k") + " AS b", "true_count")
        .groupBy("r", "b")
        .agg(F.sum("true_count").alias("c"))
    )
    est = (
        df.crossJoin(hrows)
        .selectExpr("k", "true_count", "r", _cm_bucket("spark", "r", "k") + " AS b")
        .join(cells, ["r", "b"])
        .groupBy("k", "true_count")
        .agg(F.min("c").alias("cm"))
        .collect()
    )
    for r in est:
        assert r["cm"] == r["true_count"], dict(r)


# ---------------------------------------------------------------------------
# C204: syllable heuristic — known-answer word checks.


def test_syllable_heuristic_known_words(spark):
    from etl_arcgis_spark.operators.text import _SYL_SPARK

    # maximal [aeiouy]+ runs, floor 1: cat=1, table=2 (a, e),
    # beautiful=3 (eau, i, u), rhythm=1 (single y run), zzz=1 (floor),
    # queue=1 (one maximal run 'ueue')
    cases = ["cat", "table", "beautiful", "rhythm", "zzz", "queue"]
    import re

    expected = {w: max(1, len(re.findall(r"[aeiouy]+", w))) for w in cases}
    assert expected == {
        "cat": 1, "table": 2, "beautiful": 3,
        "rhythm": 1, "zzz": 1, "queue": 1,
    }
    df = spark.createDataFrame([(w,) for w in cases], "w string")
    got = {
        r["w"]: r["ns"]
        for r in df.selectExpr("w", _SYL_SPARK + " AS ns").collect()
    }
    assert got == expected


# ---------------------------------------------------------------------------
# C205: HITS — numpy power-iteration twin over the same fixture edges.


def test_hits_matches_numpy_twin(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    got = registry.QUERIES["graph_hits_scores"](spark, _SF).collect()

    li = pq.read_table(f"{_SF}/lineitem.parquet").to_pandas()[
        ["l_orderkey", "l_suppkey"]
    ]
    od = pq.read_table(f"{_SF}/orders.parquet").to_pandas()[
        ["o_orderkey", "o_custkey"]
    ]
    m = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    w = m.groupby(["o_custkey", "l_suppkey"]).size()
    hub = {c: 1.0 for c in m["o_custkey"].unique()}
    auth = {}
    for _ in range(3):
        auth = {}
        for (c, s), cnt in w.items():
            auth[s] = auth.get(s, 0.0) + cnt * hub[c]
        mx = max(auth.values())
        auth = {s: v / mx for s, v in auth.items()}
        hub = {}
        for (c, s), cnt in w.items():
            hub[c] = hub.get(c, 0.0) + cnt * auth[s]
        mx = max(hub.values())
        hub = {c: v / mx for c, v in hub.items()}

    want_a = sorted(
        ((round(v, 4), f"s{s}") for s, v in auth.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    want_h = sorted(
        ((round(v, 4), f"c{c}") for c, v in hub.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    got_a = [(r["score"], r["node"]) for r in got if r["kind"] == "authority"]
    got_h = [(r["score"], r["node"]) for r in got if r["kind"] == "hub"]
    assert [n for _, n in got_a] == [n for _, n in want_a]
    assert [n for _, n in got_h] == [n for _, n in want_h]
    for (gs, _), (ws, _) in zip(got_a + got_h, want_a + want_h):
        assert abs(gs - ws) < 2e-4


# ---------------------------------------------------------------------------
# C206: IDW — brute-force twin over the fixture (blocked join == spec)
# plus the interpolation identity (a grid point surrounded by equal
# values interpolates to exactly that value).


def test_idw_matches_brute_force(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    got = {
        (r["gx"], r["gy"]): (r["n_nbrs"], r["idw_value"])
        for r in registry.QUERIES["spatial_idw_interpolation"](
            spark, _SF
        ).collect()
    }
    c = pq.read_table(f"{_SF}/customer.parquet").to_pandas()
    pts = [
        (
            (int(k) % 360) - 180 + 0.5,
            (int(k) % 160) - 80 + 0.5,
            math.floor(float(v) * 100 + 0.5),
        )
        for k, v in zip(c["c_custkey"], c["c_acctbal"])
    ]
    want = {}
    for gx in range(-175, 176, 10):
        for gy in range(-75, 76, 10):
            num = den = n = 0
            for lon, lat, cents in pts:
                d2q = int(2 * (gx - lon)) ** 2 + int(2 * (gy - lat)) ** 2
                if d2q < 144:
                    wq = (1 << 30) // d2q
                    num += wq * cents
                    den += wq
                    n += 1
            if n:
                want[(gx, gy)] = (n, round(num / (den * 100.0), 4))
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0], (k, got[k], want[k])
        assert abs(got[k][1] - want[k][1]) < 1e-9, (k, got[k], want[k])


def test_idw_constant_field_identity(spark):
    """IDW of a constant field is that constant (weights cancel)."""
    rows = [(x + 0.5, y + 0.5, 4200) for x in range(-3, 3) for y in range(-3, 3)]
    df = spark.createDataFrame(rows, "lon double, lat double, cents long")
    wq = F.expr(
        "CAST(1073741824 AS BIGINT) DIV "
        "(CAST(2 * (0 - lon) AS BIGINT) * CAST(2 * (0 - lon) AS BIGINT)"
        " + CAST(2 * (0 - lat) AS BIGINT) * CAST(2 * (0 - lat) AS BIGINT))"
    )
    out = (
        df.select(wq.alias("wq"), "cents")
        .agg(
            (
                F.sum(F.col("wq") * F.col("cents")).cast("double")
                / (F.sum("wq") * 100).cast("double")
            ).alias("v")
        )
        .collect()[0]["v"]
    )
    assert abs(out - 42.0) < 1e-9


# ---------------------------------------------------------------------------
# C207: periodogram — planted-cycle detection on a synthetic series.


def test_periodogram_detects_planted_period(spark):
    """A pure 24h-cycle count series puts (relative) power at P=24 far
    above P=7 (off-grid) and above white noise; a constant series has
    ~0 power everywhere (DC only)."""
    import math as m

    rows = []
    for h in range(0, 24 * 28):  # 4 weeks hourly
        x = 100 + round(50 * m.cos(2 * m.pi * h / 24))
        rows.append(("cyc", h, x))
        rows.append(("flat", h, 100))
    df = spark.createDataFrame(rows, "event_type string, h long, x long")
    per = spark.createDataFrame([(7,), (24,)], "p int")
    q = 1_000_000
    s = (
        df.crossJoin(per)
        .groupBy("event_type", "p")
        .agg(
            F.sum(
                F.col("x")
                * F.expr(f"CAST(floor(cos(2*pi()*(h % p)/p)*{q}+0.5) AS BIGINT)")
            ).alias("sc"),
            F.sum(
                F.col("x")
                * F.expr(f"CAST(floor(sin(2*pi()*(h % p)/p)*{q}+0.5) AS BIGINT)")
            ).alias("ss"),
            F.sum("x").alias("sx"),
        )
        .collect()
    )
    pw = {
        (r["event_type"], r["p"]): (
            (r["sc"] / q) ** 2 + (r["ss"] / q) ** 2
        )
        / r["sx"] ** 2
        for r in s
    }
    assert pw[("cyc", 24)] > 100 * max(pw[("cyc", 7)], 1e-12)
    assert pw[("flat", 24)] < 1e-6 and pw[("flat", 7)] < 1e-6


# ---------------------------------------------------------------------------
# C208: Albers — round-trip closure, origin anchor, and the
# equal-area Jacobian invariant pinned against the ellipsoid.


def _alb_fwd(spark, pts):
    from etl_arcgis_spark.operators.etl import _alb_fwd_stages, apply_stages

    return apply_stages(
        spark.createDataFrame(pts, "lon double, lat double"), _alb_fwd_stages()
    )


def test_albers_round_trip_closure(spark):
    from etl_arcgis_spark.operators.etl import _alb_inv_stages, apply_stages

    pts = [
        (float(lon), float(lat))
        for lon in range(-125, -64, 10)
        for lat in range(22, 54, 7)
    ]
    df = apply_stages(_alb_fwd(spark, pts), _alb_inv_stages())
    pdf = df.select("lat", "lon", "lat_inv", "lon_inv").toPandas()
    assert float((pdf.lat_inv - pdf.lat).abs().max()) < 1e-6
    assert float((pdf.lon_inv - pdf.lon).abs().max()) < 1e-6


def test_albers_origin_and_equal_area_invariant(spark):
    """Origin (37.5N, 96W) -> (0, 0); and the AREA SCALE of the
    projection is 1 everywhere (Snyder §14: an equal-area projection's
    Jacobian determinant equals the ellipsoidal area element
    a^2 (1-e^2) cos(phi) / (1-e^2 sin^2 phi)^2) — probed by finite
    differences at three latitudes, pinning n/C/rho0 against the
    ellipsoid itself rather than our own constants."""
    rows = {
        r.lat: (r.alb_e, r.alb_n)
        for r in _alb_fwd(spark, [(-96.0, 37.5)]).collect()
    }
    e0, n0 = rows[37.5]
    assert abs(e0) < 1e-9 and abs(n0) < 1e-6

    a, e2 = 6378137.0, 0.0066943800229007869
    eps = 1e-4  # degrees
    for lat in (30.0, 37.5, 45.0):
        base = [(-100.0, lat), (-100.0 + eps, lat), (-100.0, lat + eps)]
        got = {
            (r.lon, r.lat): (r.alb_e, r.alb_n)
            for r in _alb_fwd(spark, base).collect()
        }
        dE_dlon = (got[(-100.0 + eps, lat)][0] - got[(-100.0, lat)][0]) / eps
        dN_dlon = (got[(-100.0 + eps, lat)][1] - got[(-100.0, lat)][1]) / eps
        dE_dlat = (got[(-100.0, lat + eps)][0] - got[(-100.0, lat)][0]) / eps
        dN_dlat = (got[(-100.0, lat + eps)][1] - got[(-100.0, lat)][1]) / eps
        jac = abs(dE_dlon * dN_dlat - dE_dlat * dN_dlon)  # per deg^2
        phi = math.radians(lat)
        rad = math.pi / 180.0
        truth = (
            a * a * (1 - e2) * math.cos(phi)
            / (1 - e2 * math.sin(phi) ** 2) ** 2
            * rad * rad
        )
        assert abs(jac / truth - 1.0) < 1e-4, (lat, jac, truth)


# ---------------------------------------------------------------------------
# C210: point-in-polygon join — ray-cast known answers on a crafted
# square, via the same in-row expression the join uses.


def test_pipj_ray_cast_known_answers(spark):
    from etl_arcgis_spark.operators.spatial_stats import _pipj_exprs

    e = _pipj_exprs("spark")
    # unit square as a 4-gon "circle" of radius sqrt(2)/2 rotated 45deg:
    # easier to hand-check with explicit vertices instead
    sq = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
    rows = [
        (2.0, 2.0, True),    # center
        (5.0, 2.0, False),   # right of it
        (-1.0, -1.0, False), # outside corner
        (3.9, 0.1, True),    # near corner, inside
    ]
    df = spark.createDataFrame(
        [(px, py) for px, py, _ in rows], "px double, py double"
    ).withColumn(
        "vs",
        F.expr(
            "array(" + ", ".join(
                f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))"
                for x, y in sq
            ) + ")"
        ),
    ).withColumn("m", F.lit(4))
    got = [r["inside"] for r in df.selectExpr(
        "px", "py", e["pip"] + " AS inside"
    ).collect()]
    assert got == [want for _, _, want in rows]


# ---------------------------------------------------------------------------
# C211: Jenks natural breaks — classes are contiguous intervals
# (the defining property of 1-D optimal classification) and
# well-separated clumps land in distinct classes.


def test_jenks_classes_are_contiguous_intervals(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = sorted(
        registry.QUERIES["stats_jenks_breaks"](spark, _SF).collect(),
        key=lambda r: r["lo"],
    )
    assert 2 <= len(rows) <= 5
    assert sum(r["n"] for r in rows) == 150  # every customer classified
    for a, b in zip(rows, rows[1:]):
        assert a["hi"] < b["lo"], (a, b)  # intervals ordered, disjoint
        assert a["lo"] <= a["class_mean"] <= a["hi"]


# ---------------------------------------------------------------------------
# C212: BPE merge rounds — python reference BPE over the same fixture
# vocabulary reproduces the merged pairs and counts exactly.


def _bpe_reference(word_freq, rounds=3):
    vocab = {w: ["".join(c) for c in w] for w in word_freq}
    out = []
    for _ in range(rounds):
        counts = {}
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + word_freq[w]
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((f"{a}+{b}", cnt))
        for w, syms in vocab.items():
            new, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    new.append(a + b)
                    i += 2
                else:
                    new.append(syms[i])
                    i += 1
            vocab[w] = new
    return out


def test_bpe_merge_rounds_match_reference(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    got = sorted(
        (r["round"], r["merged_pair"], r["pair_count"])
        for r in registry.QUERIES["text_bpe_merge_rounds"](spark, _SF).collect()
    )
    t = pq.read_table(f"{_SF}/documents.parquet").to_pandas()
    wf = {}
    for txt in t["text"]:
        for w in txt.split(" "):
            if w:
                wf[w] = wf.get(w, 0) + 1
    want = [
        (i + 1, pair, cnt)
        for i, (pair, cnt) in enumerate(_bpe_reference(wf))
    ]
    assert got == sorted(want)


# ---------------------------------------------------------------------------
# C213: deterministic HLL — python twin of the exact register/estimate
# pipeline at sf0.001, plus the accuracy bound at sf0.01.


def _py_hll(keys, m=256, alpha=0.7213 / (1.0 + 1.079 / 256)):
    regs = {}
    for k in keys:
        h = hashlib.md5(str(k).encode()).hexdigest()
        bucket = int(h[0], 16) * 16 + int(h[1], 16)
        tail = h[2:14]
        stripped = tail.lstrip("0")
        zeros = len(tail) - len(stripped)
        if zeros == 12:
            rho = 49
        else:
            v = int(stripped[0], 16)
            rho = zeros * 4 + (0 if v >= 8 else 1 if v >= 4 else 2 if v >= 2 else 3) + 1
        regs[bucket] = max(regs.get(bucket, 0), rho)
    num = sum(1 << (49 - r) for r in regs.values())
    nonzero = len(regs)
    raw = (alpha * m * m) / ((num + (m - nonzero) * (1 << 49)) / 2.0 ** 49)
    zeros = m - nonzero
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw


def test_hll_matches_python_twin_and_bounds(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    row = registry.QUERIES["agg_hll_deterministic"](spark, _SF).collect()[0]
    od = pq.read_table(f"{_SF}/orders.parquet").to_pandas()
    keys = sorted(set(int(k) for k in od["o_custkey"]))
    want = _py_hll(keys)
    assert abs(row["hll_estimate"] - round(want, 4)) < 1e-9
    assert row["true_distinct"] == len(keys)
    # HLL standard error is 1.04/sqrt(256) = 6.5%; assert within 5 sigma
    assert row["rel_error"] < 0.33


# ---------------------------------------------------------------------------
# C214: Check Geometry — every planted defect class is detected as
# exactly its own error type.


def test_geometry_check_classifies_planted_defects(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = registry.QUERIES["dq_geometry_check"](spark, _SF).collect()
    want = {
        0: "ok",
        1: "too_few_vertices",
        2: "unclosed_ring",
        3: "duplicate_vertices",
        4: "self_intersection",
    }
    assert len(rows) == 200
    for r in rows:
        assert r["geometry_error"] == want[r["p_partkey"] % 5], dict(r)


# ---------------------------------------------------------------------------
# C215: zonal statistics — per-zone values sit inside the zone's cell
# envelope and the weighted mean is bounded by cell extrema.


def test_zonal_stats_invariants(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = registry.QUERIES["spatial_zonal_stats"](spark, _SF).collect()
    assert len(rows) > 0
    for r in rows:
        assert r["n_cells"] >= 1
        assert r["zonal_min_cell"] <= r["zonal_max_cell"]
        # the exact-sum weighted mean lies within the cell-value range
        # up to the DIV-truncation of the per-cell readouts (1 cent)
        assert r["zonal_min_cell"] - 0.011 <= r["zonal_weighted_mean"], r
        assert r["zonal_weighted_mean"] <= r["zonal_max_cell"] + 0.011, r


# ---------------------------------------------------------------------------
# C216: pHash near-dup — planted perturbed copies are recovered with
# tiny Hamming distance; the hash itself is invariant to partitioning.


def test_phash_recovers_planted_neardups(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = registry.QUERIES["multimodal_phash_neardup"](spark, _SF).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in rows}
    docs = pq.read_table(f"{_SF}/documents.parquet").to_pandas()["doc_id"]
    planted = [
        (int(d) - 1, int(d))
        for d in docs
        if int(d) % 10 == 1 and (int(d) - 1) in set(int(x) for x in docs)
    ]
    assert planted, "fixture must contain planted pairs"
    found = [p for p in planted if p in pairs]
    # 8 byte-flips barely move the DCT low-frequency block: near-total recall
    assert len(found) >= int(0.9 * len(planted)), (len(found), len(planted))
    for p in found:
        assert pairs[p] <= 10
    for (a, b) in pairs:
        assert a < b  # ordered, no self-pairs


def test_phash_deterministic_and_discriminative():
    from etl_arcgis_spark.operators.multimodal import (
        _synth_ppm_neardup,
        decode_ppm,
        phash64,
    )

    h1 = phash64(decode_ppm(_synth_ppm_neardup(7))[2])
    h2 = phash64(decode_ppm(_synth_ppm_neardup(7))[2])
    assert h1 == h2  # bit-stable
    # unrelated images differ in many bits (expected ~32)
    h3 = phash64(decode_ppm(_synth_ppm_neardup(8))[2])
    assert bin(h1 ^ h3).count("1") > 10
    # the planted copy is close
    h10 = phash64(decode_ppm(_synth_ppm_neardup(10))[2])
    h11 = phash64(decode_ppm(_synth_ppm_neardup(11))[2])
    assert bin(h10 ^ h11).count("1") <= 10


# ---------------------------------------------------------------------------
# C217: Naive Bayes — python twin of the full train/score pipeline
# (same split, same Laplace counts, same 1e-9 log grid).


def test_naive_bayes_matches_python_twin(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    got = {
        (r["actual"], r["predicted"]): r["n_docs"]
        for r in registry.QUERIES["ml_naive_bayes_lang"](spark, _SF).collect()
    }
    t = pq.read_table(f"{_SF}/documents.parquet").to_pandas()
    Q = 1_000_000_000
    train, test = [], []
    for doc_id, lang, txt in zip(t["doc_id"], t["lang"], t["text"]):
        row = (int(doc_id), lang, txt.split(" "))
        (train if hashlib.md5(str(int(doc_id)).encode()).hexdigest()[0] < "8"
         else test).append(row)
    counts, ctot, prior, vocab = {}, {}, {}, set()
    for _, c, ws in train:
        prior[c] = prior.get(c, 0) + 1
        for w in ws:
            counts[(c, w)] = counts.get((c, w), 0) + 1
            ctot[c] = ctot.get(c, 0) + 1
            vocab.add(w)
    V, dtot = len(vocab), sum(prior.values())

    def logq(num, den):
        return math.floor(math.log(num / den) * Q + 0.5)

    want = {}
    for _, actual, ws in test:
        best = None
        for c in sorted(prior):
            s = logq(prior[c], dtot)
            for w in ws:
                s += logq(counts.get((c, w), 0) + 1, ctot[c] + V)
            if best is None or (-s, c) < best:
                best = (-s, c)
        key = (actual, best[1])
        want[key] = want.get(key, 0) + 1
    assert sum(got.values()) == len(test)
    # exact cell agreement (log grid is shared; 1-ulp ln flips would
    # show as off-by-one cells — none observed, assert equality)
    assert got == want


# ---------------------------------------------------------------------------
# C218: Markov attribution — absorption fixed point equals the exact
# linear solve on a crafted chain, and removal semantics are correct.


def test_markov_absorption_and_removal_known_chain():
    """Hand-built chain: START -> c (1.0); c -> CONV 0.3, c -> v 0.4,
    c -> NULL 0.3; v -> CONV 0.5, v -> NULL 0.5.
    Exact: x_v = 0.5; x_c = 0.3 + 0.4*0.5 = 0.5; P = 0.5.
    Remove v: x_c = 0.3, P = 0.3. Removal effect v = (0.5-0.3)/0.5."""
    import numpy as np

    P = {("c", "K"): 0.3, ("c", "v"): 0.4, ("v", "K"): 0.5, ("st", "c"): 1.0}

    def solve(removed=None):
        x = {"c": 0.0, "v": 0.0, "s": 0.0}
        for _ in range(40):
            nx = {}
            for t in ("c", "v", "s"):
                if t == removed:
                    nx[t] = 0.0
                    continue
                v = P.get((t, "K"), 0.0)
                for u in ("c", "v", "s"):
                    v += P.get((t, u), 0.0) * x[u]
                nx[t] = v
            x = nx
        p = P.get(("st", "K"), 0.0)
        for u in ("c", "v", "s"):
            p += P.get(("st", u), 0.0) * x[u]
        return p

    assert abs(solve() - 0.5) < 1e-12
    assert abs(solve("v") - 0.3) < 1e-12
    assert abs((solve() - solve("v")) / solve() - 0.4) < 1e-12


def test_markov_query_shares_sum_to_one(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = registry.QUERIES["analytics_attribution_markov"](spark, _SF).collect()
    assert len(rows) == 3
    assert abs(sum(r["attribution_share"] for r in rows) - 1.0) < 5e-4
    for r in rows:
        assert 0.0 <= r["p_without_touch"] <= r["p_conversion"] <= 1.0
        assert r["removal_effect"] >= 0.0


# ---------------------------------------------------------------------------
# C219: Wilcoxon signed-rank — midrank spelling equals the textbook
# computation on crafted differences with ties.


def test_wilcoxon_midrank_spelling():
    ds = [3, -1, 2, 2, -2, 4, 1, -3, 2, 5]  # ties at |d| in {1,2,3}
    nz = [(abs(d), 1 if d > 0 else 0) for d in ds if d != 0]
    # textbook: rank |d| with midranks, W+ = sum of ranks where d>0
    from collections import Counter

    cnt = Counter(ad for ad, _ in nz)
    order = sorted(cnt)
    cum, start = {}, 0
    for ad in order:
        cum[ad] = start
        start += cnt[ad]
    mid = {ad: cum[ad] + (cnt[ad] + 1) / 2 for ad in order}
    w_plus = sum(mid[ad] for ad, pos in nz if pos)
    # integer spelling: 2W+ = sum over grid of tpos * (2*cb + t + 1)
    tpos = Counter(ad for ad, pos in nz if pos)
    w2 = sum(tpos[ad] * (2 * cum[ad] + cnt[ad] + 1) for ad in order)
    assert w2 == 2 * w_plus
    n = len(nz)
    tie3 = sum(t**3 - t for t in cnt.values())
    var = n * (n + 1) * (2 * n + 1) / 24 - tie3 / 48
    z = (w_plus - n * (n + 1) / 4) / math.sqrt(var)
    z_int = ((2 * w2 - 2 * n * (n + 1) / 2) / 4) / math.sqrt(var)
    assert abs(z - z_int) < 1e-12


# ---------------------------------------------------------------------------
# C220: TextRank — symmetric graphs get uniform scores; a hub beats
# its leaves.


def test_textrank_uniform_on_cycle_and_hub_dominates():
    def textrank(edges, iters=30, d=0.85):
        und = {}
        for a, b, w in edges:
            und[(a, b)] = und.get((a, b), 0) + w
            und[(b, a)] = und.get((b, a), 0) + w
        outw = {}
        for (a, _), w in und.items():
            outw[a] = outw.get(a, 0) + w
        score = {a: 1.0 for a in outw}
        for _ in range(iters):
            new = {}
            for v in outw:
                s = sum(
                    und[(u, v)] / outw[u] * score[u]
                    for u in outw
                    if (u, v) in und
                )
                new[v] = (1 - d) + d * s
            score = new
        return score

    cyc = textrank([("a", "b", 1), ("b", "c", 1), ("c", "a", 1)])
    assert max(cyc.values()) - min(cyc.values()) < 1e-9
    hub = textrank([("h", x, 1) for x in "abcd"])
    assert all(hub["h"] > hub[x] for x in "abcd")


# ---------------------------------------------------------------------------
# C222: sampled Brandes betweenness — python BFS+accumulation twin
# with the same Q-scaled integer DIV arithmetic at sf0.001.


def _py_brandes(edges, sources, depth, Q=1_000_000):
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    bcq = {}
    for s in sources:
        lvl = {s: 0}
        sigma = {s: 1}
        frontier = {s}
        for k in range(1, depth + 1):
            nxt = {}
            for u in frontier:
                for w in adj.get(u, ()):
                    if w in lvl and lvl[w] < k:
                        continue
                    nxt[w] = nxt.get(w, 0) + sigma[u]
            frontier = set()
            for w, sg in nxt.items():
                if w not in lvl:
                    lvl[w] = k
                    sigma[w] = sg
                    frontier.add(w)
        dq = {v: 0 for v in lvl}
        for k in range(depth - 1, -1, -1):
            for v in [x for x in lvl if lvl[x] == k]:
                tot = 0
                for w in adj.get(v, ()):
                    if lvl.get(w) == k + 1:
                        tot += (sigma[v] * (Q + dq[w])) // sigma[w]
                dq[v] = tot
            # (successor levels already final — processed in order)
        for v in lvl:
            if v != s:
                bcq[v] = bcq.get(v, 0) + dq[v]
    return bcq


def test_betweenness_matches_python_twin(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    got = [
        (r["node"], r["betweenness"])
        for r in registry.QUERIES["graph_betweenness_sampled"](
            spark, _SF
        ).collect()
    ]
    li = pq.read_table(f"{_SF}/lineitem.parquet").to_pandas()[
        ["l_orderkey", "l_suppkey"]
    ]
    od = pq.read_table(f"{_SF}/orders.parquet").to_pandas()[
        ["o_orderkey", "o_custkey"]
    ]
    m = li.merge(od, left_on="l_orderkey", right_on="o_orderkey")
    edges = {
        (f"c{c}", f"s{s}")
        for c, s in zip(m["o_custkey"], m["l_suppkey"])
    }
    bcq = _py_brandes(sorted(edges), [f"c{i}" for i in range(0, 8)], 4)
    want = sorted(
        ((v, round(q / 1_000_000, 4)) for v, q in bcq.items()),
        key=lambda t: (-bcq[t[0]], t[0]),
    )[:20]
    assert got == want


# ---------------------------------------------------------------------------
# C224: LAEA — round-trip closure, false-origin anchor, equal-area
# Jacobian (the C208 anchor methodology, azimuthal member).


def _laea_fwd(spark, pts):
    from etl_arcgis_spark.operators.etl import _laea_fwd_stages, apply_stages

    return apply_stages(
        spark.createDataFrame(pts, "lon double, lat double"), _laea_fwd_stages()
    )


def test_laea_round_trip_closure(spark):
    from etl_arcgis_spark.operators.etl import _laea_inv_stages, apply_stages

    pts = [
        (float(lon), float(lat))
        for lon in range(-8, 31, 6)
        for lat in range(36, 69, 6)
    ]
    df = apply_stages(_laea_fwd(spark, pts), _laea_inv_stages())
    pdf = df.select("lat", "lon", "lat_inv", "lon_inv").toPandas()
    assert float((pdf.lat_inv - pdf.lat).abs().max()) < 1e-6
    assert float((pdf.lon_inv - pdf.lon).abs().max()) < 1e-6


def test_laea_origin_and_equal_area_invariant(spark):
    rows = {
        r.lat: (r.laea_e, r.laea_n)
        for r in _laea_fwd(spark, [(10.0, 52.0)]).collect()
    }
    e0, n0 = rows[52.0]
    # projection origin maps to the EPSG:3035 false origin
    assert abs(e0 - 4321000.0) < 1e-6 and abs(n0 - 3210000.0) < 1e-4

    a, e2 = 6378137.0, 0.0066943800229007869
    eps = 1e-4
    for lon, lat in ((5.0, 45.0), (10.0, 52.0), (20.0, 60.0)):
        base = [(lon, lat), (lon + eps, lat), (lon, lat + eps)]
        got = {
            (r.lon, r.lat): (r.laea_e, r.laea_n)
            for r in _laea_fwd(spark, base).collect()
        }
        dE_dlon = (got[(lon + eps, lat)][0] - got[(lon, lat)][0]) / eps
        dN_dlon = (got[(lon + eps, lat)][1] - got[(lon, lat)][1]) / eps
        dE_dlat = (got[(lon, lat + eps)][0] - got[(lon, lat)][0]) / eps
        dN_dlat = (got[(lon, lat + eps)][1] - got[(lon, lat)][1]) / eps
        jac = abs(dE_dlon * dN_dlat - dE_dlat * dN_dlon)
        phi = math.radians(lat)
        rad = math.pi / 180.0
        truth = (
            a * a * (1 - e2) * math.cos(phi)
            / (1 - e2 * math.sin(phi) ** 2) ** 2
            * rad * rad
        )
        assert abs(jac / truth - 1.0) < 1e-4, (lon, lat, jac, truth)


# ---------------------------------------------------------------------------
# C225: RRF — fusion arithmetic on crafted lists.


def test_rrf_known_lists():
    """doc A: rank 1 lexical + rank 3 dense; doc B: rank 1 dense only.
    RRF(A) = 1/61 + 1/63 > RRF(B) = 1/61 — presence in both lists
    wins, the defining RRF property."""
    k = 60
    rrf_a = 1 / (k + 1) + 1 / (k + 3)
    rrf_b = 1 / (k + 1)
    assert rrf_a > rrf_b
    # and a deep rank in one list still beats absence
    assert 1 / (k + 1) + 1 / (k + 100) > 1 / (k + 1)


def test_rrf_query_top_contains_both_legs(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    rows = registry.QUERIES["sim_rrf_fusion"](spark, _SF).collect()
    assert len(rows) == 10
    # the top-fused doc must appear in at least one leg, scores sorted
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    both = [r for r in rows if r["rank_bm"] is not None and r["rank_cos"] is not None]
    one = [r for r in rows if (r["rank_bm"] is None) != (r["rank_cos"] is None)]
    assert len(both) + len(one) == 10


# ---------------------------------------------------------------------------
# C226: KMV — estimates land within the sketch's relative-error
# envelope of the exact truth on the fixture.


def test_kmv_estimates_within_error_envelope(spark):
    from etl_arcgis_spark import registry

    registry.load_all()
    r = registry.QUERIES["agg_kmv_theta_sketch"](spark, _SF).collect()[0]
    true_union = r["true_a"] + r["true_b"] - r["true_intersection"]
    # KMV RSE ~ 1/sqrt(K-1) = 8.9%; allow 5 sigma
    assert abs(r["est_union"] - true_union) / true_union < 0.45, dict(r)
    if r["true_intersection"] > 50:
        assert (
            abs(r["est_intersection"] - r["true_intersection"])
            / r["true_intersection"]
            < 0.6
        ), dict(r)
    true_j = r["true_intersection"] / true_union
    assert abs(r["est_jaccard"] - true_j) < 0.25, (r["est_jaccard"], true_j)


# ---------------------------------------------------------------------------
# C228: Hurst — R/S discriminates persistent vs alternating series.


def _rs(xs):
    n = len(xs)
    mu = sum(xs) / n
    cum, acc = [], 0.0
    for x in xs:
        acc += x - mu
        cum.append(acc)
    r = max(cum) - min(cum)
    s = (sum((x - mu) ** 2 for x in xs) / n) ** 0.5
    return None if s == 0 else r / s


def _hurst(series, sizes=(8, 16, 32, 64)):
    pts = []
    for m in sizes:
        rs = [
            _rs(series[i : i + m])
            for i in range(0, len(series) - m + 1, m)
        ]
        rs = [v for v in rs if v is not None]
        if rs:
            pts.append((math.log(m), math.log(sum(rs) / len(rs))))
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    return (n * sxy - sx * sy) / (n * sxx - sx * sx)


def test_hurst_discriminates_memory():
    # strongly trending (persistent): H near 1
    trend = [float(i) for i in range(512)]
    # alternating (antipersistent): H near 0
    alt = [float(i % 2) for i in range(512)]
    h_t, h_a = _hurst(trend), _hurst(alt)
    assert h_t > 0.9, h_t
    assert h_a < 0.25, h_a
    assert h_t > h_a + 0.5
