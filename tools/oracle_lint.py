"""Oracle type-stability lint — the driver-environment hazard scanner.

The r10 regression class (VERDICT r10 "What's wrong" #1): DuckDB parses
a bare decimal literal as DECIMAL, and NEWER DuckDB releases type
integer/DECIMAL division as DECIMAL (scale-rounded value + possible
``decimal.Decimal`` pandas materialization) where the pinned local
DuckDB and Spark both produce DOUBLE. A locally-green oracle then
hash-fails in the driver's environment — exactly how agg_rollup/
agg_cube/agg_grouping_sets went red in CORRECTNESS_r10 after commit
0195350 re-spelled their shared money sum as ``BIGINT / 100.0``.

Two detectors, both environment-independent:

1. **Textual divisor lint** — any ``/ <bare decimal literal>`` in an
   oracle string is flagged unless the query is allowlisted with a
   written justification that the division's LHS is DOUBLE-typed
   (DOUBLE / DECIMAL is DOUBLE in every DuckDB release; only
   integer- or DECIMAL-typed LHS flips under the newer typing rule).
   The fix recipe is ``/ CAST(n AS DOUBLE)`` — bit-identical IEEE
   division in every DuckDB version AND valid shared text for Spark.

2. **Declared-type probe** — bind every oracle against the sf0.001
   views and flag any DECIMAL- or HUGEINT-typed OUTPUT column (the
   local pandas materialization coerces both to float64, so value
   checks can't see them; the driver's newer pandas/duckdb may
   materialize ``decimal.Decimal``/``object`` and hash differently).
   Fix: CAST sums to BIGINT / divide by CAST(n AS DOUBLE).

Run: python tools/oracle_lint.py [--sf /root/testdata/sf0.001]
Exit 1 on any non-allowlisted hit. driver_sim runs this in --strict.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_arcgis_spark import registry  # noqa: E402

# Queries whose bare-decimal divisors were each read and proven
# DOUBLE-LHS (quotient is DOUBLE under every DuckDB typing rule).
# Keep justifications current — a new divisor added to one of these
# queries is NOT covered unless it is also DOUBLE-LHS.
_DIVISOR_ALLOWLIST: dict[str, str] = {
    "agg_hll_deterministic": "LHS is (... * CAST(1<<49 AS DOUBLE))",
    "agg_kmv_theta_sketch": "LHS is CAST(hv AS DOUBLE) (both sites)",
    "etl_quantize_geometry": "LHS chains cos()/sin() — DOUBLE",
    "filter_spatial_polygon_contains": "LHS is parquet DOUBLE lon/lat",
    "filter_spatial_polygon_intersects": "LHS is parquet DOUBLE lon/lat",
    "geo_reproject_laea": "LHS chains ln()/asin() — DOUBLE",
    "geo_reproject_dispatch": (
        "re-uses the LAEA stage text (ln()/asin()-chained DOUBLE LHS); "
        "all other legs divide DOUBLE lon/lat or CAST explicitly"
    ),
    "join_band_bucketed": "cv is events.value (parquet DOUBLE)",
    "join_geodesic_distance": "LHS chains sqrt() — DOUBLE (all sites)",
    "spatial_dbscan": "LHS is CAST(... AS DOUBLE) (both sites)",
    "spatial_emerging_hotspots": (
        "two sites CAST(... AS DOUBLE); var_s subtracts a DOUBLE tie_term"
    ),
    "spatial_hex_tessellation": (
        "qf/rf divisions have parquet-DOUBLE lon/lat LHS"
    ),
    "spatial_kernel_density": (
        "lon/lat parquet DOUBLE; dx/dy are lon-minus-center DOUBLEs"
    ),
    "spatial_quadkey_rollup": "lon/lat parquet DOUBLE; LHS chains ln()",
    "stats_kruskal_wallis": "cnt is CAST(count(*) AS DOUBLE)",
    "stats_spearman_corr": "cnt is CAST(count(*) AS DOUBLE) (both sides)",
    "ts_mann_kendall": (
        "var_s numerator subtracts DOUBLE tie_term (CAST count AS DOUBLE)"
    ),
}

_DIVISOR_RE = re.compile(r"/\s*\d+\.\d*")

# Declared output types that hash-diverge across duckdb/pandas
# versions. WIDE_DECIMAL catches DECIMAL(p,s) of any width.
_HAZARD_TYPE_RE = re.compile(r"DECIMAL|HUGEINT", re.IGNORECASE)


def lint_text(oracles: dict[str, str]) -> list[str]:
    problems = []
    for name, sql in oracles.items():
        hits = _DIVISOR_RE.findall(sql)
        if hits and name not in _DIVISOR_ALLOWLIST:
            problems.append(
                f"{name}: bare-decimal divisor(s) {sorted(set(hits))} — "
                "newer-DuckDB int/DECIMAL division hazard; use "
                "/ CAST(n AS DOUBLE) or allowlist with a DOUBLE-LHS proof"
            )
    return problems


def lint_types(oracles: dict[str, str], sf: str) -> list[str]:
    from check import duck_con

    con = duck_con(sf)
    problems = []
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            types = [str(t) for t in rel.types]
            cols = rel.columns
        except Exception as e:  # bind failure is its own failure
            problems.append(f"{name}: oracle bind failed: {e}")
            continue
        bad = [
            f"{c}:{t}" for c, t in zip(cols, types) if _HAZARD_TYPE_RE.search(t)
        ]
        if bad:
            problems.append(
                f"{name}: DECIMAL/HUGEINT output column(s) {bad} — "
                "pandas materialization is duckdb-version-dependent; "
                "CAST to BIGINT/DOUBLE in the oracle"
            )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--no-types", action="store_true")
    args = ap.parse_args()

    registry.load_all()
    oracles = dict(registry.ORACLES)

    problems = lint_text(oracles)
    if not args.no_types:
        problems += lint_types(oracles, args.sf)

    stale = [n for n in _DIVISOR_ALLOWLIST if n not in oracles]
    for n in stale:
        problems.append(f"allowlist entry {n!r} names no registered oracle")

    for p in problems:
        print("LINT", p)
    print(
        f"{len(oracles)} oracles checked, {len(problems)} problem(s), "
        f"{len(_DIVISOR_ALLOWLIST)} allowlisted"
    )
    return 1 if problems else 0


if __name__ == "__main__":
    raise SystemExit(main())
