"""Local differential checker — emulates the driver's t2 correctness gate.

Runs every registered query on Spark AND its DuckDB oracle over the same
parquet fixtures, then compares row count, column names, and an
order-insensitive value comparison. Floats are compared BIT-EXACT (the
engine's determinism contract makes every oracle query bit-identical;
tolerance would only mask regressions).

Usage:
    python tools/check.py [--sf /root/testdata/sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402
from etl_arcgis_spark.tables import TABLE_NAMES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def canon(df: pd.DataFrame) -> tuple[pd.DataFrame, list[str]]:
    """Sort columns by name, normalize cell values for comparison."""
    df = df.reindex(sorted(df.columns), axis=1)
    out = {}
    notes = []
    for c in df.columns:
        s = df[c]
        if s.dtype == object and len(s) and isinstance(s.dropna().iloc[0] if s.dropna().size else None, (bytes,)):
            out[c] = s
            continue
        try:
            import decimal

            if s.dtype == object and s.dropna().map(lambda x: isinstance(x, decimal.Decimal)).all() and s.dropna().size:
                s = s.astype(float)
                notes.append(f"{c}: Decimal->float")
        except Exception:
            pass
        # floats are compared BIT-EXACT (no rounding): the engine's
        # determinism contract (helpers.r4 DuckDB emulation + integer
        # time currency) makes all 81 oracle queries bit-identical, so
        # any tolerance here would only mask regressions
        if np.issubdtype(s.dtype, np.floating):
            s = s + 0.0  # normalize -0.0 to 0.0 so row sort keys align
        if np.issubdtype(s.dtype, np.integer):
            s = s.astype("int64")  # width drift (int32 vs int64) reprs the same
        if np.issubdtype(s.dtype, np.datetime64):
            s = s.astype("datetime64[us]")
        out[c] = s
    return pd.DataFrame(out), notes


def compare(sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        problems.append(f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}")
        return problems
    if len(sdf) != len(odf):
        problems.append(f"row count differs: spark={len(sdf)} oracle={len(odf)}")
    a, na = canon(sdf)
    b, nb = canon(odf)
    # Dtype check. The real driver hashes TYPED values (repr), so an
    # int-kind vs float-kind divergence (e.g. DuckDB windowed
    # sum(BIGINT) -> HUGEINT -> float64 vs Spark int64) hash-mismatches
    # even when values are numerically equal — that exact class shipped
    # r4's one red driver row (sample_pack_sequences). Treat kind
    # divergence as a HARD failure; same-kind width drift (int32 vs
    # int64) stays informational (canon normalizes widths anyway).
    for c in a.columns:
        da, db = a[c].dtype, b[c].dtype
        if str(da) == str(db):
            continue
        a_int = np.issubdtype(da, np.integer)
        b_int = np.issubdtype(db, np.integer)
        a_fl = np.issubdtype(da, np.floating)
        b_fl = np.issubdtype(db, np.floating)
        if (a_int and b_fl) or (a_fl and b_int):
            problems.append(
                f"dtype KIND mismatch col {c}: spark={da} oracle={db} "
                f"(driver hashes typed values — repr 5 != 5.0)"
            )
        else:
            problems.append(f"dtype note {c}: spark={da} oracle={db}")
    if len(a) == len(b) and len(a):
        def sort_rows(df: pd.DataFrame) -> pd.DataFrame:
            keys = pd.Series(
                ["\x00".join(map(str, row)) for row in df.itertuples(index=False)],
                index=df.index,
            )
            return df.loc[keys.sort_values(kind="mergesort").index].reset_index(drop=True)

        a = sort_rows(a)
        b = sort_rows(b)
        for c in a.columns:
            av, bv = a[c], b[c]
            if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
                av_f = av.astype(float).values
                bv_f = bv.astype(float).values
                both_nan = np.isnan(av_f) & np.isnan(bv_f)
                neq = ~both_nan & ~(av_f == bv_f)
                if neq.any():
                    i = int(np.argmax(neq))
                    problems.append(
                        f"value mismatch col {c}: {neq.sum()}/{len(av)} rows, "
                        f"e.g. spark={av_f[i]!r} oracle={bv_f[i]!r} maxdiff="
                        f"{np.nanmax(np.abs(av_f - bv_f)):.3g}"
                    )
            else:
                neq = av.astype(str).values != bv.astype(str).values
                if neq.any():
                    i = int(np.argmax(neq))
                    problems.append(
                        f"value mismatch col {c}: {neq.sum()}/{len(av)} rows, "
                        f"e.g. spark={av.iloc[i]!r} oracle={bv.iloc[i]!r}"
                    )
    return [p for p in problems if not p.startswith("dtype note")] or [
        p for p in problems if p.startswith("dtype note")
    ]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    queries = registry.all_queries()
    oracles = registry.all_oracles()
    names = args.names or sorted(queries)

    spark = get_session("check", shuffle_partitions=8)
    cache = spark._jsparkSession.sharedState().cacheManager()
    con = duck_con(args.sf)

    n_pass = n_fail = n_weak = 0
    failures = []
    leaks = []
    for name in names:
        if name not in queries:
            print(f"?? {name}: not registered")
            continue
        t0 = time.time()
        try:
            sdf = queries[name](spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            continue
        finally:
            # a plan left in the CacheManager is swapped into every later
            # matching plan, so a rerun would time or check a cache read
            if not cache.isEmpty():
                print(f"LEAK {name}")
                leaks.append(name)
                spark.catalog.clearCache()
        if name not in oracles:
            # Golden-snapshot gate (VERDICT r9 #1): weak queries have no
            # DuckDB oracle by design, but they ARE deterministic within
            # the engine — compare against the committed golden parquet
            # (tests/goldens/<sf>/<name>.parquet, tools/make_goldens.py)
            # with the same order-insensitive comparator. Rows-only only
            # when no golden exists for this fixture dir.
            gpath = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                "tests", "goldens",
                os.path.basename(args.sf.rstrip("/")), f"{name}.parquet",
            )
            if os.path.exists(gpath):
                gdf = pd.read_parquet(gpath)
                problems = compare(sdf, gdf)
                hard = [p for p in problems if not p.startswith("dtype note")]
                if hard:
                    n_fail += 1
                    failures.append(name)
                    print(f"FAIL {name}: vs golden, rows={len(sdf)} ({time.time()-t0:.1f}s)")
                    for p in problems:
                        print(f"     {p}")
                else:
                    n_weak += 1
                    print(f"gold {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            else:
                print(f"weak {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
                n_weak += 1
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception:
            print(f"FAIL {name}: oracle raised\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            continue
        try:
            problems = compare(sdf, odf)
        except Exception:
            print(f"FAIL {name}: compare raised\n{traceback.format_exc()}")
            n_fail += 1
            failures.append(name)
            continue
        hard = [p for p in problems if not p.startswith("dtype note")]
        if hard:
            n_fail += 1
            failures.append(name)
            print(f"FAIL {name}: rows={len(sdf)} ({time.time()-t0:.1f}s)")
            for p in problems:
                print(f"     {p}")
        else:
            n_pass += 1
            notes = "; ".join(p for p in problems)
            print(f"ok   {name}: rows={len(sdf)} ({time.time()-t0:.1f}s){' | ' + notes if notes else ''}")
    print(f"\n{n_pass} ok, {n_weak} weak, {n_fail} FAIL" + (f": {failures}" if failures else ""))
    if leaks:
        print(f"{len(leaks)} LEAK: {leaks}")
    return 1 if n_fail or leaks else 0


if __name__ == "__main__":
    sys.exit(main())
