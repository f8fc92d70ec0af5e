"""Driver-faithful verification rehearsal.

tools/check.py sorts rows by STRINGIFIED keys, so it tolerates cell
types the real driver cannot: the driver canonicalizes with
``pandas.sort_values(by=<all columns>)`` on the raw values, which
raises on unhashable cells (lists/arrays) and can choke on mixed-type
object columns — exactly how ``agg_collect_sorted_array`` became r01's
only ERROR while passing locally. This tool rehearses the driver's own
canonicalization over the NEXT verification window (the first N
registrations, default 50) so that failure mode is caught before the
round, not by it.

Usage: python tools/driver_sim.py [--sf DIR] [--n 50]
"""

from __future__ import annotations

import argparse
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pandas as pd  # noqa: E402

from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from check import duck_con  # noqa: E402
from oracle_lint import _DIVISOR_ALLOWLIST, _DIVISOR_RE, _HAZARD_TYPE_RE  # noqa: E402


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """What the driver does (per the r01 error trace): sort columns by
    name, then row-sort by ALL columns on raw values."""
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def value_hash(df: pd.DataFrame) -> str:
    import hashlib

    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("\x1f".join(map(repr, row)) + "\n").encode())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--n", type=int, default=50)
    ap.add_argument("--names", default=None,
                    help="comma-separated subset instead of the first N")
    args = ap.parse_args()

    spark = get_session("driver_sim", shuffle_partitions=4)
    con = duck_con(args.sf)
    queries = registry.all_queries()
    oracles = registry.ORACLES

    n_ok = n_weak = n_fail = 0
    subset = set(args.names.split(",")) if args.names else None
    for i, (name, fn) in enumerate(queries.items()):
        if subset is not None:
            if name not in subset:
                continue
        elif i >= args.n:
            break
        try:
            sdf = fn(spark, args.sf).toPandas()
            s_canon = driver_canon(sdf)
            if name not in oracles:
                print(f"weak {name}: rows={len(sdf)} (rows-only, canon ok)")
                n_weak += 1
                continue
            # STRICT oracle-type gate (r11, VERDICT r10 #2): the r10
            # C12 regression shipped because the local duckdb/pandas
            # materialized a newer-DuckDB-DECIMAL division as float64.
            # Environment-independent detectors instead of trusting
            # the local materialization: (a) declared DECIMAL/HUGEINT
            # output types, (b) bare-decimal divisors with no
            # DOUBLE-LHS allowlist proof, (c) object-dtype cells in
            # the materialized frame.
            rel = con.sql(oracles[name])
            tbad = [
                f"{c}:{t}"
                for c, t in zip(rel.columns, map(str, rel.types))
                if _HAZARD_TYPE_RE.search(str(t))
            ]
            strict = []
            if tbad:
                strict.append(f"oracle-type:{tbad}")
            if _DIVISOR_RE.search(oracles[name]) and name not in _DIVISOR_ALLOWLIST:
                strict.append("oracle-bare-decimal-divisor")
            odf = con.execute(oracles[name]).df()
            strict += [
                f"oracle-object-dtype:{c}"
                for c in odf.columns
                if odf[c].dtype == object
                and any(type(v).__module__ == "decimal" for v in odf[c].head(5))
            ]
            o_canon = driver_canon(odf)
            problems = strict
            if sorted(sdf.columns) != sorted(odf.columns):
                problems.append("schema")
            if len(sdf) != len(odf):
                problems.append(f"rows {len(sdf)}!={len(odf)}")
            if not problems:
                # numeric tolerance zero: repr equality after canon —
                # stricter than the driver, which is the safe side;
                # dtype-induced repr drift (int64 vs int32) is excluded
                # by comparing position-wise float/str values instead
                for c in s_canon.columns:
                    a, b = s_canon[c], o_canon[c]
                    try:
                        import numpy as np

                        a_fl = np.issubdtype(a.dtype, np.floating)
                        b_fl = np.issubdtype(b.dtype, np.floating)
                        a_int = np.issubdtype(a.dtype, np.integer)
                        b_int = np.issubdtype(b.dtype, np.integer)
                        # The driver hashes repr() of typed cells: an
                        # int-kind column on one side vs float-kind on
                        # the other mismatches (5 vs 5.0) even when the
                        # values are equal. Coercing both to float here
                        # (the pre-r5 behavior) is exactly how a 0-FAIL
                        # rehearsal shipped a red driver row — FAIL it.
                        if (a_int and b_fl) or (a_fl and b_int):
                            problems.append(
                                f"dtype-kind:{c}:{a.dtype}!={b.dtype}"
                            )
                            continue
                        if a_fl or b_fl:
                            af, bf = a.astype(float).values, b.astype(float).values
                            bad = ~((af == bf) | (np.isnan(af) & np.isnan(bf)))
                        else:
                            bad = a.astype(str).values != b.astype(str).values
                        if bad.any():
                            problems.append(f"values:{c}")
                    except Exception as e:  # driver would ERROR here
                        problems.append(f"compare-crash:{c}:{e}")
            if problems:
                print(f"FAIL {name}: {problems}")
                n_fail += 1
            else:
                print(f"ok   {name}: rows={len(sdf)}")
                n_ok += 1
        except Exception:
            print(f"FAIL {name}: driver-canon/exec raised")
            traceback.print_exc(limit=3)
            n_fail += 1
    print(f"\n{n_ok} ok, {n_weak} weak, {n_fail} FAIL (first {args.n} registrations)")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
