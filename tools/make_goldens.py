"""Golden-output generator for the declared-weak queries (VERDICT r9 #1).

The 15 weak queries (seeded / approximate / binary-codec — no DuckDB
oracle BY DESIGN) are nonetheless deterministic *within* the engine:
seeds are fixed, codecs are pure, and sketch merges are
order-insensitive. That makes their outputs snapshot-able. This tool
runs each weak query at the given fixture dirs and writes the result
to ``tests/goldens/<sf-basename>/<name>.parquet``; ``tools/check.py``
then compares weak queries against these goldens with the SAME
order-insensitive comparator used for oracle queries, so the local
gate stops being blind on the weak tier (driver rows stay rows-only —
the golden gate is local).

Regenerate ONLY when a weak query's semantics deliberately change
(then review the diff before committing):

    python tools/make_goldens.py                     # both sf0.001 + sf0.01
    python tools/make_goldens.py --sf /root/testdata/sf0.001
    python tools/make_goldens.py --selfcheck         # determinism probe

``--selfcheck`` re-runs every weak query under a different
shuffle-partition count and diffs against the written golden — proof
that the snapshot captures data semantics, not partition layout.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402

GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens")

DEFAULT_SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


def weak_names() -> list[str]:
    registry.load_all()
    return sorted(set(registry.QUERIES) - set(registry.ORACLES))


def golden_path(sf_dir: str, name: str) -> str:
    return os.path.join(GOLDEN_DIR, os.path.basename(sf_dir.rstrip("/")), f"{name}.parquet")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", action="append", default=None)
    ap.add_argument("--selfcheck", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sfs = args.sf or DEFAULT_SFS
    names = args.names or weak_names()

    spark = get_session("goldens", shuffle_partitions=8)
    rc = 0
    for sf_dir in sfs:
        outdir = os.path.join(GOLDEN_DIR, os.path.basename(sf_dir.rstrip("/")))
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            t0 = time.time()
            pdf = registry.QUERIES[name](spark, sf_dir).toPandas()
            path = golden_path(sf_dir, name)
            if args.selfcheck:
                # probe determinism under a different partition layout
                import pandas as pd

                from check import compare  # noqa: E402 (tools/ sibling)

                spark.conf.set("spark.sql.shuffle.partitions", "13")
                try:
                    pdf2 = registry.QUERIES[name](spark, sf_dir).toPandas()
                finally:
                    spark.conf.set("spark.sql.shuffle.partitions", "8")
                gold = pd.read_parquet(path) if os.path.exists(path) else None
                probs = compare(pdf, pdf2)
                hard = [p for p in probs if not p.startswith("dtype note")]
                gprobs = []
                if gold is not None:
                    gprobs = [p for p in compare(pdf, gold) if not p.startswith("dtype note")]
                status = "ok" if not hard and not gprobs else "FAIL"
                if status == "FAIL":
                    rc = 1
                print(f"{status:4s} {name} @{os.path.basename(sf_dir)}: rows={len(pdf)} ({time.time()-t0:.1f}s)")
                for p in hard:
                    print(f"     [partition-layout] {p}")
                for p in gprobs:
                    print(f"     [vs golden] {p}")
            else:
                pdf.to_parquet(path, index=False)
                print(f"wrote {path}: rows={len(pdf)} ({time.time()-t0:.1f}s)")
    return rc


if __name__ == "__main__":
    sys.exit(main())
