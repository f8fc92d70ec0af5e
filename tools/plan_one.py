"""Dump .explain('formatted') for named queries to plans/<outdir>/<name>_<tag>.txt.

Usage: python tools/plan_one.py --tag after [--outdir plans/r12] [--sf DIR] names...
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--tag", required=True)
    ap.add_argument("--outdir", default="plans/r12")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    registry.load_all()
    spark = get_session("plan_one")
    os.makedirs(args.outdir, exist_ok=True)
    for name in args.names:
        df = registry.QUERIES[name](spark, args.sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(args.outdir, f"{name}_{args.tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
