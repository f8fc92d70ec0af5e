"""DuckDB baseline timer — re-measures the BASELINE.md methodology at an
arbitrary fixture dir (VERDICT r9 #2: at sf0.1 several baselines sit at
or below Spark's per-job floor; sf1 makes the 2x comparison
compute-bound).

Runs each headline query's registered DuckDB oracle over views of the
given parquet dir: 3 warm-ups, then median of 5 timed runs (fetch
included, mirroring BASELINE.md "warm-run medians"). Prints one JSON
line {"sf_dir": ..., "baseline_sec": {name: sec}}.

    python tools/baseline_duck.py [--sf <repo>/testdata_sf1]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import HEADLINE  # noqa: E402
from etl_arcgis_spark import registry  # noqa: E402
from tools.check import duck_con  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.path.join(ROOT, "testdata_sf1"))
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--warmups", type=int, default=3)
    ap.add_argument(
        "--skip", action="append", default=[],
        help="headline name to skip (e.g. an oracle intractable at this SF)",
    )
    args = ap.parse_args()

    registry.load_all()
    con = duck_con(args.sf)

    out: dict[str, float] = {}
    for name in HEADLINE:
        if name in args.skip:
            continue
        sql = registry.ORACLES[name]
        for _ in range(args.warmups):
            con.execute(sql).fetchall()
        ts = []
        for _ in range(args.runs):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            ts.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(ts), 4)
        print(f"{name}: {out[name]:.4f}s", file=sys.stderr)
    print(json.dumps({"sf_dir": args.sf, "baseline_sec": out,
                      "total": round(sum(out.values()), 4)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
