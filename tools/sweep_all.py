"""Full-registry Spark-side timing sweep (optimization round).

Times EVERY registered query at one SF with the noop sink (guide §1.4):
1 warm-up + N timed runs, min reported (host-load rejection). Spark
side only — no DuckDB — so this is the engine cost profile, used to
rank operators for optimization attention. Writes JSON to stdout file
arg.

Usage: python tools/sweep_all.py [--sf DIR] [--n 2] [--out FILE] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import materialize  # noqa: E402
from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--out", default="/tmp/sweep_all.json")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    registry.load_all()
    names = args.names or sorted(registry.QUERIES)
    spark = get_session("sweep_all")
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(name)
        try:
            t_build0 = time.perf_counter()
            df = fn(spark, args.sf)
            build = time.perf_counter() - t_build0
            materialize(df)  # warm-up
            runs = []
            for _ in range(args.n):
                t0 = time.perf_counter()
                materialize(fn(spark, args.sf))
                runs.append(time.perf_counter() - t0)
            out[name] = {"sec": round(min(runs), 4), "build": round(build, 4)}
        except Exception as e:
            out[name] = {"err": f"{type(e).__name__}: {e}", "tb": traceback.format_exc()[-2000:]}
        finally:
            spark.sparkContext.setJobDescription(None)
        if (i + 1) % 25 == 0:
            print(f"[{i+1}/{len(names)}] {name}", file=sys.stderr)
            with open(args.out, "w") as fh:
                json.dump(out, fh, indent=1, sort_keys=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    ranked = sorted(
        ((v.get("sec", 9e9), k) for k, v in out.items()), reverse=True
    )
    for sec, k in ranked[:40]:
        print(f"{sec:10.3f}  {k}")
    errs = {k for k, v in out.items() if "err" in v}
    print(f"total {len(out)} queries, {len(errs)} errors: {sorted(errs)[:10]}")
    spark.stop()


if __name__ == "__main__":
    main()
