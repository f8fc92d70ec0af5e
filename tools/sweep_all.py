"""Full-registry Spark-side timing sweep (optimization round).

Times EVERY registered query at one SF with the noop sink (guide §1.4)
through ``bench.measure``: 1 warm-up run, which is the counted run, then
N timed runs, median reported. Spark side only — no DuckDB — so this is
the engine cost profile, used to rank operators for optimization
attention. Per query the JSON carries:

  - ``sec``: median of the N timed runs (Python build included);
  - ``adj_sec``: ``sec`` less the per-query and per-extra-job floors
    (``bench.adjusted``; the floors are measured once, after the last
    query, with ``bench.floors`` and written under ``floors``);
  - ``build``: Python build time of the counted (first, cold) run,
    including any build-time checkpoint jobs;
  - perfbench's status-store counters of the counted run (``jobs``,
    ``stages``, ``tasks``, ``executor_run_s``, ``executor_cpu_s``,
    ``gc_s``, ``shuffle_read_bytes``, ``shuffle_write_bytes``,
    ``spill_bytes``, ``input_bytes``, ``output_bytes``,
    ``sql_executions``, ``python_plan_nodes``). They count every SQL
    execution the build runs, checkpoints included, so
    ``shuffle_write_bytes`` is the query's whole shuffle inventory
    (SCALE.md §3), not only the final plan's exchanges.

Usage: python tools/sweep_all.py [--sf DIR] [--n 2] [--out FILE] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import adjusted, floors, measure  # noqa: E402
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

    def dump(fl=None) -> None:
        with open(args.out, "w") as fh:
            json.dump({"floors": fl, "queries": out}, fh, indent=1, sort_keys=True)

    for i, name in enumerate(names):
        fn = registry.QUERIES[name]
        try:
            build, sec, totals = measure(spark, lambda: fn(spark, args.sf), name, 1, args.n)
            out[name] = {"sec": sec, "build": build, **totals}
        except Exception as e:
            out[name] = {"err": f"{type(e).__name__}: {e}", "tb": traceback.format_exc()[-2000:]}
        if (i + 1) % 25 == 0:
            print(f"[{i+1}/{len(names)}] {name}", file=sys.stderr)
            dump()
    fl = floors(spark)  # on the warm JVM, as bench.py measures them
    for v in out.values():
        if "sec" in v:
            v["adj_sec"] = round(adjusted(v["sec"], v["jobs"], fl), 4)
    dump(fl)
    ranked = sorted(((v.get("sec", 9e9), k) for k, v in out.items()), reverse=True)
    for sec, k in ranked[:40]:
        print(f"{sec:10.3f} {out[k].get('adj_sec', 0):8.3f} {out[k].get('jobs', 0):4d}  {k}")
    errs = {k for k, v in out.items() if "err" in v}
    print(f"total {len(out)} queries, {len(errs)} errors: {sorted(errs)[:10]}")
    spark.stop()


if __name__ == "__main__":
    main()
