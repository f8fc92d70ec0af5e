"""Regenerate PLANS.md: executed physical plans of the headline
queries at sf0.1 — the human-readable artifact matching
tests/test_plans.py's programmatic assertions and SCALE.md §15's
measured shuffle inventory.

Usage: python tools/dump_plans.py [--sf DIR]
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402

HEADLINE = bench.HEADLINE + [
    "agg_equidepth_histogram",
    "window_ntile_percent",
    "join_salted_skew",
]

HEADER = """# PLANS.md — executed physical plans of the headline queries

Generated by `python tools/dump_plans.py` at sf0.1, local[32], AQE on —
the artifact to read alongside SCALE.md §15's measured shuffle
inventory. What to look for (asserted programmatically in
tests/test_plans.py; reproduced here for human review):

- `PushedFilters` / pruned `ReadSchema` on every scan;
- `BroadcastHashJoin` on dim legs, no `CartesianProduct`;
- partial aggregation (`HashAggregate(keys=..., functions=[partial_...])`)
  below every exchange;
- `WindowGroupLimit` under the per-group top-k, `TakeOrderedAndProject`
  for global top-k;
- every `Window` node carrying a partition spec (the round-4 audit rule) —
  except documented bounded-input offsets;
- `Exchange hashpartitioning(...)` under every unbounded input. The
  `Exchange SinglePartition` nodes that DO appear are bounded-input
  merges by construction: the final merge of a keyless global
  aggregate (collapsing ~32 partial rows / pre-deduplicated distinct
  keys to one), and the <=1024-row bin-count offset tables of the
  two-phase global-rank rewrites — never a table-sized input (that is
  what tools/audit_plans.py's window rule forbids).
"""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    spark = get_session("plans", shuffle_partitions=32)
    qs = registry.all_queries()
    out = [HEADER]
    for name in HEADLINE:
        df = qs[name](spark, args.sf)
        df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out.append(f"\n## {name}\n\n```\n{plan}\n```\n")
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
