"""Shuffle-volume report: measured bytes/records through every
exchange of each query — the empirical companion to SCALE.md §3's
shuffle inventory.

The 100 TB argument is mostly an argument about what the shuffles
carry (partial aggregates vs raw rows, hash-width keys vs documents).
This tool executes each query and walks the executed adaptive plan,
summing per-ShuffleExchange metrics (shuffle bytes/records written)
plus scan output rows, then prints one JSON line per query:

    {"query": ..., "scan_rows": N, "shuffles": k,
     "shuffle_records": r, "shuffle_mb": m,
     "records_per_scan_row": r/N}

``records_per_scan_row`` << 1 is map-side combine doing its job
(e.g. agg_groupby_stats at sf0.001: 6000 scan rows, 6 shuffled
records). A value near 1.0 means whole rows cross the wire — fine for
a sort, a smell for an aggregate.

Usage: python tools/shuffle_report.py [--sf DIR] [name ...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402

DEFAULT_QUERIES = [
    "agg_groupby_stats",
    "join_star_multiway",
    "window_rank_topk_per_group",
    "window_running_sum",
    "stream_tumbling_window_agg",
    "agg_count_distinct_exact",
    "text_tokenize_wordcount",
    "agg_equidepth_histogram",
    "stats_gini_revenue",
    "window_ntile_percent",
    "join_salted_skew",
    "dedup_minhash_banding_exact",
    "text_dsir_importance",
    "analytics_window_funnel",
]


def _jmetrics(node) -> dict:
    vals = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        vals[kv._1()] = kv._2().value()
    return vals


def _children(node) -> list:
    out = []
    cs = node.children()
    for i in range(cs.size()):
        out.append(cs.apply(i))
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        out.append(node.executedPlan())
    if "QueryStageExec" in cls:
        out.append(node.plan())
    return out


def collect_metrics(plan) -> dict:
    agg = {"shuffles": 0, "shuffle_records": 0, "shuffle_bytes": 0, "scan_rows": 0}
    seen = set()

    def walk(node):
        nid = node.id()
        cls = node.getClass().getSimpleName()
        if nid not in seen:
            seen.add(nid)
            if cls == "ShuffleExchangeExec":
                m = _jmetrics(node)
                agg["shuffles"] += 1
                agg["shuffle_records"] += m.get("shuffleRecordsWritten", 0) or 0
                agg["shuffle_bytes"] += m.get("shuffleBytesWritten", 0) or 0
            elif cls in ("FileSourceScanExec", "BatchScanExec"):
                m = _jmetrics(node)
                agg["scan_rows"] += m.get("numOutputRows", 0) or 0
        for c in _children(node):
            walk(c)

    walk(plan)
    return agg


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    names = args.names or DEFAULT_QUERIES
    spark = get_session("shuffle_report", shuffle_partitions=32)
    queries = registry.all_queries()
    for name in names:
        df = queries[name](spark, args.sf)
        df.collect()
        m = collect_metrics(df._jdf.queryExecution().executedPlan())
        out = {
            "query": name,
            "scan_rows": m["scan_rows"],
            "shuffles": m["shuffles"],
            "shuffle_records": m["shuffle_records"],
            "shuffle_mb": round(m["shuffle_bytes"] / 1e6, 3),
            "records_per_scan_row": round(
                m["shuffle_records"] / m["scan_rows"], 4
            )
            if m["scan_rows"]
            else None,
        }
        print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
