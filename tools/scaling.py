"""Scaling probe: headline queries across sf0.001 / sf0.01 / sf0.1.

The 100 TB claim is about SLOPE, not absolute time: a query whose cost
is (fixed floor) + (marginal cost x rows) scales; one with a
superlinear term does not. This probe times every headline query at
three scale factors spanning 100x in one session (interleaved, median
of N), then reports per-query:

  - t(sf) at each scale factor;
  - the incremental cost of each 10x data step (t_01 - t_001,
    t_1 - t_01) — for a scalable plan the SECOND step is ~10x the
    first once above the floor;
  - the implied scaling exponent between the two largest SFs,
    log10(dt2/dt1), where dt are the floor-free increments. Exponent
    ~1 = linear in rows; <1 sublinear (output-bound); >~1.3 suspect.

Exponents are computed on increments (differences), which cancels the
per-query fixed floor without needing to estimate it.

Every timing goes through ``bench.measure`` on ``bench.bench_session``
(the session the bench times: 4 shuffle partitions, AQE off): 1 warm-up
run, which is the counted run, then N timed runs, median; the minimum
over two interleaved passes is reported. Per query the JSON also
carries ``shuffle_write_bytes`` and ``input_bytes`` at each SF, from
perfbench's status-store counters of the counted run (every job the
build runs, checkpoints included): a map-side-combined aggregate's
shuffle bytes stay flat across the three SFs.

Usage: python tools/scaling.py [--n 5] [name ...]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from etl_arcgis_spark import registry  # noqa: E402

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]
HEADLINE = bench.HEADLINE + [
    # round-4 additions: the rewritten two-phase global-rank family
    # (no-single-partition claim) + the bucketed pair-generation
    # representatives of the dedup/ANN families
    "agg_equidepth_histogram",
    "stats_gini_revenue",
    "window_ntile_percent",
    "text_vocab_growth",
    "dedup_minhash_banding_exact",
    "dedup_simhash_hamming_pairs",
    "sim_ivf_knn",
    # round-5 additions: the weighted two-phase decomposition, the
    # re-spelled packing running sum, the map-only text ops, and the
    # bucketed band join (the no-equi-key scale spelling)
    "agg_weighted_median",
    "sample_pack_sequences",
    "text_winnowing_fingerprint",
    "text_top_ngram_coverage",
    "join_band_bucketed",
    # round-5 late additions: prefix-filtered set-similarity (bounded
    # posting lists), inverted-index link prediction, and the in-row
    # HOF CDC chunker (zero-shuffle chunk assembly)
    "dedup_prefix_filter_join",
    "graph_adamic_adar_top_link",
    "text_cdc_chunks",
    # round-6: the re-spelled whitening (Arrow moment partials + tree
    # combine — expression count now O(1) in d, cost linear in rows)
    "sim_pca_whiten",
    # round-7: the re-spelled KS ECDF (bucketed_running_sums over 1024
    # equi-width bins — the former unbounded value-grid window gone)
    "stats_ks_two_sample",
    # round-7 graph additions: the iterative-propagation family reps
    # (per-round edge-message joins bounded by degree; modularity is a
    # single grouped pass over the LPA labels)
    "graph_label_propagation",
    "graph_modularity",
    # round-7 session-2 reps: the value-join midrank build (Spearman),
    # the 64x map-side replicate explode (bootstrap), the bitmask IND
    # lattice (2 hash aggs over a 16-column union), and the space-time
    # cube composite (Expand+agg neighborhood, bounded cube windows)
    "stats_spearman_corr",
    "stats_bootstrap_poisson",
    "dq_inclusion_dependencies",
    "spatial_emerging_hotspots",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("names", nargs="*", help="override the headline query list")
    args = ap.parse_args()
    global HEADLINE
    if args.names:
        HEADLINE = args.names

    spark = bench.bench_session("scaling")
    queries = registry.all_queries()

    for sf in SFS:  # JIT warm-up pass
        for name in HEADLINE:
            bench.materialize(queries[name](spark, sf))

    t: dict[tuple[str, str], float] = {}
    layers: dict[tuple[str, str], dict] = {}
    for _pass in range(2):
        for sf in SFS:
            for name in HEADLINE:
                fn = queries[name]
                _, med, totals = bench.measure(spark, lambda: fn(spark, sf), name, 1, args.n)
                key = (name, sf)
                if med < t.get(key, float("inf")):
                    t[key], layers[key] = med, totals

    out = {}
    for name in HEADLINE:
        t001, t01, t1 = (t[(name, sf)] for sf in SFS)
        dt1 = max(t01 - t001, 1e-4)  # 0.001 -> 0.01 increment
        dt2 = max(t1 - t01, 1e-4)   # 0.01 -> 0.1 increment
        exponent = math.log10(dt2 / dt1) if dt1 > 1e-3 else None
        out[name] = {
            "sec": {"sf0.001": round(t001, 4), "sf0.01": round(t01, 4), "sf0.1": round(t1, 4)},
            "incr_sec": [round(dt1, 4), round(dt2, 4)],
            "exponent_10x": round(exponent, 2) if exponent is not None else None,
            **{
                f: {os.path.basename(sf): layers[(name, sf)][f] for sf in SFS}
                for f in ("shuffle_write_bytes", "input_bytes")
            },
        }
    print(json.dumps({"metric": "scaling_probe", "queries": out}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
