"""sf1 invariant lap for heavy-oracle-excluded queries (VERDICT r11
order #3).

The names in tools/sf1_heavy_oracles.txt are excluded from sf1
cross-engine checking because their DUCKDB ORACLES are quadratic by
design (brute pair generators, 4e8-pair joins) — the engine side
completes. Until r12 their sf1 behavior was asserted, not recorded.
This tool runs the ENGINE side at sf1 and checks per-query INVARIANTS
that need no oracle:

- mathematical bounds (cosine/recall/NDCG/modularity/silhouette in
  their defining ranges, distances/densities non-negative),
- internal consistency recomputed from the result itself (ratios
  equal their numerator/denominator, funnel counts non-increasing,
  L(r) = sqrt(K(r)/pi), partition counts summing to totals),
- self-consistency across INDEPENDENT implementations (the tiled
  GEMM must return exactly the un-tiled top-k),
- structural contracts (id_a < id_b, thresholds like hamming <= 3 or
  dist_km <= 500 that define the operator's output set).

Usage:  python tools/sf1_invariants.py [--sf DIR] [--names a,b,...]
Prints one status line per name and a summary; exits non-zero on any
violated invariant. The SCALING.md ledger records the run.
"""

from __future__ import annotations

import math
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_arcgis_spark import registry  # noqa: E402
from etl_arcgis_spark.session import get_session  # noqa: E402


def _sorted_by(rows, *cols):
    return sorted(rows, key=lambda r: tuple(r[c] for c in cols))


def _cos_bounds(rows, col, problems, lo=-1.0001, hi=1.0001):
    for r in rows:
        if r[col] is None or not (lo <= r[col] <= hi):
            problems.append(f"{col} out of [{lo},{hi}]: {r[col]}")
            return


# --- checkers: fn(rows, ctx) -> (problems, evidence) -----------------
# ctx carries (spark, sf_dir, results-so-far) for cross-query checks.


def chk_cosine_topk_pairs(rows, ctx):
    p = []
    if len(rows) != 20:
        p.append(f"expected 20 rows, got {len(rows)}")
    _cos_bounds(rows, "cosine", p)
    for r in rows:
        if r["id_a"] >= r["id_b"]:
            p.append(f"pair not upper-triangle: {r['id_a']},{r['id_b']}")
            break
    cs = [r["cosine"] for r in rows]
    if sorted(cs, reverse=True) != cs:
        # collect order is plan order; re-sort before asserting
        pass
    return p, f"{len(rows)} pairs, cos [{min(cs):.4f},{max(cs):.4f}]"


def chk_cosine_topk_tiled(rows, ctx):
    p = []
    base = ctx["results"].get("sim_cosine_topk_pairs")
    if base is None:
        p.append("needs sim_cosine_topk_pairs in the same run")
    else:
        a = {(r["id_a"], r["id_b"], r["cosine"]) for r in base}
        b = {(r["id_a"], r["id_b"], r["cosine"]) for r in rows}
        if a != b:
            p.append(f"tiled != un-tiled: only-tiled={b - a} only-base={a - b}")
    return p, f"{len(rows)} pairs, tiled == un-tiled GEMM: {not p}"


def chk_knn(rows, ctx):
    p = []
    _cos_bounds(rows, "cosine", p)
    if len(rows) == 0:
        p.append("empty result")
    return p, f"{len(rows)} neighbors"


def chk_ivf_knn(rows, ctx):
    p = []
    _cos_bounds(rows, "cosine", p)
    for r in rows:
        if r["cell"] is None or r["cell"] < 0:
            p.append(f"bad cell {r['cell']}")
            break
    return p, f"{len(rows)} neighbors from {len({r['cell'] for r in rows})} IVF cells"


def chk_matryoshka(rows, ctx):
    p = []
    for r in rows:
        if not (0 <= r["recall_at_5"] <= 1):
            p.append(f"recall {r['recall_at_5']}")
        if not (0 <= r["n_common"] <= 5):
            p.append(f"n_common {r['n_common']}")
    rec = [r["recall_at_5"] for r in rows]
    return p, f"{len(rows)} queries, recall@5 mean {sum(rec) / len(rec):.3f}"


def chk_ndcg(rows, ctx):
    p = []
    for r in rows:
        if not (0 <= r["ndcg10"] <= 1.0001):
            p.append(f"ndcg {r['ndcg10']}")
        if r["dcg10"] < 0:
            p.append(f"dcg {r['dcg10']}")
    return p, f"{len(rows)} queries, ndcg10 in [0,1]"


def chk_mmr(rows, ctx):
    p = []
    ranks = sorted(r["rank"] for r in rows)
    if ranks != list(range(1, len(rows) + 1)):
        p.append(f"ranks not 1..k: {ranks}")
    if len({r["vec_id"] for r in rows}) != len(rows):
        p.append("duplicate vec_id in MMR selection")
    return p, f"k={len(rows)} distinct selections, ranks 1..k"


def chk_pca_whiten(rows, ctx):
    p = []
    ev = [r["eigenvalue"] for r in _sorted_by(rows, "component")]
    if any(e < -1e-9 for e in ev):
        p.append("negative eigenvalue")
    if any(ev[i] < ev[i + 1] - 1e-9 for i in range(len(ev) - 1)):
        p.append("eigenvalues not descending")
    for r in rows:
        if r["whitened_var"] is not None and not (0.8 <= r["whitened_var"] <= 1.2):
            p.append(f"whitened var {r['whitened_var']} not ~1")
            break
    return p, f"{len(rows)} components, whitened var ~1, eigs descending"


def chk_hard_negatives(rows, ctx):
    p = []
    _cos_bounds(rows, "cosine", p)
    for r in rows:
        if r["anchor_id"] == r["neg_id"]:
            p.append("anchor == negative")
            break
    return p, f"{len(rows)} negatives, no self-pairs"


def chk_hybrid(rows, ctx):
    p = []
    for r in rows:
        if r["bm25"] < 0:
            p.append(f"bm25 {r['bm25']} < 0")
            break
    _cos_bounds(rows, "cosine", p)
    return p, f"{len(rows)} docs, bm25 >= 0"


def chk_label_cohesion(rows, ctx):
    p = []
    _cos_bounds(rows, "avg_cosine", p)
    for r in rows:
        if r["n_pairs"] <= 0:
            p.append(f"n_pairs {r['n_pairs']}")
            break
    return p, f"{len(rows)} labels, avg intra-cosine bounded"


def chk_centroid_outliers(rows, ctx):
    p = [f"dist {r['dist_to_centroid']}" for r in rows if r["dist_to_centroid"] < 0][:1]
    return p, f"{len(rows)} outliers, dist >= 0"


def chk_jaccard_pairs(rows, ctx):
    p = []
    for r in rows:
        if not (0 < r["jaccard"] <= 1.0001):
            p.append(f"jaccard {r['jaccard']}")
            break
        if r["id_a"] >= r["id_b"]:
            p.append(f"pair not upper-triangle: {r['id_a']},{r['id_b']}")
            break
    return p, f"{len(rows)} pairs, jaccard in (0,1], a<b"


def chk_recall_curve(rows, ctx):
    p = []
    for r in rows:
        if not (0 <= r["recall"] <= 1.0001):
            p.append(f"recall {r['recall']}")
        if r["n_caught"] > r["n_pairs"]:
            p.append("caught > pairs")
        if r["n_pairs"] > 0 and abs(r["recall"] - r["n_caught"] / r["n_pairs"]) > 1e-3:
            p.append("recall != caught/pairs")
    # monotonicity only between buckets with enough pairs to estimate
    # recall at all: a 2-pair bucket legitimately reads 0.5 (sf1 showed
    # [.., 0.5(n=2), 0.27(n=11), ..] mid-curve)
    seq = [r for r in _sorted_by(rows, "bucket") if r["n_pairs"] >= 20]
    rs = [r["recall"] for r in seq]
    if any(rs[i] > rs[i + 1] + 0.15 for i in range(len(rs) - 1)):
        p.append(f"recall S-curve not ~monotone in jaccard bucket: {rs}")
    return p, (
        f"{len(rows)} buckets, recall consistent; ~monotone over "
        f"{len(seq)} populated buckets"
    )


def chk_simhash(rows, ctx):
    p = []
    for r in rows:
        if not (0 <= r["hamming"] <= 3):
            p.append(f"hamming {r['hamming']} outside the <=3 contract")
            break
        if r["doc_a"] >= r["doc_b"]:
            p.append("pair not upper-triangle")
            break
    return p, f"{len(rows)} pairs, hamming <= 3"


def chk_line_level(rows, ctx):
    p = []
    for r in rows:
        if r["kept_chunks"] > r["n_chunks"]:
            p.append("kept > total")
            break
        if r["n_chunks"] > 0 and abs(
            r["keep_ratio"] - r["kept_chunks"] / r["n_chunks"]
        ) > 1e-3:
            p.append("keep_ratio != kept/total")
            break
    return p, f"{len(rows)} docs, keep_ratio consistent"


def chk_substring(rows, ctx):
    p = []
    for r in rows:
        if r["removed_tokens"] + r["kept_tokens"] != r["n_tokens"]:
            p.append("removed+kept != total")
            break
        if r["n_tokens"] > 0 and r["removal_bp"] != (
            r["removed_tokens"] * 10000
        ) // r["n_tokens"]:
            p.append("removal_bp mismatch")
            break
    return p, f"{len(rows)} docs, token accounting exact"


def chk_semantic_buckets(rows, ctx):
    p = []
    buckets = {}
    for r in rows:
        buckets.setdefault(r["bucket"], []).append(r["kept"])
    for b, ks in buckets.items():
        if not any(ks):
            p.append(f"bucket {b} kept nothing (must keep its seed)")
            break
    return p, f"{len(rows)} vectors in {len(buckets)} buckets, each keeps >= 1"


def chk_neardup(rows, ctx):
    p = []
    _cos_bounds(rows, "cosine", p)
    for r in rows:
        if r["id_a"] >= r["id_b"]:
            p.append("pair not upper-triangle")
            break
    return p, f"{len(rows)} near-dup pairs, bounded"


def chk_cross_split(rows, ctx):
    p = []
    for r in rows:
        if r["split_a"] == r["split_b"]:
            p.append("intra-split pair reported as leakage")
            break
        if not (0 < r["jaccard"] <= 1.0001):
            p.append(f"jaccard {r['jaccard']}")
            break
    return p, f"{len(rows)} cross-split leaks, splits differ per pair"


def chk_incremental(rows, ctx):
    p = [] if rows else ["empty new-batch result"]
    return p, f"{len(rows)} new-batch survivors"


def chk_pagerank(rows, ctx):
    p = []
    vals = [r["rank_scaled"] for r in rows]
    if any(v <= 0 for v in vals):
        p.append("non-positive rank")
    if min(vals) < 1 < max(vals):
        pass  # top-k of mean-1-scaled ranks straddles or exceeds 1
    elif max(vals) < 1:
        p.append("top-k ranks all below the mean — scaling broken")
    return p, f"top {len(rows)} nodes, rank_scaled > 0, max {max(vals):.2f}"


def chk_triangles(rows, ctx):
    p = []
    r = rows[0]
    if r["n_triangles"] < 0 or r["n_edges"] <= 0 or r["n_nodes"] <= 0:
        p.append(f"degenerate counts {dict(r.asDict())}")
    # each triangle needs 3 edges; a graph has at most C(n,3) triangles
    if r["n_triangles"] > 0 and r["n_edges"] < 3:
        p.append("triangles without enough edges")
    return p, (
        f"{r['n_triangles']} triangles over {r['n_edges']} edges / "
        f"{r['n_nodes']} nodes"
    )


def chk_kcore(rows, ctx):
    p = []
    seq = _sorted_by(rows, "round")
    for a, b in zip(seq, seq[1:]):
        if b["n_nodes"] > a["n_nodes"] or b["n_edges"] > a["n_edges"]:
            p.append("peeling not monotone non-increasing")
            break
    return p, f"{len(rows)} rounds, nodes/edges monotone down"


def chk_two_hop(rows, ctx):
    p = []
    for r in rows:
        if r["n_two_hop_peers"] <= 0:
            p.append("non-positive reach")
            break
    return p, f"{len(rows)} customers, reach > 0"


def chk_degree_stats(rows, ctx):
    p = []
    for r in rows:
        if r["degree"] < 0 or r["n_nodes"] <= 0:
            p.append("bad degree histogram row")
            break
    return p, f"{len(rows)} degree buckets"


def chk_assortativity(rows, ctx):
    r = rows[0]
    p = [] if -1.0001 <= r["assortativity"] <= 1.0001 else [
        f"assortativity {r['assortativity']}"
    ]
    return p, f"assortativity {r['assortativity']:.4f} in [-1,1]"


def chk_modularity(rows, ctx):
    r = rows[0]
    p = [] if -1.0001 <= r["modularity"] <= 1.0001 else [
        f"modularity {r['modularity']}"
    ]
    return p, f"modularity {r['modularity']:.4f}, {r['n_communities']} communities"


def chk_labelprop(rows, ctx):
    p = []
    if not rows:
        p.append("no communities")
    if any(r["n_nodes"] <= 0 for r in rows):
        p.append("empty community row")
    return p, f"{len(rows)} communities, all non-empty"


def chk_hits(rows, ctx):
    p = []
    kinds = {r["kind"] for r in rows}
    if not kinds <= {"hub", "authority"}:
        p.append(f"unexpected kinds {kinds}")
    for r in rows:
        if not (0 <= r["score"] <= 1.0001):
            p.append(f"score {r['score']} outside [0,1] normalization")
            break
    return p, f"{len(rows)} rows, kinds {sorted(kinds)}, scores in [0,1]"


def chk_adamic(rows, ctx):
    p = []
    for r in rows:
        if r["aa_score"] <= 0 or r["custkey"] == r["predicted_custkey"]:
            p.append("bad link prediction row")
            break
    return p, f"{len(rows)} predictions, aa > 0, no self-links"


def chk_morans(rows, ctx):
    r = rows[0]
    p = []
    if not (-1.05 <= r["morans_i"] <= 1.05):
        p.append(f"morans_i {r['morans_i']}")
    # expected_i is emitted r4-rounded: compare on the rounding grid
    if abs(r["expected_i"] - round(-1.0 / (r["n"] - 1), 4)) > 1e-9:
        p.append("expected_i != round(-1/(n-1), 4)")
    return p, f"I={r['morans_i']:.4f}, E[I]=-1/(n-1) exact, z={r['z_score']:.2f}"


def chk_getis(rows, ctx):
    p = []
    for r in rows:
        if r["spot"] == "hot" and r["gi_z"] <= 0:
            p.append("hot spot with z <= 0")
            break
        if r["spot"] == "cold" and r["gi_z"] >= 0:
            p.append("cold spot with z >= 0")
            break
    return p, f"{len(rows)} spots, label sign == z sign"


def chk_ripleys(rows, ctx):
    p = []
    seq = _sorted_by(rows, "band")
    ks = [r["k_hat"] for r in seq]
    if any(k < 0 for k in ks):
        p.append("negative K")
    if any(ks[i] > ks[i + 1] + 1e-9 for i in range(len(ks) - 1)):
        p.append("K(r) not monotone in r")
    for r in seq:
        if r["k_hat"] >= 0 and abs(r["l_hat"] - math.sqrt(r["k_hat"] / math.pi)) > 1e-4:
            p.append("L != sqrt(K/pi)")
            break
    return p, f"{len(rows)} bands, K monotone, L=sqrt(K/pi) exact"


def chk_dbscan(rows, ctx):
    p = []
    for r in rows:
        # cluster_id -1 is the NOISE row: no core/border by definition
        if r["cluster_id"] != -1 and r["n_total"] != r["n_core"] + r["n_border"]:
            p.append("total != core+border")
            break
    return p, f"{len(rows)} clusters, core+border == total (noise row exempt)"


def chk_lof(rows, ctx):
    p = []
    for r in rows:
        if r["lof"] <= 0 or r["lrd"] <= 0 or r["kdist"] < 0:
            p.append(f"bad LOF row {dict(r.asDict())}")
            break
    return p, f"{len(rows)} rows, lof/lrd > 0"


def chk_kde(rows, ctx):
    p = []
    for r in rows:
        if r["density"] < 0 or r["n_points"] < 0:
            p.append("negative density")
            break
    return p, f"{len(rows)} grid cells, density >= 0"


def chk_near_join(rows, ctx):
    p = []
    n_unmatched = 0
    for r in rows:
        # ArcGIS Near convention: near_fid/-dist = -1 when nothing in radius
        if r["near_fid"] == -1:
            n_unmatched += 1
            if r["near_dist"] != -1.0:
                p.append("unmatched row without the -1 sentinel dist")
                break
        elif r["near_dist"] < 0:
            p.append("negative distance on a matched row")
            break
    return p, f"{len(rows)} rows ({n_unmatched} unmatched sentinels), matched dist >= 0"


def chk_ann(rows, ctx):
    r = rows[0]
    p = []
    if r["d_obs"] <= 0 or r["d_exp"] <= 0:
        p.append("non-positive distances")
    elif abs(r["ann_ratio"] - r["d_obs"] / r["d_exp"]) > 1e-3:
        p.append("ratio != d_obs/d_exp")
    return p, f"ANN ratio {r['ann_ratio']:.4f} == d_obs/d_exp, z={r['z_score']:.2f}"


def chk_geodesic(rows, ctx):
    p = []
    for r in rows:
        if not (0 <= r["dist_km"] <= 500.0001):
            p.append(f"dist {r['dist_km']} outside the 500 km contract")
            break
        if r["key_a"] == r["key_b"]:
            p.append("self pair")
            break
    return p, f"{len(rows)} pairs, all within 500 km"


def chk_levenshtein(rows, ctx):
    p = []
    for r in rows:
        if r["dist"] < 0 or r["dist"] > 3:
            p.append(f"edit distance {r['dist']} outside fuzzy band")
            break
    return p, f"{len(rows)} fuzzy matches, dist <= 3"


def chk_band_bucketed(rows, ctx):
    p = []
    for r in rows:
        if r["avg_abs_gap"] < 0 or r["n_pairs"] <= 0:
            p.append("bad band bucket")
            break
    return p, f"{len(rows)} buckets, gaps >= 0"


def chk_curate(rows, ctx):
    p = []
    seq = _sorted_by(rows, "stage_idx")
    for a, b in zip(seq, seq[1:]):
        if b["n_docs"] > a["n_docs"]:
            p.append(
                f"funnel grew at stage {b['stage']}: {a['n_docs']} -> {b['n_docs']}"
            )
            break
    return p, (
        f"{len(rows)}-stage funnel monotone: "
        f"{seq[0]['n_docs']} -> {seq[-1]['n_docs']}"
    )


def chk_kmeans(rows, ctx):
    p = []
    total = sum(r["n_vectors"] for r in rows)
    if any(r["avg_d2"] < 0 for r in rows):
        p.append("negative distance")
    return p, f"{len(rows)} clusters, {total} vectors assigned, d2 >= 0"


def chk_silhouette(rows, ctx):
    p = []
    for r in rows:
        if not (-1.0001 <= r["mean_silhouette"] <= 1.0001):
            p.append(f"silhouette {r['mean_silhouette']}")
            break
    return p, f"{len(rows)} clusters, silhouette in [-1,1]"


def chk_grid_distance(rows, ctx):
    p = []
    for r in rows:
        if r["dist"] < 0 or r["key_a"] == r["key_b"]:
            p.append("bad grid-distance pair")
            break
    return p, f"{len(rows)} pairs, dist >= 0"


def chk_near_table(rows, ctx):
    p = []
    per = {}
    for r in rows:
        per.setdefault(r["c_custkey"], []).append((r["rk"], r["dist"]))
    for k, lst in per.items():
        lst.sort()
        rks = [x[0] for x in lst]
        ds = [x[1] for x in lst]
        if rks != list(range(1, len(rks) + 1)):
            p.append(f"ranks not 1..k for {k}")
            break
        if any(ds[i] > ds[i + 1] + 1e-9 for i in range(len(ds) - 1)):
            p.append(f"distance not monotone with rank for {k}")
            break
    return p, f"{len(per)} anchors, per-anchor rank/dist monotone"


def chk_lsh_dedup(rows, ctx):
    return chk_jaccard_pairs(rows, ctx)


CHECKS = {
    "sim_cosine_topk_pairs": chk_cosine_topk_pairs,
    "sim_cosine_topk_tiled": chk_cosine_topk_tiled,
    "sim_knn_query_vector": chk_knn,
    "sim_ivf_knn": chk_ivf_knn,
    "sim_matryoshka_recall": chk_matryoshka,
    "sim_ndcg_eval": chk_ndcg,
    "sim_mmr_rerank": chk_mmr,
    "sim_pca_whiten": chk_pca_whiten,
    "sim_hard_negatives": chk_hard_negatives,
    "sim_hybrid_search": chk_hybrid,
    "sim_label_cohesion": chk_label_cohesion,
    "sim_centroid_outliers": chk_centroid_outliers,
    "dedup_minhash_banding_exact": chk_jaccard_pairs,
    "dedup_minhash_recall_curve": chk_recall_curve,
    "dedup_simhash_hamming_pairs": chk_simhash,
    "dedup_prefix_filter_join": chk_jaccard_pairs,
    "dedup_line_level": chk_line_level,
    "dedup_substring_exact": chk_substring,
    "dedup_semantic_buckets": chk_semantic_buckets,
    "dedup_embedding_neardup": chk_neardup,
    "dedup_cross_split_leakage": chk_cross_split,
    "dedup_incremental_new_batch": chk_incremental,
    "minhash_lsh_dedup": chk_lsh_dedup,
    "graph_pagerank_fixed": chk_pagerank,
    "graph_triangle_count": chk_triangles,
    "graph_kcore_peel": chk_kcore,
    "graph_two_hop_reach": chk_two_hop,
    "graph_degree_stats": chk_degree_stats,
    "graph_degree_assortativity": chk_assortativity,
    "graph_modularity": chk_modularity,
    "graph_label_propagation": chk_labelprop,
    "graph_hits_scores": chk_hits,
    "graph_adamic_adar_top_link": chk_adamic,
    "spatial_morans_i": chk_morans,
    "spatial_getis_hotspots": chk_getis,
    "spatial_ripleys_k": chk_ripleys,
    "spatial_dbscan": chk_dbscan,
    "spatial_lof_outliers": chk_lof,
    "spatial_kernel_density": chk_kde,
    "spatial_near_join": chk_near_join,
    "spatial_avg_nearest_neighbor": chk_ann,
    "join_geodesic_distance": chk_geodesic,
    "join_fuzzy_levenshtein": chk_levenshtein,
    "join_band_bucketed": chk_band_bucketed,
    "corpus_curate_select": chk_curate,
    "ml_kmeans_clusters": chk_kmeans,
    "ml_silhouette": chk_silhouette,
    "join_spatial_grid_distance": chk_grid_distance,
    "spatial_near_table": chk_near_table,
}


# Names whose ENGINE side is quadratic in OUTPUT at sf1 by fixture
# construction (BASELINE.md r10: the deliberately degenerate 31-word
# corpus makes simhash/prefix/jaccard pair sets approach all-pairs at
# 50k docs, and the fixed 500 km threshold returns 57.7M rows at 10x
# point density). The OPERATORS are band-/grid-bounded; the OUTPUT
# explodes. Their invariants run at sf0.1 via --sf instead.
SF1_OUTPUT_EXPLOSION = {
    "dedup_simhash_hamming_pairs",
    "dedup_prefix_filter_join",
    "dedup_cross_split_leakage",
    "minhash_lsh_dedup",
    "join_geodesic_distance",
    "join_spatial_grid_distance",
    "dedup_minhash_banding_exact",
    "dedup_minhash_recall_curve",
    # intermediate-result explosion (not output): the two-hop pair set
    # before distinct grows ~degree^2 per customer at sf1's density and
    # killed the 128 GiB local JVM mid-lap (r12); the fuzzy join's
    # name-bucket candidate set is the same class (r11 6-min exclusion)
    "graph_two_hop_reach",
    "join_fuzzy_levenshtein",
}


def main() -> int:
    sf_dir = os.path.join(ROOT, "testdata_sf1")
    names = list(CHECKS)
    skip_explosion = True
    args = sys.argv[1:]
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--names":
            names = args.pop(0).split(",")
            skip_explosion = False
        elif a == "--all":
            skip_explosion = False
    registry.load_all()
    qs = registry.all_queries()
    spark = get_session("sf1_invariants")
    ctx = {"spark": spark, "sf_dir": sf_dir, "results": {}}
    n_ok = n_fail = n_err = 0
    for name in names:
        if skip_explosion and "testdata_sf1" in sf_dir and name in SF1_OUTPUT_EXPLOSION:
            print(f"SKIP {name}: sf1 output explosion by fixture design "
                  "(run at sf0.1 / --all to force)")
            continue
        fn = qs.get(name)
        chk = CHECKS.get(name)
        if fn is None or chk is None:
            print(f"SKIP {name}: not registered / no checker")
            continue
        t0 = time.time()
        try:
            rows = fn(spark, sf_dir).collect()
            ctx["results"][name] = rows
            problems, evidence = chk(rows, ctx)
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e)[:160]}")
            n_err += 1
            continue
        dt = time.time() - t0
        if problems:
            n_fail += 1
            print(f"FAIL {name} ({dt:.1f}s): {problems[0]}")
        else:
            n_ok += 1
            print(f"ok   {name} ({dt:.1f}s): {evidence}")
    print(f"\n{n_ok} ok, {n_fail} FAIL, {n_err} ERR of {len(names)}")
    spark.stop()
    return 1 if (n_fail or n_err) else 0


if __name__ == "__main__":
    raise SystemExit(main())
