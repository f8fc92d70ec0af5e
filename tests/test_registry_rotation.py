"""The driver checks only the first 50 entries of queries() per round, so
the registry's order is the verification policy. Pin its three tiers:
failed last round, then never verified (both by module priority, then
registration order), then verified, oldest clean row first."""

from __future__ import annotations

import json

from etl_arcgis_spark import registry

GREEN = {"hash_match": True, "err": None, "spark_rows": 1}
ERROR = {"hash_match": None, "err": "boom", "spark_rows": None}

# The declared SURVEY.md §2.1 contract query set (71 names). Some of
# them (project_computed, sort_multi_key) are cited in no SURVEY §2 row,
# so this list is their only registration check.
CONTRACT_NAMES = frozenset(
    """
scan_project_filter scan_count scan_limit_offset scan_distinct_values
filter_compound_predicates filter_like_pattern filter_in_list
filter_between_dates filter_spatial_envelope project_computed
project_struct_nest id_rewrite_concat explode_pos_with_id
geo_route_by_type geo_reproject_webmercator join_inner_equi
join_left_outer join_full_outer join_semi join_anti join_star_multiway
join_theta_range join_asof_event join_upsert_merge agg_groupby_stats
agg_having agg_global_no_group agg_count_distinct_exact
agg_approx_count_distinct agg_grouping_sets agg_rollup agg_cube
agg_conditional agg_extent_minmax window_rank_topk_per_group
window_running_sum window_lag_lead window_moving_avg_rows
window_range_frame window_ntile_percent window_first_last sort_multi_key
topk_order_limit set_union_all set_union_distinct set_intersect
set_except str_funcs date_funcs math_funcs array_funcs map_json_funcs
cast_coalesce_defaults stream_tumbling_window_agg
stream_sliding_window_agg stream_session_window dedup_exact
dedup_key_last_write minhash_lsh_dedup sim_cosine_topk_pairs
sim_knn_query_vector lsh_approx_join text_tokenize_wordcount
text_ngram_count text_tfidf_top_terms text_lang_filter_stats
multimodal_embedding_stats udf_scalar_default udf_pandas_reproject
udaf_grouped_median udtf_json_explode
""".split()
)


def _ordered_names(monkeypatch, tmp_path, correctness: dict) -> list[str]:
    for fname, rows in correctness.items():
        (tmp_path / fname).write_text(json.dumps(rows))
    monkeypatch.setattr(registry, "_REPO_DIR", str(tmp_path))
    return list(registry.all_queries())


def _priority_order() -> list[str]:
    """Module priority, then registration order (sorted() is stable)."""
    registry.load_all()
    prio = {m: i for i, m in enumerate(registry._MODULE_PRIORITY)}
    return sorted(registry.QUERIES, key=lambda n: prio.get(registry.MODULE_OF[n], len(prio)))


def test_unverified_queries_register_first(monkeypatch, tmp_path):
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {
                # hash-green -> verified
                "scan_project_filter": GREEN,
                # weak-ran -> verified
                "minhash_lsh_dedup": {"hash_match": None, "err": "no_oracle", "spark_rows": 5},
                # driver ERRORs -> re-verify FIRST, by module priority
                # (joins before aggregates, although aggregates register first)
                "agg_groupby_stats": ERROR,
                "join_inner_equi": ERROR,
            }
        },
    )
    assert names[:2] == ["join_inner_equi", "agg_groupby_stats"]
    # then the never-verified names, in module priority order
    seen = {"join_inner_equi", "agg_groupby_stats", "scan_project_filter", "minhash_lsh_dedup"}
    unverified = [n for n in _priority_order() if n not in seen]
    assert names[2 : 2 + len(unverified)] == unverified
    # verified names sort last
    assert set(names[-2:]) == {"scan_project_filter", "minhash_lsh_dedup"}


def test_later_round_green_clears_earlier_error(monkeypatch, tmp_path):
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {"join_inner_equi": ERROR},
            "CORRECTNESS_r02.json": {"join_inner_equi": GREEN},
        },
    )
    # green in r02 -> no longer front-of-queue, now the only verified name
    assert names[-1] == "join_inner_equi"


def test_later_round_error_demotes_earlier_green(monkeypatch, tmp_path):
    # green in r01, driver ERROR in r02 -> the regression must re-enter
    # the front of the queue (latest status wins), not hide in the
    # verified tail forever.
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {"join_inner_equi": GREEN},
            "CORRECTNESS_r02.json": {"join_inner_equi": ERROR},
        },
    )
    assert names[0] == "join_inner_equi"


def test_verified_tier_oldest_clean_row_first(monkeypatch, tmp_path):
    # agg_groupby_stats registers before scan_project_filter, but its
    # only clean row is newer, so it re-verifies later.
    names = _ordered_names(
        monkeypatch,
        tmp_path,
        {
            "CORRECTNESS_r01.json": {"scan_project_filter": GREEN},
            "CORRECTNESS_r02.json": {"agg_groupby_stats": GREEN},
        },
    )
    assert names[-2:] == ["scan_project_filter", "agg_groupby_stats"]


def test_no_correctness_files_preserves_priority_order(monkeypatch, tmp_path):
    names = _ordered_names(monkeypatch, tmp_path, {})
    assert names == _priority_order()
    assert names[0].startswith("scan_")


def test_contract_names_all_registered():
    registry.load_all()
    missing = CONTRACT_NAMES - set(registry.QUERIES)
    assert not missing, f"§2.1 contract names not registered: {sorted(missing)}"
