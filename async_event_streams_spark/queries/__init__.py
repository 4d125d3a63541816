"""Query registry: every operator from SURVEY.md §2 registers here.

`QUERIES[name]` is a callable `(spark, sf_dir) -> DataFrame`;
`ORACLES[name]` is the equivalent ANSI SQL DuckDB runs on the same
parquet (absent for non-SQL-expressible ops → driver does a rows-only
check). Column names/aliases are kept identical on both sides because
the driver's compare hashes values after sorting columns by name.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# Import for side effects: each module registers its queries.
from . import reference  # noqa: E402,F401
from . import relational  # noqa: E402,F401
from . import tpch  # noqa: E402,F401
from . import temporal  # noqa: E402,F401
from . import llm  # noqa: E402,F401


# The external correctness check covers only the first ~50 registrations
# per round. Re-rank the registry so queries that do not yet have a green
# external row register first (fast-first within each group, so a
# time-budgeted checker also fits the most queries).


def query_fingerprint(name: str) -> str:
    """First 12 hex of sha256 over the query's decorated source + oracle.

    Verification standing is keyed by (name, fingerprint): rewriting a
    query body or its oracle SQL changes the fingerprint, which silently
    drops the stale badge and re-enters the query into the driver's
    check window (round-2 advice: a rewritten query must not retain
    verification earned by old code)."""
    import hashlib
    import inspect

    try:
        src = inspect.getsource(QUERIES[name])
    except (OSError, TypeError):  # pragma: no cover - builtins/lambdas
        src = getattr(QUERIES[name], "__qualname__", name)
    payload = src + "\x00" + ORACLES.get(name, "")
    return hashlib.sha256(payload.encode()).hexdigest()[:12]


def _is_verified(name: str) -> bool:
    return _EXTERNALLY_VERIFIED.get(name) == query_fingerprint(name)


# name -> fingerprint of the implementation that earned a green
# (hash_match) driver row. Regenerated by tools/update_verified.py at
# round start (before any edits, so "current source" == "checked source").
# NOTE: the fingerprint covers the decorated query source + oracle only;
# when a SHARED HELPER a query executes through is rewritten (e.g. the
# r3 grouped_rank adaptive mode), drop the affected names here manually
# so they re-enter the driver's check window.
_EXTERNALLY_VERIFIED: dict[str, str] = {
    "b10_lineage_join": "57b3e47f01df",
    "b1_source_scan": "37d9462fbfe6",
    "b2_fanout_counts": "88f31e597481",
    "b3_filter_mod3": "266280edc629",
    "b4_classify_fizzbuzz": "d131913eb759",
    "b5_route_parity": "4790e950a099",
    "b6_union_merge": "385df505e976",
    "b7_ordered_fanin": "3253f47dfade",
    "b8_groupby_max": "73f47c0628d6",
    "c_agg_approx_distinct": "f8a2b084af8f",
    "c_agg_approx_quantile": "fcad8ddc5a0a",
    "c_agg_basic": "9c82f0ae1956",
    "c_agg_boolean": "cb2511d06131",
    "c_agg_collect": "4b1b9b67d8fe",
    "c_agg_cube": "5a78ecec5e56",
    "c_agg_distinct": "87719dee63fc",
    "c_agg_grouping_sets": "7678df0b68ac",
    "c_agg_hll_union": "3fd0e5fbad0b",
    "c_agg_median": "f3ef539873f7",
    "c_agg_rollup": "765865e30887",
    "c_agg_stats": "b391a506b3fa",
    "c_array_explode": "9f1dbfe3b644",
    "c_array_ops": "d81fb5f2836c",
    "c_audience_overlap": "f5b9782fcdcf",
    "c_bitmap_filter": "841870b7e2c9",
    "c_bitmap_index": "07e67db8c77c",
    "c_compaction_plan": "45a0fabdd836",
    "c_cumulative_reach": "715808c07c55",
    "c_data_skew_gini": "ae8afce6409b",
    "c_date_spine": "98cd1ded2db9",
    "c_dq_audit": "bf7eb26be4de",
    "c_except": "5e614d169e59",
    "c_funnel_steps": "0ead0b6a7694",
    "c_funnel_time": "3492cf8c6900",
    "c_gap_fill": "3445e8b6b7ca",
    "c_grouped_map_zscore": "a9fecfbf19f1",
    "c_histogram": "0f1133d5f2e0",
    "c_histogram_equidepth": "aef7b6feb78f",
    "c_histogram_equidepth_sketch": "57a1edc98cfe",
    "c_intersect": "3126960e92d0",
    "c_join_anti": "7f225a0e0e93",
    "c_join_bloom": "a84536062fc5",
    "c_join_cardinality": "e6d317edc1dd",
    "c_join_equi": "e7c9d85b0403",
    "c_join_estimate": "4a3392768ae3",
    "c_join_full_outer": "765d039f46d6",
    "c_join_interval_banded": "25a43d0ccc1e",
    "c_join_left_outer": "ae7e43484147",
    "c_join_range": "c52e2d4a2b52",
    "c_join_salted": "0d33acfcc6fc",
    "c_join_semi": "22b44dfb7a5a",
    "c_json_extract": "28dda1dfca76",
    "c_map_ops": "1311b1a6d3f4",
    "c_merge_upsert": "a0c7d5c443f1",
    "c_moments_mergeable": "b94ce685422d",
    "c_mv_incremental": "d98dc34ca486",
    "c_null_handling": "253f91a1b4a2",
    "c_pandas_udf": "d79a450e4102",
    "c_period_over_period": "218e0ef264f9",
    "c_pivot": "62cd420661d4",
    "c_retention_cohorts": "5b2ccc515f5c",
    "c_scalar_date": "e675135d79fd",
    "c_scalar_interval": "ca96473425e7",
    "c_scalar_math": "8aba0868eed0",
    "c_scalar_regex": "09a66d7d8d25",
    "c_scalar_string": "60d59baecc97",
    "c_scan_parquet": "5812ed9ae230",
    "c_sessionize_stats": "02ced7eb24ab",
    "c_share_of_parent": "4c3a6b47573d",
    "c_skew_report": "9da75c279286",
    "c_sliding_reach": "449ece023002",
    "c_stream_dedup": "88c6e92730c8",
    "c_stream_session": "57cf9f86f372",
    "c_stream_sliding": "fb1bd7b57933",
    "c_stream_tumbling": "530712c9c31c",
    "c_string_agg": "f4e070020cf0",
    "c_subquery_correlated": "a10ac52dc16c",
    "c_subquery_scalar": "4da856736ecb",
    "c_table_profile": "d49f94fe7f2b",
    "c_table_profile_sketch": "8069fd3cf37e",
    "c_time_rollup": "ce180c658c15",
    "c_topk_per_group": "e8d89b94fa93",
    "c_tpch_q1": "317b0a785321",
    "c_tpch_q10": "f848d5887e1d",
    "c_tpch_q11": "bc266a30fc8d",
    "c_tpch_q12": "99be574d0660",
    "c_tpch_q13": "6dc671d399d5",
    "c_tpch_q14": "6bbc9d7ba17f",
    "c_tpch_q15": "098c85384764",
    "c_tpch_q16": "5278b7df6369",
    "c_tpch_q17": "4b291198a066",
    "c_tpch_q18": "d757c1b5d78f",
    "c_tpch_q19": "7a67b0b657e5",
    "c_tpch_q2": "ac6c25be4f52",
    "c_tpch_q20": "95800868ba76",
    "c_tpch_q21": "a332bba2c356",
    "c_tpch_q22": "eb6b37a9e8bd",
    "c_tpch_q3": "b02dcdc72eff",
    "c_tpch_q5": "fea2ed9dbe8e",
    "c_tpch_q6": "8aa6cbf6da1c",
    "c_tpch_q7": "44fe67879edf",
    "c_tpch_q8": "d2762e3ba802",
    "c_tpch_q9": "195de21cd227",
    "c_unpivot": "ddef8f79a83c",
    "c_window_bollinger": "c9a5e23816a8",
    "c_window_drawdown": "4862c49dd9e2",
    "c_window_first_last": "4ad63963c057",
    "c_window_ntile": "7b3713d583c0",
    "c_window_percentiles": "5c7432cd9757",
    "c_window_range_frame": "11c9a0f7aabe",
    "c_window_rank": "6622e7a7335c",
    "c_window_rank_variants": "b7ce564997b6",
    "c_window_running_sum": "cf0cff130489",
    "c_zonemap_prune": "f0c5f0cbcf6e",
    "c_zonemap_scan": "1efef0812a5e",
    "c_zorder_layout": "03e134bb4200",
    "x_ann_crossover": "60fb1384de0a",
    "x_ann_crossover_cost": "2a94eb53b5fd",
    "x_ann_filtered": "05cc5bb9fba6",
    "x_ann_filtered_recall": "af2f6610931c",
    "x_ann_ivf_trained": "ff049db65a4a",
    "x_ann_lsh": "2c17e7f64b9d",
    "x_ann_recall": "7546b0e26d3c",
    "x_ann_recall_trained": "1ffc71924c97",
    "x_asset_dedup": "7932ae1c9ef5",
    "x_asset_neardup": "8b83dbf49568",
    "x_bigram_logprob": "4e81a7d36aef",
    "x_bm25": "07b1db9ee575",
    "x_bpe_tokens": "f7138f8cbcb6",
    "x_bpe_train_pairs": "d416c7a3f791",
    "x_char_entropy": "2d57b98a2ea2",
    "x_chunk_documents": "4a30029a6359",
    "x_cluster_sizes": "cee39ae55b75",
    "x_containment": "62777627d192",
    "x_corpus_diff": "4cefab4f4ac8",
    "x_cosine_topk": "d5b05f13a74d",
    "x_curriculum_order": "0861875d1a16",
    "x_dataset_card": "b9d28608bbc3",
    "x_decontaminate_fuzzy": "d3bf721e2d33",
    "x_dedup_chunks": "1652f8ebc8ef",
    "x_dedup_clusters": "7c9f051f4491",
    "x_dedup_embedding": "c628c71b7cb0",
    "x_dedup_exact": "e7c451a8001e",
    "x_dedup_jaccard": "cd280087839a",
    "x_dedup_keepbest": "15922d900e59",
    "x_dedup_minhash": "3f5230b7ef24",
    "x_dedup_semantic": "eb0bf5cfed29",
    "x_dedup_simhash": "620c15e8a3c4",
    "x_dedup_simhash_pairs": "4ffd7c52c35d",
    "x_dedup_verified": "9d9c216c5695",
    "x_dedup_windowed": "f2c98dd50044",
    "x_domain_mix": "f825dee458ec",
    "x_dup_rate": "bf8f3588e1c6",
    "x_dup_spans": "825d0034ac87",
    "x_embedding_drift": "74588fa21f91",
    "x_embedding_qc": "e6755c64620c",
    "x_embedding_quantize": "e2e73d399119",
    "x_extract_text": "6d59298cde8b",
    "x_filter_funnel": "2e4c69db71e0",
    "x_fingerprint": "240fec46bc2e",
    "x_frame_sample": "e706579be076",
    "x_hard_negatives": "6addb854b56f",
    "x_hybrid_rrf": "95cebcf73371",
    "x_inverted_index": "d00700832d23",
    "x_kcenter_sample": "38d698084a25",
    "x_keyword_search": "c915e7dc9f7b",
    "x_kmeans": "8feb3595fcf0",
    "x_kmeans_quality": "209ca4d8c166",
    "x_kneser_ney": "4fe817fa970a",
    "x_knn_communities": "a33c70f7d2bd",
    "x_knn_graph": "399edffcfd15",
    "x_knn_triangles": "74c212fd246b",
    "x_l2_topk": "0d23fcd01612",
    "x_lang_id": "8c676ad4e78f",
    "x_lang_segments": "65dc268c9e24",
    "x_length_percentiles": "2ecf4a3dce96",
    "x_lsh_tune": "900e7518f166",
    "x_minhash_fidelity": "6141b31c38e9",
    "x_mix_schedule": "24056cb568ae",
    "x_multimodal_ids": "0088d1384621",
    "x_ngram_counts": "45e73716128d",
    "x_ngram_novelty": "97bc22e9cc6b",
    "x_oov_rate": "850972be218e",
    "x_pack_sequences": "f302095b3289",
    "x_pii_redact": "ef5c3b7d5fe7",
    "x_pipeline_report": "e3dfe781b849",
    "x_prep_pipeline": "67f1b1f4eb97",
    "x_quality_classifier": "e88a3fa501da",
    "x_readability": "9f4ddfd60bc9",
    "x_repetition": "1e8f78bd8b04",
    "x_sample_balanced": "4ae4dc99c178",
    "x_sample_stratified": "7ac70f719eca",
    "x_sample_systematic": "36bfe3d15200",
    "x_sample_temperature": "2b9a9e4b6105",
    "x_shard_assign": "19518fd1639a",
    "x_shuffle_order": "30e7ae25badb",
    "x_span_mask": "72f17b65564d",
    "x_span_scrub": "ccbc87f727e0",
    "x_template_detect": "e30ef1ae6770",
    "x_text_quality": "1cd9ea5fc2d4",
    "x_text_stats": "409d3a3f2436",
    "x_tfidf_topterms": "350b22450db6",
    "x_token_count": "53331f323a9a",
    "x_tokenizer_fertility": "56b141690ebe",
    "x_train_split": "52b6be8b6b0f",
    "x_unigram_logprob": "3b2616696bbd",
    "x_vocab_coverage": "9e28343f32b5",
    "x_zipf_slope": "fb999cc69550",
}

# Measured per-query seconds at sf0.1, refreshed at round-5 close from
# the 3-pass min-of-3 local bench (BENCH_DETAIL.json; final 141-query
# suite 57.8 s = 0.41 s/query, of which the two closing heavyweights
# x_pipeline_report 3.0 + x_source_overlap 2.0 are by-design corpus
# compositions; the 139-query quiesced run measured 0.348 s/query).
# Hand ESTIMATES for queries never benched live in _EST_BENCH_SEC.
_BENCH_SEC: dict[str, float] = {
    "b10_lineage_join": 0.208, "b1_source_scan": 0.062,
    "b2_fanout_counts": 0.154, "b3_filter_mod3": 0.06,
    "b4_classify_fizzbuzz": 0.145, "b5_route_parity": 0.148,
    "b6_union_merge": 0.117, "b7_ordered_fanin": 0.278,
    "b8_groupby_max": 0.247, "c_agg_approx_distinct": 0.382,
    "c_agg_approx_quantile": 1.186, "c_agg_basic": 0.425,
    "c_agg_boolean": 0.207, "c_agg_collect": 0.097,
    "c_agg_cube": 0.209, "c_agg_distinct": 0.274,
    "c_agg_grouping_sets": 0.161, "c_agg_hll_union": 0.286,
    "c_agg_median": 0.391, "c_agg_rollup": 0.276,
    "c_agg_stats": 0.279, "c_anomaly_adaptive": 1.025,
    "c_anomaly_ewma": 0.805, "c_array_explode": 0.088,
    "c_array_ops": 0.104, "c_audience_overlap": 0.427,
    "c_bitmap_filter": 0.352, "c_bitmap_index": 0.18,
    "c_compaction_plan": 0.324, "c_cumulative_reach": 0.228,
    "c_data_skew_gini": 0.211, "c_date_spine": 0.241,
    "c_dq_audit": 0.957, "c_ewma": 0.623,
    "c_ewma_adaptive": 0.526, "c_ewma_bucketed": 0.988,
    "c_except": 0.238, "c_funnel_steps": 0.436,
    "c_funnel_time": 0.711, "c_gap_fill": 0.306,
    "c_grouped_map_zscore": 0.452, "c_histogram": 0.226,
    "c_histogram_equidepth": 0.317, "c_histogram_equidepth_sketch": 0.44,
    "c_intersect": 0.234, "c_join_anti": 0.128,
    "c_join_asof": 0.335, "c_join_asof_adaptive": 0.325,
    "c_join_asof_bucketed": 1.155, "c_join_bloom": 0.76,
    "c_join_cardinality": 0.871, "c_join_equi": 0.325,
    "c_join_estimate": 0.997, "c_join_full_outer": 0.253,
    "c_join_interval_banded": 0.443, "c_join_left_outer": 0.188,
    "c_join_range": 0.268, "c_join_salted": 0.412,
    "c_join_semi": 0.163, "c_json_extract": 0.423,
    "c_map_ops": 0.16, "c_merge_upsert": 0.341,
    "c_moments_mergeable": 0.442, "c_mv_incremental": 0.427,
    "c_null_handling": 0.301, "c_pandas_udf": 0.348,
    "c_period_over_period": 0.574, "c_pivot": 0.329,
    "c_retention_cohorts": 0.447, "c_rolling_median_adaptive": 0.472,
    "c_rolling_median_bucketed": 0.915, "c_scalar_date": 0.209,
    "c_scalar_interval": 0.122, "c_scalar_math": 0.189,
    "c_scalar_regex": 0.109, "c_scalar_string": 0.088,
    "c_scan_parquet": 0.123, "c_scd2_adaptive": 0.353,
    "c_scd2_bucketed": 1.212, "c_scd2_intervals": 0.282,
    "c_sessionize_adaptive": 0.469, "c_sessionize_bucketed": 1.362,
    "c_sessionize_gaps": 0.332, "c_sessionize_stats": 0.938,
    "c_share_of_parent": 0.496, "c_skew_report": 0.288,
    "c_sliding_reach": 1.636, "c_stream_dedup": 0.166,
    "c_stream_session": 0.565, "c_stream_sliding": 0.275,
    "c_stream_tumbling": 0.225, "c_string_agg": 0.098,
    "c_subquery_correlated": 0.407, "c_subquery_scalar": 0.323,
    "c_table_profile": 1.937, "c_table_profile_sketch": 1.559,
    "c_time_rollup": 0.215, "c_topk_per_group": 0.291,
    "c_tpch_q1": 0.533, "c_tpch_q10": 0.371,
    "c_tpch_q11": 0.572, "c_tpch_q12": 0.478,
    "c_tpch_q13": 0.381, "c_tpch_q14": 0.236,
    "c_tpch_q15": 0.341, "c_tpch_q16": 0.61,
    "c_tpch_q17": 0.357, "c_tpch_q18": 0.803,
    "c_tpch_q19": 0.321, "c_tpch_q2": 0.419,
    "c_tpch_q20": 0.393, "c_tpch_q21": 0.67,
    "c_tpch_q22": 0.319, "c_tpch_q3": 0.472,
    "c_tpch_q4": 0.39, "c_tpch_q5": 0.394,
    "c_tpch_q6": 0.166, "c_tpch_q7": 0.881,
    "c_tpch_q8": 0.581, "c_tpch_q9": 0.683,
    "c_unpivot": 0.128, "c_window_bollinger": 0.785,
    "c_window_drawdown": 0.25, "c_window_first_last": 0.372,
    "c_window_lag": 0.21, "c_window_lag_adaptive": 0.198,
    "c_window_lag_bucketed": 0.588, "c_window_ntile": 0.488,
    "c_window_percentiles": 0.488, "c_window_range_frame": 0.319,
    "c_window_rank": 0.342, "c_window_rank_variants": 0.384,
    "c_window_rolling_median": 0.575, "c_window_running_sum": 0.267,
    "c_zonemap_prune": 0.189, "c_zonemap_scan": 0.348,
    "c_zorder_layout": 0.559, "x_ann_crossover": 1.087,
    "x_ann_crossover_cost": 1.855, "x_ann_filtered": 0.588,
    "x_ann_filtered_recall": 1.013, "x_ann_ivf": 0.626,
    "x_ann_ivf_trained": 0.566, "x_ann_ivfpq": 1.146,
    "x_ann_lsh": 0.263, "x_ann_pq": 1.065,
    "x_ann_recall": 0.988, "x_ann_recall_trained": 0.909,
    "x_asset_dedup": 0.257, "x_asset_neardup": 1.298,
    "x_bigram_logprob": 0.861, "x_bm25": 0.404,
    "x_bpe_tokens": 0.355, "x_bpe_train_merges": 1.985,
    "x_bpe_train_pairs": 0.339, "x_ccnet_buckets": 0.834,
    "x_char_entropy": 0.695, "x_chunk_documents": 0.203,
    "x_cluster_sizes": 0.318, "x_containment": 0.191,
    "x_corpus_diff": 0.326, "x_cosine_topk": 0.746,
    "x_curriculum_order": 0.278, "x_dataset_card": 0.406,
    "x_decontaminate": 0.435, "x_decontaminate_fuzzy": 0.208,
    "x_dedup_chunks": 0.621, "x_dedup_clusters": 0.305,
    "x_dedup_embedding": 0.299, "x_dedup_exact": 0.219,
    "x_dedup_jaccard": 0.192, "x_dedup_keepbest": 0.887,
    "x_dedup_minhash": 0.268, "x_dedup_semantic": 0.479,
    "x_dedup_simhash": 0.02, "x_dedup_simhash_pairs": 0.411,
    "x_dedup_verified": 0.039, "x_dedup_windowed": 0.272,
    "x_distinct_ngrams": 0.809, "x_domain_mix": 0.587,
    "x_dsir_select": 1.361, "x_dup_rate": 0.272,
    "x_dup_spans": 1.012, "x_embedding_drift": 0.414,
    "x_embedding_qc": 0.305, "x_embedding_quantize": 0.436,
    "x_extract_text": 0.39, "x_filter_funnel": 0.174,
    "x_fingerprint": 0.209, "x_frame_sample": 0.267,
    "x_hard_negatives": 0.149, "x_hybrid_rrf": 0.927,
    "x_inverted_index": 0.612, "x_kcenter_sample": 1.314,
    "x_keyword_search": 0.464, "x_kmeans": 0.348,
    "x_kmeans_quality": 0.46, "x_kneser_ney": 1.031,
    "x_knn_communities": 1.289, "x_knn_graph": 0.378,
    "x_knn_pagerank": 0.888, "x_knn_triangles": 0.779,
    "x_l2_topk": 0.379, "x_lang_id": 0.241,
    "x_lang_segments": 0.612, "x_length_percentiles": 0.208,
    "x_lsh_tune": 0.989, "x_minhash_fidelity": 0.502,
    "x_mix_schedule": 0.302, "x_multimodal_ids": 0.086,
    "x_ngram_counts": 0.321, "x_ngram_novelty": 0.677,
    "x_oov_rate": 0.496, "x_pack_sequences": 0.881,
    "x_pii_redact": 0.185, "x_pipeline_report": 1.619,
    "x_prep_pipeline": 1.046, "x_quality_classifier": 0.296,
    "x_readability": 0.233, "x_repetition": 0.906,
    "x_rerank_exact": 1.336, "x_sample_balanced": 0.21,
    "x_sample_stratified": 0.182, "x_sample_systematic": 0.132,
    "x_sample_temperature": 0.406, "x_sample_weighted": 1.311,
    "x_shard_assign": 0.187, "x_shuffle_order": 0.144,
    "x_source_overlap": 0.516, "x_span_mask": 0.859,
    "x_span_scrub": 1.374, "x_template_detect": 0.28,
    "x_text_quality": 0.166, "x_text_stats": 0.2,
    "x_tfidf_topterms": 0.521, "x_token_count": 0.477,
    "x_tokenizer_fertility": 0.562, "x_train_split": 0.584,
    "x_unigram_logprob": 0.02, "x_vocab_coverage": 0.337,
    "x_zipf_slope": 0.385,
}

# Hand ESTIMATES (not measurements) for queries added after the last
# bench run; replaced by measured values on the next refresh. Empty
# when every registered query has a measured _BENCH_SEC entry.
_EST_BENCH_SEC: dict[str, float] = {
    # r13-close addition: first sf0.1 timing 1.79 s cold (pays the
    # shared unigram artifact build) / ~0.9 warm; measured on the next
    # bench refresh.
    "x_ccnet_buckets": 0.9,
}


def _bench_sec(name: str) -> float:
    return _BENCH_SEC.get(name, _EST_BENCH_SEC.get(name, 0.3))


# Round whose external check last went green for each query (from
# CORRECTNESS_r0N.json union, keyed by most recent check). Used to
# rotate the driver's ~50-entry check window onto the STALEST badges:
# the query fingerprint can't see shared-helper/session-config changes,
# so old badges weaken with every round of infrastructure edits (r3
# VERDICT item 1). Refresh alongside _EXTERNALLY_VERIFIED at round
# start (tools/update_verified.py).
_LAST_GREEN_ROUND: dict[str, int] = {
    "b10_lineage_join": 12, "b1_source_scan": 9, "b2_fanout_counts": 11,
    "b3_filter_mod3": 9, "b4_classify_fizzbuzz": 11, "b5_route_parity": 11,
    "b6_union_merge": 11, "b7_ordered_fanin": 12, "b8_groupby_max": 12,
    "c_agg_approx_distinct": 8, "c_agg_approx_quantile": 10, "c_agg_basic": 9,
    "c_agg_boolean": 12, "c_agg_collect": 11, "c_agg_cube": 7,
    "c_agg_distinct": 8, "c_agg_grouping_sets": 11, "c_agg_hll_union": 10,
    "c_agg_median": 8, "c_agg_rollup": 8, "c_agg_stats": 8,
    "c_anomaly_adaptive": 10, "c_anomaly_ewma": 9, "c_array_explode": 11,
    "c_array_ops": 11, "c_audience_overlap": 12, "c_bitmap_filter": 8,
    "c_bitmap_index": 12, "c_compaction_plan": 9, "c_cumulative_reach": 9,
    "c_data_skew_gini": 11, "c_date_spine": 10, "c_dq_audit": 7,
    "c_ewma": 9, "c_ewma_adaptive": 10, "c_ewma_bucketed": 9,
    "c_except": 8, "c_funnel_steps": 10, "c_funnel_time": 9,
    "c_gap_fill": 12, "c_grouped_map_zscore": 9, "c_histogram": 10,
    "c_histogram_equidepth": 9, "c_histogram_equidepth_sketch": 11, "c_intersect": 12,
    "c_join_anti": 11, "c_join_asof": 8, "c_join_asof_adaptive": 10,
    "c_join_asof_bucketed": 8, "c_join_bloom": 7, "c_join_cardinality": 8,
    "c_join_equi": 8, "c_join_estimate": 8, "c_join_full_outer": 12,
    "c_join_interval_banded": 9, "c_join_left_outer": 11, "c_join_range": 12,
    "c_join_salted": 9, "c_join_semi": 11, "c_json_extract": 8,
    "c_map_ops": 11, "c_merge_upsert": 10, "c_moments_mergeable": 8,
    "c_mv_incremental": 12, "c_null_handling": 12, "c_pandas_udf": 8,
    "c_period_over_period": 9, "c_pivot": 8, "c_retention_cohorts": 10,
    "c_rolling_median_adaptive": 10, "c_rolling_median_bucketed": 9, "c_scalar_date": 12,
    "c_scalar_interval": 11, "c_scalar_math": 11, "c_scalar_regex": 11,
    "c_scalar_string": 9, "c_scan_parquet": 11, "c_scd2_adaptive": 10,
    "c_scd2_bucketed": 8, "c_scd2_intervals": 10, "c_sessionize_adaptive": 11,
    "c_sessionize_bucketed": 11, "c_sessionize_gaps": 11, "c_sessionize_stats": 11,
    "c_share_of_parent": 9, "c_skew_report": 8, "c_sliding_reach": 9,
    "c_stream_dedup": 12, "c_stream_session": 12, "c_stream_sliding": 12,
    "c_stream_tumbling": 12, "c_string_agg": 11, "c_subquery_correlated": 8,
    "c_subquery_scalar": 8, "c_table_profile": 7, "c_table_profile_sketch": 8,
    "c_time_rollup": 12, "c_topk_per_group": 8, "c_tpch_q1": 9,
    "c_tpch_q10": 12, "c_tpch_q11": 10, "c_tpch_q12": 10,
    "c_tpch_q13": 10, "c_tpch_q14": 10, "c_tpch_q15": 10,
    "c_tpch_q16": 10, "c_tpch_q17": 10, "c_tpch_q18": 12,
    "c_tpch_q19": 10, "c_tpch_q2": 10, "c_tpch_q20": 10,
    "c_tpch_q21": 10, "c_tpch_q22": 10, "c_tpch_q3": 12,
    "c_tpch_q4": 10, "c_tpch_q5": 12, "c_tpch_q6": 12,
    "c_tpch_q7": 10, "c_tpch_q8": 10, "c_tpch_q9": 10,
    "c_unpivot": 11, "c_window_bollinger": 9, "c_window_drawdown": 9,
    "c_window_first_last": 8, "c_window_lag": 12, "c_window_lag_adaptive": 10,
    "c_window_lag_bucketed": 8, "c_window_ntile": 12, "c_window_percentiles": 12,
    "c_window_range_frame": 8, "c_window_rank": 8, "c_window_rank_variants": 12,
    "c_window_rolling_median": 9, "c_window_running_sum": 8, "c_zonemap_prune": 12,
    "c_zonemap_scan": 8, "c_zorder_layout": 7, "x_ann_crossover": 12,
    "x_ann_crossover_cost": 12, "x_ann_filtered": 11, "x_ann_filtered_recall": 11,
    "x_ann_ivf": 10, "x_ann_ivf_trained": 9, "x_ann_ivfpq": 10,
    "x_ann_lsh": 12, "x_ann_pq": 10, "x_ann_recall": 8,
    "x_ann_recall_trained": 9, "x_asset_dedup": 12, "x_asset_neardup": 8,
    "x_bigram_logprob": 12, "x_bm25": 12, "x_bpe_tokens": 12,
    "x_bpe_train_merges": 7, "x_bpe_train_pairs": 7, "x_char_entropy": 10,
    "x_chunk_documents": 8, "x_cluster_sizes": 11, "x_containment": 10,
    "x_corpus_diff": 12, "x_cosine_topk": 10, "x_curriculum_order": 9,
    "x_dataset_card": 9, "x_decontaminate": 10, "x_decontaminate_fuzzy": 11,
    "x_dedup_chunks": 10, "x_dedup_clusters": 11, "x_dedup_embedding": 11,
    "x_dedup_exact": 11, "x_dedup_jaccard": 12, "x_dedup_keepbest": 11,
    "x_dedup_minhash": 8, "x_dedup_semantic": 11, "x_dedup_simhash": 9,
    "x_dedup_simhash_pairs": 9, "x_dedup_verified": 11, "x_dedup_windowed": 11,
    "x_distinct_ngrams": 9, "x_domain_mix": 7, "x_dup_rate": 12,
    "x_dup_spans": 12, "x_embedding_drift": 9, "x_embedding_qc": 9,
    "x_embedding_quantize": 7, "x_extract_text": 12, "x_filter_funnel": 9,
    "x_fingerprint": 9, "x_frame_sample": 12, "x_hard_negatives": 11,
    "x_hybrid_rrf": 9, "x_inverted_index": 9, "x_kcenter_sample": 11,
    "x_keyword_search": 9, "x_kmeans": 9, "x_kmeans_quality": 9,
    "x_kneser_ney": 12, "x_knn_communities": 11, "x_knn_graph": 11,
    "x_knn_pagerank": 11, "x_knn_triangles": 11, "x_l2_topk": 9,
    "x_lang_id": 8, "x_lang_segments": 12, "x_length_percentiles": 12,
    "x_lsh_tune": 11, "x_minhash_fidelity": 10, "x_mix_schedule": 8,
    "x_multimodal_ids": 11, "x_ngram_counts": 8, "x_ngram_novelty": 10,
    "x_oov_rate": 9, "x_pack_sequences": 7, "x_pii_redact": 8,
    "x_pipeline_report": 12, "x_prep_pipeline": 12, "x_quality_classifier": 8,
    "x_readability": 8, "x_repetition": 10, "x_sample_balanced": 9,
    "x_sample_stratified": 9, "x_sample_systematic": 11, "x_sample_temperature": 8,
    "x_sample_weighted": 11, "x_shard_assign": 8, "x_shuffle_order": 11,
    "x_source_overlap": 10, "x_span_mask": 7, "x_span_scrub": 12,
    "x_template_detect": 9, "x_text_quality": 12, "x_text_stats": 12,
    "x_tfidf_topterms": 8, "x_token_count": 7, "x_tokenizer_fertility": 7,
    "x_train_split": 11, "x_unigram_logprob": 12, "x_vocab_coverage": 8,
    "x_zipf_slope": 10,
}


def _badge_age_rank(name: str) -> int:
    """Sort key for the check window: lower = staler = checked first.
    A query with NO valid badge (new, or its fingerprint changed) ranks
    stalest of all; otherwise the round of its last green check."""
    if not _is_verified(name):
        return -1
    return _LAST_GREEN_ROUND.get(name, -1)


def _prioritize_registry() -> None:
    order = sorted(
        QUERIES,
        key=lambda n: (_badge_age_rank(n), _bench_sec(n), n),
    )
    for reg in (QUERIES, ORACLES):
        ordered = {n: reg[n] for n in order if n in reg}
        reg.clear()
        reg.update(ordered)


_prioritize_registry()
