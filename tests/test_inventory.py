"""Inventory regression: the full SURVEY §2 operator contract must stay
registered — a refactor that drops or renames a declared query is a silent
coverage loss the oracle suite can't see (it only tests what IS registered)."""

from __future__ import annotations

from eviction_lab_etl_spark.registry import CHECKS, ORACLES, QUERIES

SURVEY_S2 = """
scan_project scan_filter_prune io_csv_roundtrip io_json_lines io_partitioned_write
filter_compound filter_null_sentinel project_computed
join_broadcast_dims join_multikey_derived join_left_null join_semi join_anti
join_asof join_range_interval join_weighted_alloc join_cross_small
agg_sum_groupby agg_weighted_mean agg_multi_distinct agg_rollup agg_cube
agg_grouping_sets agg_conditional agg_stats agg_approx_distinct
window_rank_topk window_rank_dense window_lag_delta window_moving_avg
window_range_frame window_ntile window_percentile window_cume
sort_multi_topk sort_nulls
setop_union_all setop_union_dedup setop_except setop_intersect
scalar_string_fmt scalar_regexp scalar_datetime scalar_math scalar_case_bucket
scalar_array_ops scalar_json scalar_conditional_null
reshape_pivot_wide reshape_pivot_agg reshape_unpivot_long
dedup_exact dedup_keep_first sim_jaccard_pairs sim_knn_cosine sim_ann_lsh
text_tokenize_topn text_ngrams text_lang_stats text_length_hist
stream_tumbling stream_sliding stream_session stream_watermark_late
stream_dedup_watermark stream_foreachbatch_upsert
udf_py_scalar udf_pandas_scalar udf_grouped_map udf_pandas_agg udtf_explode_pos
""".split()

# SURVEY §2 marks exactly these as check=rows (engine-specific output or
# streaming-stateful — no SQL-expressible oracle). The io round-trips were
# upgraded to source-table hash checks in r7; agg_approx_distinct left in r8
# via its error-bound contract; sim_ann_lsh stays (its PAIR LIST is
# engine-specific) but its accuracy is hash-checked by sim_ann_lsh_recall.
S2_ROWS_ONLY = {
    "sim_ann_lsh",
    "stream_watermark_late", "stream_dedup_watermark", "stream_foreachbatch_upsert",
}

EXTENSIONS = {
    "dedup_simhash", "dedup_simhash_pairs", "sim_ngram_jaccard",
    "sim_cosine_neardup", "ann_ivf", "ann_ivf_recall",
    "text_langid", "text_quality", "text_token_count", "text_fingerprint",
    "multimodal_decode", "multimodal_resize", "multimodal_frame_sample",
    "multimodal_audio_decode",
    "pipeline_tile_wide", "pipeline_rankings", "pipeline_search_index",
    "pipeline_data_dictionary", "pipeline_validate", "pipeline_corpus_clean",
    "pipeline_corpus_manifest",
    "stream_stateful_counter", "stream_stream_join",
    "stream_stateful_counter_batch", "stream_stream_join_batch",
    "stream_static_enrich_batch",
    "stream_session_dynamic", "stream_session_skewsafe",
    "split_content_hash", "sample_stratified",
    "agg_approx_quantile", "sketch_hll_partitioned",
    "complex_shipping_priority", "complex_region_revenue",
    "complex_returned_revenue", "complex_small_qty_revenue",
    "complex_large_orders", "complex_sole_discount_supplier",
    "complex_idle_customers", "io_orc_roundtrip", "io_bucketed_join",
    "io_python_datasource", "scalar_try_safe", "io_binary_files",
    "join_lateral_topn", "udf_arrow_map",
    "join_asof_tolerance", "window_first_last", "agg_mode",
    "text_clean_html", "text_pii_mask", "dedup_cluster_cc", "graph_triangle_count",
    "graph_pagerank",
    "dedup_canonical_docs",
    "contam_ngram_overlap", "contam_ngram_hashed", "sim_jaccard_prefix",
    "export_shard_manifest", "multimodal_phash_dedup", "multimodal_phash_near",
    "dedup_minhash_pairs", "dedup_minhash_recall", "join_skew_salted",
    "join_bloom_pruned", "join_fuzzy_blocked", "embed_kmeans_iter",
    "text_tfidf_topterms", "incr_compact_roundtrip",
    "pipeline_entity_resolution", "events_streak_islands", "io_schema_evolution", "scalar_variant_shred",
    "window_skyline_2d", "ts_ewma_smooth", "search_bm25_topk", "io_stats_manifest",
    "incr_scd2_build", "graph_bfs_layers", "search_hybrid_rrf", "search_mmr_diverse",
    "sim_containment_pairs", "sim_containment_prefix", "ts_changepoint_shift", "text_mix_entropy",
    "split_cluster_safe", "window_skyline_3d", "sim_ann_lsh_recall",
    "multimodal_audio_neardup",
    "embed_pq_codes", "dedup_semantic", "pack_bins_nextfit",
    "multimodal_video_neardup", "text_dup_span_coverage",
    "search_pq_adc_topk", "text_lm_nll", "text_bpe_train",
    "sketch_heavy_hitters", "join_interval_overlap",
    "text_bpe_encode", "pack_bins_bpe", "search_ivfpq_topk",
    "search_ivfpq_recall", "dedup_incremental_batch", "dedup_semantic_wide",
    "contam_bloom_gate", "text_dup_span_remove", "sketch_countmin",
    "search_hard_negatives", "embed_sq8_codes",
    "search_sq8_topk", "search_sq8_recall", "dedup_incremental_indexed",
    "text_normalize_unicode", "dedup_exact_normalized",
    "text_pmi_collocations", "sketch_quantile_mergeable",
    "search_ivfsq_topk", "search_ivfsq_recall", "contam_normalized",
    "search_sq8_rerank", "search_sq8_rerank_recall",
    "dedup_lines_global", "sketch_theta_kmv",
    "contam_neardup", "text_quality_classifier", "ts_seasonal_profile",
    "search_rp_topk", "search_rp_recall", "join_asof_nearest",
    "sketch_kmv_partitioned", "contam_span_remove", "prune_prototypes",
    "web_url_canonicalize", "dedup_url_keep_first", "web_domain_cap",
    "ts_resample_ohlc", "text_vocab_nucleus", "mix_budget_alloc",
    "pack_interleave_sources",
    "search_filtered_topk", "events_attribution_last_touch",
    "agg_median_countframe",
    "scalar_url_parts", "pipeline_web_ingest", "stream_tumbling_topk",
    "io_parquet_bloom_roundtrip", "mix_epoch_plan", "events_top_paths",
    "incr_snapshot_tag_read", "geo_knn_grid", "geo_point_in_polygon",
    "geo_simplify_sweep", "geo_geojson_parse",
    "text_gopher_rules", "text_boilerplate_strip", "geo_point_in_polygon_holes", "geo_area_holed", "pipeline_decontaminate", "geo_centroid_holed", "geo_multipolygon_parts", "geo_point_in_multipolygon",
    "stream_sliding_distinct", "multimodal_video_keyframes",
    "search_matryoshka_topk", "search_matryoshka_recall",
    "io_parquet_zstd_roundtrip", "resample_epoch_realize", "events_dau_wau",
    "layout_zorder_key", "io_range_partitioned",
    "pack_concat_chunks", "chunk_sliding",
    "resample_by_lang", "resample_sqrt_temperature", "text_dedup_repeats",
    "text_rarity_score",
    "geo_centroid_bbox", "geo_point_in_region", "incr_partition_refresh",
    "incr_merge_upsert", "incr_ingest_dedup", "incr_view_maintain",
    "resample_cap_source",
    "events_funnel", "events_cohort_retention", "ts_gapfill_locf",
    "pipeline_training_set", "search_prefix_topk", "multimodal_dedup",
    # Round-5 continued: the completed TPC-H shape family …
    "complex_late_priority_orders", "complex_forecast_revenue",
    "complex_nation_volume", "complex_market_share", "complex_product_profit",
    "complex_cust_order_histogram", "complex_promo_revenue",
    "complex_top_supplier", "complex_min_cost_supplier",
    "complex_important_stock", "complex_returnflag_priority",
    "complex_parts_supplier_cnt", "complex_disjunctive_revenue",
    "complex_excess_share_supplier",
    # … embedding hygiene, event/series analytics, corpus publishing …
    "embed_centroid_stats", "embed_norm_hist", "events_type_transitions",
    "ts_interpolate_linear", "pipeline_dataset_card",
    "resample_downweight_dups", "agg_bool_logic",
    # … ACID snapshot table + IO surface.
    "incr_snapshot_time_travel", "stream_snapshot_sink",
    "io_xml_roundtrip", "io_text_roundtrip", "multimodal_audio_features", "multimodal_video_motion",
    "setop_except_all", "setop_intersect_all", "scalar_bitwise",
    "agg_collect_sorted", "graph_degree_hist", "ts_anomaly_mad",
    "text_boilerplate_grams", "events_rfm_segments", "pipeline_clean_funnel",
    "agg_corr_components", "sql_top_nations_report", "incr_snapshot_cdf",
    "stream_static_enrich", "udtf_dynamic_schema", "join_scd2_point_in_time",
    "sample_weighted_priority", "sim_cross_lang_pairs",
    "events_pareto_concentration", "udf_cogrouped_map", "agg_percentiles_by_lang",
    # Round-14: PII scrub and the geometry
    # capstone/spatial-join/tiling/crosswalk batch.
    "text_pii_scrub", "geo_search_index",
    "geo_bbox_overlap_pairs", "geo_tile_cover", "geo_crosswalk_alloc",
    "events_attribution_linear", "profile_column_stats",
    # Round-15: the tile-join capstone, crosswalk end-to-end, and the
    # shared-exchange sessionization demonstration (r14 verdict items 4-6).
    "geo_tile_join", "geo_crosswalk_apportion", "events_session_transitions",
}


def test_survey_s2_fully_registered():
    missing = [n for n in SURVEY_S2 if n not in QUERIES]
    assert not missing, f"SURVEY §2 operators dropped from registry: {missing}"
    assert len(SURVEY_S2) == 71


def test_s2_hash_queries_have_oracles():
    no_oracle = [
        n for n in SURVEY_S2 if n not in S2_ROWS_ONLY and n not in ORACLES
    ]
    assert not no_oracle, f"hash-checked §2 operators missing oracles: {no_oracle}"
    for n in S2_ROWS_ONLY:
        assert CHECKS[n] == "rows"


def test_extensions_registered():
    missing = sorted(EXTENSIONS - set(QUERIES))
    assert not missing, f"extension operators dropped: {missing}"


def test_no_unexpected_registrations():
    unexpected = sorted(set(QUERIES) - set(SURVEY_S2) - EXTENSIONS)
    assert not unexpected, (
        f"new queries {unexpected} — add them to EXTENSIONS here so the "
        "inventory test keeps guarding them"
    )


def test_generated_catalog_is_fresh():
    """OPERATORS.md bills itself as the always-current inventory — pin its
    headline counts to the live registry so a query added without re-running
    tools/gen_reports.py fails CI instead of shipping a stale catalog."""
    import os
    import re

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "OPERATORS.md")
    with open(path) as fh:
        head = fh.read(500)
    m = re.search(r"(\d+) registered queries; (\d+) hash-checked", head)
    assert m, "OPERATORS.md headline count line missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"OPERATORS.md says {m.group(1)} queries, registry has {len(QUERIES)} — "
        "re-run tools/gen_reports.py"
    )
    assert int(m.group(2)) == len(ORACLES), (
        f"OPERATORS.md says {m.group(2)} oracles, registry has {len(ORACLES)} — "
        "re-run tools/gen_reports.py"
    )
