"""The registry carries the statement → warehouse → RFM surface, each
query with a DuckDB oracle, and none of the warehouse extras, Z-order,
bucketing, Python-Data-Source, TPC-H/OLAP, skew, streaming, curation,
BPE, codec, JSONL-corpus, sketch, graph, URL, ranking-metric,
stand-alone showcase, IVF, product-quantization, semantic-dedup,
top-PC, event-analytics, text-profile or fuzzy-link queries that were
cut from it."""

from __future__ import annotations

import re

import __spark_entry__ as entry

PAPER_QUERIES = {
    # ingest + cleanse
    "etl_general_cleanse", "etl_esun_foreign_split", "etl_cube_split",
    "etl_card_ffill", "ingest_statement_files", "ingest_excel_statement",
    "ingest_xls_statement", "refine_pipeline",
    # RFM reports
    "rfm_customer_dual_window", "rfm_payment_method", "rfm_card_portfolio",
    "rfm_merchant_full",
    # merchant resolver diagnostics
    "merchant_resolve_hybrid", "merchant_unknown_top10",
    "merchant_unknown_rate", "payment_method_distribution",
    # anonymize / mock data
    "anonymize_mask_shift_noise", "mock_stratified_sample",
    # warehouse + sinks
    "warehouse_surrogate_key", "warehouse_incremental",
    "sink_csv_bom_roundtrip", "export_workbook_configs",
}

REMOVED_QUERIES = {
    "hypertable_rollup_refresh", "events_gap_filled_daily",
    "orders_scd2_priority", "events_moving_7d_counts",
    "warehouse_upsert_merge", "orders_point_in_time_join",
    "warehouse_compaction", "warehouse_sorted_write",
    "warehouse_schema_evolution", "warehouse_zorder_write",
    "sink_orc_roundtrip", "warehouse_constraint_audit",
    "warehouse_cdc_apply", "warehouse_snapshot_diff",
    "warehouse_table_fingerprint", "warehouse_partition_repair_plan",
    "warehouse_ivm_delta_merge", "lineitem_zorder_layout",
    "lineitem_zorder_rectangle_scan", "ingest_via_datasource",
    "stream_ingest_datasource", "bucketed_join_colocated",
    # TPC-H / OLAP showcases and the salting layer's queries
    "sql_pricing_summary", "skew_salted_aggregate",
    "skew_adaptive_aggregate", "lineitem_adaptive_join",
    "json_props_extract", "events_value_percentiles", "orders_rollup",
    "orders_pivot_status", "events_window_analytics",
    "customer_set_operations", "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume", "tpch_q4_order_priority",
    "tpch_q6_forecast_revenue", "tpch_q10_returned_items",
    "tpch_q14_promo_revenue", "tpch_q18_large_volume",
    "customers_above_avg_no_urgent", "orders_grouping_sets",
    "priority_top3_orders", "events_equidepth_histogram",
    "skew_salted_join", "lineitem_unpivot_measures",
    "events_weekly_calendar", "orders_above_customer_avg",
    "events_first_last_nth", "orders_cube_status_year",
    "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q9_product_profit", "tpch_q12_late_lines",
    "tpch_q13_order_distribution", "tpch_q15_top_supplier",
    "tpch_q16_supplier_breadth", "tpch_q17_small_quantity",
    "tpch_q19_banded_revenue", "tpch_q21_sole_late_supplier",
    "tpch_q2_min_cost_supplier", "tpch_q11_important_stock",
    "tpch_q20_part_promotion", "sql_recursive_reachability",
    "orders_table_profile", "orders_trend_regression",
    "lineitem_prorate_cents", "events_variant_extract",
    # Structured Streaming jobs and the event-time queries beside them
    "events_tumbling_window", "events_sliding_window",
    "events_session_windows", "stream_stateful_user_stats",
    "stream_dedup_ingest", "stream_curation_pipeline",
    "events_asof_last_purchase", "events_range_join_purchases",
    "stream_static_enrich", "stream_salted_enrich",
    "stream_stream_join_purchases",
    "stream_foreachbatch_upsert", "stream_bloom_corpus_filter",
    "stream_dedup_within_watermark", "stream_hll_windowed",
    "stream_dsir_filter", "stream_daily_drift", "stream_image_dhash",
    # LLM-corpus curation and BPE tokenizer queries
    "pii_scrub_documents", "text_repetition_signals",
    "decontaminate_vs_benchmark", "chunk_context_windows",
    "curate_chunk_dedup", "curate_lm_typicality",
    "dsir_importance_weights", "corpus_drift_tv", "training_mix_sample",
    "corpus_token_budget_fill", "pack_training_sequences",
    "curation_pipeline", "quality_filter_verdicts",
    "remove_boilerplate_lines", "curation_pipeline_v2",
    "curation_pipeline_v3", "corpus_novelty_curve", "bpe_learn_merges",
    "bpe_tokenize_top_words",
    # JPEG codec and AVI/MJPEG video container queries
    "multimodal_jpeg_roundtrip", "multimodal_avi_frame_sample",
    "multimodal_video_dhash_neardup",
    # GIF/BMP/WAV codec and JSONL corpus queries
    "multimodal_wav_roundtrip", "multimodal_gif_frame_sample",
    "multimodal_audio_fingerprint_neardup", "ingest_jsonl_corpus",
    # sketch, graph, URL, BM25 and AUC queries
    "sketch_count_min", "sketch_bloom_membership", "sketch_hll_registers",
    "sketch_hll_estimate", "sketch_hll_merge", "bloom_semi_join_pushdown",
    "sketch_hll_intersection", "sketch_heavy_hitters",
    "events_user_pagerank", "events_triangle_counts",
    "events_shortest_paths", "docs_bm25_search", "quality_score_auc",
    "docs_url_canonical_dedup", "docs_host_blocklist_rollup",
    # stand-alone showcase queries
    "documents_hash_sample", "udtf_sentence_split",
    "documents_stratified_fixed_sample", "text_greedy_generation",
    "orders_gini_by_priority", "orders_cogroup_asof_event",
    "udf_arrow_byte_stats",
    # IVF, product-quantization, semantic-dedup and top-PC queries
    "ann_ivf_topk", "ann_ivf_auto_k", "ann_ivf_persisted_probe",
    "dedup_semantic_clusters", "ann_pq_topk", "dedup_semantic_hierarchical",
    "dedup_semantic_auto", "dedup_semantic_two_level", "embeddings_top_pc",
    "ann_abtt_corrected_topk",
    # event analytics, text profiling and fuzzy record linkage
    "events_cohort_retention", "events_funnel_conversion",
    "events_type_transitions", "events_attribution_first_touch",
    "events_hourly_heatmap", "events_decayed_user_score",
    "events_sessionization", "events_max_concurrency",
    "events_outliers_mad", "events_type_cooccurrence",
    "events_seasonal_backtest", "events_windowed_funnel",
    "events_skew_diagnostics", "events_daily_drift",
    "events_rolling_7d_users", "text_quality_profile",
    "text_unicode_sanitize", "doc_fingerprints", "text_lang_id_ngram",
    "text_stats_by_lang", "text_tfidf_top_terms", "text_bigram_counts",
    "text_pmi_collocations", "udf_vectorized_edit_distance",
    "parts_fuzzy_link", "parts_fuzzy_link_prefix",
}


def test_registry_holds_the_paper_surface_with_oracles():
    queries = entry.queries()
    oracles = entry.oracle_sql()
    assert PAPER_QUERIES <= set(queries)
    assert set(oracles) == set(queries)
    assert all(oracles[name].strip() for name in PAPER_QUERIES)


def test_cut_queries_are_unregistered():
    assert not REMOVED_QUERIES & set(entry.queries())


def test_every_corpus_table_is_read_by_an_oracle():
    """``queries.TABLES`` is the one table list conftest and check_oracle
    register; a table no oracle reads any more must leave it."""
    from credit_card_etl_pipeline_spark.queries import TABLES

    oracles = entry.oracle_sql().values()
    unread = [
        t for t in TABLES
        if not any(re.search(rf"\b(FROM|JOIN)\s+{t}\b", sql) for sql in oracles)
    ]
    assert unread == []
