"""The registry carries the statement → warehouse → RFM surface, each
query with a DuckDB oracle, and none of the warehouse extras, Z-order,
bucketing or Python-Data-Source queries that were cut from it."""

from __future__ import annotations

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
}


def test_registry_holds_the_paper_surface_with_oracles():
    queries = entry.queries()
    oracles = entry.oracle_sql()
    assert PAPER_QUERIES <= set(queries)
    assert set(oracles) == set(queries)
    assert all(oracles[name].strip() for name in PAPER_QUERIES)


def test_cut_queries_are_unregistered():
    assert not REMOVED_QUERIES & set(entry.queries())
