import os
import sys
import zlib
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Keep local test runs snappy; bench/driver use their own settings.
os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")

from data_pipeline_project_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

# Oracle-checked queries OUTSIDE the driver's 50-slot registry window
# (module, query fn, oracle SQL constant — all in
# data_pipeline_project_spark.plans). Consumed by the deregistered
# parity test AND the plan-quality sweep.
EXTRA_ORACLE_QUERIES = [
    ("relational_queries", "window_running_sum", "WINDOW_RUNNING_SUM_ORACLE"),
    ("relational_queries", "subquery_in_uncorrelated", "SUBQUERY_IN_ORACLE"),
    ("llmops_queries", "domain_balanced_cap", "DOMAIN_CAP_ORACLE"),
    ("llmops_queries", "stratified_sample_by_source", "STRATIFIED_SAMPLE_ORACLE"),
    ("relational_queries", "scd2_customer_priority_history", "SCD2_ORACLE"),
    ("llmops_queries", "heavy_hitter_terms", "HEAVY_HITTER_ORACLE"),
    ("relational_queries", "window_range_frame", "WINDOW_RANGE_FRAME_ORACLE"),
    ("llmops_queries", "reservoir_per_source", "RESERVOIR_PER_SOURCE_ORACLE"),
    ("llmops_queries", "document_chunks", "DOCUMENT_CHUNKS_ORACLE"),
    ("relational_queries", "referential_integrity_audit", "REFERENTIAL_AUDIT_ORACLE"),
    ("llmops_queries", "pii_scrub", "PII_SCRUB_ORACLE"),
    ("relational_queries", "feature_zscore", "FEATURE_ZSCORE_ORACLE"),
    ("relational_queries", "winsorize_values", "WINSORIZE_ORACLE"),
    ("llmops_queries", "ivf_ann_recall", "IVF_ANN_RECALL_ORACLE"),
    ("llmops_queries", "repetition_quality_flags", "REPETITION_ORACLE"),
    ("llmops_queries", "unigram_logprob_score", "UNIGRAM_LOGPROB_ORACLE"),
    ("llmops_queries", "sequence_packing", "SEQUENCE_PACKING_ORACLE"),
    ("relational_queries", "approx_quantile_accuracy", "APPROX_QUANTILE_ORACLE"),
    ("llmops_queries", "embedding_int8_quantization", "EMBEDDING_QUANTIZE_ORACLE"),
    ("llmops_queries", "vocab_oov_rate", "VOCAB_OOV_ORACLE"),
    ("llmops_queries", "count_min_term_counts", "COUNT_MIN_ORACLE"),
    ("relational_queries", "skew_salted_agg", "SKEW_SALTED_AGG_ORACLE"),
    ("relational_queries", "table_profile", "TABLE_PROFILE_ORACLE"),
    ("relational_queries", "data_expectations", "DATA_EXPECTATIONS_ORACLE"),
    ("llmops_queries", "corpus_mixture_sample", "CORPUS_MIXTURE_ORACLE"),
    ("temporal_queries", "interval_overlap_windows", "INTERVAL_OVERLAP_ORACLE"),
    ("relational_queries", "incremental_agg_retract", "INCREMENTAL_RETRACT_ORACLE"),
    ("relational_queries", "feature_rank_normalize", "FEATURE_RANK_ORACLE"),
    ("llmops_queries", "weighted_sample_docs", "WEIGHTED_SAMPLE_ORACLE"),
    # Round-6 registry swap: these three ceded their driver-board slots
    # to the corpus tier (duplicate_passages, incremental_agg_merge,
    # decontamination_overlap) and keep full parity here instead.
    ("llmops_queries", "dedup_ngram_jaccard", "NGRAM_JACCARD_ORACLE"),
    # Round-11 swap-out (slot ceded to stats_catalog_parity):
    ("llmops_queries", "train_val_test_split", "TRAIN_VAL_TEST_ORACLE"),
    ("llmops_queries", "training_shard_assignment", "TRAINING_SHARD_ORACLE"),
    # Round-13 swap-out (slot ceded to advised_join_parity; still
    # exercised end-to-end by clean_corpus_pipeline):
    ("llmops_queries", "dedup_exact", "DEDUP_EXACT_ORACLE"),
    ("relational_queries", "preprocess_rename_project_dropna", "PREPROCESS_RENAME_ORACLE"),
    ("relational_queries", "round_robin_synthetic_key", "ROUND_ROBIN_KEY_ORACLE"),
    ("relational_queries", "subquery_scalar_avg", "SUBQUERY_SCALAR_AVG_ORACLE"),
    ("llmops_queries", "leakage_safe_split", "LEAKAGE_SPLIT_ORACLE"),
    ("llmops_queries", "embedding_random_projection", "RANDOM_PROJECTION_ORACLE"),
    ("llmops_queries", "shard_mixing_quality", "SHARD_MIXING_ORACLE"),
    ("llmops_queries", "text_normalization_stats", "TEXT_NORMALIZATION_ORACLE"),
    ("llmops_queries", "temperature_mixture_budgets", "TEMPERATURE_MIXTURE_ORACLE"),
    ("llmops_queries", "dedup_keep_best_quality", "KEEP_BEST_QUALITY_ORACLE"),
    ("llmops_queries", "embedding_centroid_stats", "EMBEDDING_CENTROID_ORACLE"),
    ("relational_queries", "cohort_retention", "COHORT_RETENTION_ORACLE"),
    ("relational_queries", "funnel_conversion", "FUNNEL_ORACLE"),
    ("relational_queries", "event_anomaly_zscore", "ANOMALY_ZSCORE_ORACLE"),
    ("relational_queries", "join_skew_report", "JOIN_SKEW_ORACLE"),
    ("llmops_queries", "distribution_drift_psi", "DRIFT_PSI_ORACLE"),
    ("relational_queries", "q8_market_share", "Q8_MARKET_SHARE_ORACLE"),
    ("relational_queries", "q19_disjunctive_predicates", "Q19_DISJUNCTIVE_ORACLE"),
    ("temporal_queries", "resample_forward_fill", "RESAMPLE_FFILL_ORACLE"),
    ("llmops_queries", "hard_negatives_topk", "HARD_NEGATIVES_ORACLE"),
    ("llmops_queries", "pii_pseudonymize", "PSEUDONYMIZE_ORACLE"),
    # TPC-H completion tier (round 6): the remaining classic shapes,
    # adapted to the synthetic schema (see the section comment in
    # plans/relational_queries.py).
    ("relational_queries", "q2_min_cost_supplier", "Q2_MIN_COST_SUPPLIER_ORACLE"),
    ("relational_queries", "q4_order_priority", "Q4_ORDER_PRIORITY_ORACLE"),
    ("relational_queries", "q6_forecast_revenue", "Q6_FORECAST_REVENUE_ORACLE"),
    ("relational_queries", "q7_volume_shipping", "Q7_VOLUME_SHIPPING_ORACLE"),
    ("relational_queries", "q9_product_profit", "Q9_PRODUCT_PROFIT_ORACLE"),
    ("relational_queries", "q11_important_stock", "Q11_IMPORTANT_STOCK_ORACLE"),
    ("relational_queries", "q12_late_shipments", "Q12_LATE_SHIPMENTS_ORACLE"),
    ("relational_queries", "q13_customer_distribution", "Q13_CUSTOMER_DISTRIBUTION_ORACLE"),
    ("relational_queries", "q15_top_supplier", "Q15_TOP_SUPPLIER_ORACLE"),
    ("relational_queries", "q16_supplier_part_count", "Q16_SUPPLIER_PART_COUNT_ORACLE"),
    ("relational_queries", "q17_small_qty_revenue", "Q17_SMALL_QTY_REVENUE_ORACLE"),
    ("relational_queries", "q18_large_volume_customer", "Q18_LARGE_VOLUME_CUSTOMER_ORACLE"),
    ("relational_queries", "q20_excess_suppliers", "Q20_EXCESS_SUPPLIERS_ORACLE"),
    ("relational_queries", "q21_waiting_suppliers", "Q21_WAITING_SUPPLIERS_ORACLE"),
    ("relational_queries", "q22_global_sales", "Q22_GLOBAL_SALES_ORACLE"),
    # Round-6 second extension batch.
    ("llmops_queries", "inverted_index_postings", "INVERTED_INDEX_ORACLE"),
    ("relational_queries", "set_ops_all_variants", "SET_OPS_ALL_ORACLE"),
    ("temporal_queries", "sensor_gap_report", "SENSOR_GAP_ORACLE"),
    ("temporal_queries", "state_change_compress", "STATE_CHANGE_ORACLE"),
    ("relational_queries", "window_value_functions", "WINDOW_VALUE_FUNCTIONS_ORACLE"),
    ("relational_queries", "array_functions_suite", "ARRAY_FUNCTIONS_ORACLE"),
    ("relational_queries", "null_semantics", "NULL_SEMANTICS_ORACLE"),
    ("llmops_queries", "minhash_lsh_recall", "MINHASH_LSH_RECALL_ORACLE"),
    ("temporal_queries", "ohlc_bars", "OHLC_BARS_ORACLE"),
    ("relational_queries", "stat_moments", "STAT_MOMENTS_ORACLE"),
    # Round-6 second registry swap: these three ceded their driver-board
    # slots to boilerplate_line_dedup / bigram_logprob_score / cdc_chunking.
    ("relational_queries", "pivot_event_values", "PIVOT_EVENT_VALUES_ORACLE"),
    ("relational_queries", "scalar_functions", "SCALAR_FUNCTIONS_ORACLE"),
    ("relational_queries", "json_extraction", "JSON_EXTRACTION_ORACLE"),
    ("temporal_queries", "resample_linear_interp", "RESAMPLE_INTERP_ORACLE"),
    ("relational_queries", "explode_outer_semantics", "EXPLODE_OUTER_ORACLE"),
    ("relational_queries", "try_arithmetic", "TRY_ARITHMETIC_ORACLE"),
    ("llmops_queries", "token_entropy", "TOKEN_ENTROPY_ORACLE"),
    ("llmops_queries", "zipf_fit", "ZIPF_FIT_ORACLE"),
    ("relational_queries", "histogram_quantiles", "HISTOGRAM_QUANTILES_ORACLE"),
    # Round-8 registry swap: table_checksum_digest took map_explode_props'
    # driver-board slot (64 digest rows hash harder than a 3-row key agg).
    ("relational_queries", "map_explode_props", "MAP_EXPLODE_PROPS_ORACLE"),
    ("relational_queries", "time_functions", "TIME_FUNCTIONS_ORACLE"),
    # Round-8 additions.
    ("llmops_queries", "pii_redaction", "PII_REDACTION_ORACLE"),
    ("relational_queries", "variant_json_path", "VARIANT_JSON_PATH_ORACLE"),
    # Round-9 registry swap: stat_correlations took q14_promo_revenue's
    # driver-board slot (3 groups x 8 float stats hash harder than one
    # scalar ratio row).
    ("relational_queries", "q14_promo_revenue", "Q14_PROMO_REVENUE_ORACLE"),
]


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


# ---- Test tiers (r14) -------------------------------------------------
# The full suite outgrew the driver's verify window (~1h20m solo;
# VERIFY_r13 captured it truncated at ~52% with zero failures => the
# round's only red signal). pytest.ini deselects `slow` by default;
# `-m slow` runs the deep tier, `-m ""` runs everything. Tier policy:
# - SLOW_FILES: whole suites that are randomized/model/property
#   simulators by design — every semantic they pin is also pinned by a
#   targeted test in the default tier.
# - SLOW_TESTS: individual tests that measured >=12s in a 4-way
#   per-file sweep of the whole suite (times in /tmp archived to
#   plans/r14/evidence/test_durations.txt). Oracle parity
#   (test_queries_vs_duckdb), the plan-quality sweeps, the advice-fix
#   regression pins, and the advised-join suite are exempt no matter
#   their cost: they are the correctness gates the default tier exists
#   to keep.
SLOW_FILES = {
    "test_differential_fuzz.py",
    "test_corpus_property.py",
    "test_scd_property.py",
    "test_temporal_property.py",
    "test_manifest_model.py",
    "test_schema_evolution_model.py",
}

SLOW_TESTS = {
    "test_ann_index.py::test_persisted_index_matches_inline_operator",
    "test_auto_maintenance.py::test_cdc_apply_with_maintenance_converges",
    "test_auto_maintenance.py::test_ingest_with_auto_maintenance_bounded_and_exact",
    "test_bloom_skipping.py::test_appends_record_blooms_for_the_key",
    "test_bloom_skipping.py::test_point_delete_prunes_to_the_true_file",
    "test_bloom_skipping.py::test_point_merge_prunes_and_matches_semantics",
    "test_concurrency.py::test_append_rebases_with_merge_dv_compaction_and_append",
    "test_concurrency.py::test_bulk_rewrite_whole_table_intent_conflicts_everything",
    "test_concurrency.py::test_committed_targeted_delete_rebases_and_conflicts",
    "test_concurrency.py::test_compaction_interleaves_with_disjoint_merge",
    "test_concurrency.py::test_disjoint_merges_rebase_to_union",
    "test_concurrency.py::test_dv_delete_rebases_and_rewrite_vs_dv_conflicts",
    "test_concurrency.py::test_overlapping_merges_fail_loudly_and_recover",
    "test_concurrency.py::test_randomized_disjoint_writer_pairs",
    "test_concurrency.py::test_retry_exhaustion_fails_loudly_and_recovers",
    "test_corpus_build_e2e.py::test_full_corpus_build_is_deterministic",
    "test_corpus_ingest.py::test_end_to_end_ingest_with_dedup_across_runs",
    "test_crash_recovery.py::test_concurrent_snapshot_claim_loses_loudly_then_recovers",
    "test_crash_recovery.py::test_recover_after_partial_append",
    "test_crash_recovery.py::test_recover_after_partial_targeted_rewrite",
    "test_deletion_vectors.py::test_dv_delete_is_logical_and_time_travels",
    "test_deletion_vectors.py::test_rewrites_never_resurrect_and_materialize_the_vector",
    "test_expectations.py::test_approx_unique_tracks_exact_within_rsd",
    "test_fault_tolerance.py::test_results_survive_task_retry",
    "test_incremental.py::test_matches_exact_anti_join",
    "test_incremental.py::test_property_equivalence_with_left_anti",
    "test_lakehouse_ingest.py::test_batch_replay_is_a_noop",
    "test_lakehouse_ingest.py::test_ingest_coexists_with_concurrent_merge",
    "test_lakehouse_ingest.py::test_stream_appends_exactly_once_across_restart",
    "test_llmops.py::test_connected_components_chain_and_islands",
    "test_llmops.py::test_lsh_ann_recall_vs_bruteforce",
    "test_log_compaction.py::test_cdc_feed_across_compacted_log",
    "test_log_compaction.py::test_cdc_feed_by_timestamp",
    "test_log_compaction.py::test_clone_from_compacted_version",
    "test_log_compaction.py::test_compact_log_bulk_rewrite_is_natural_keyframe",
    "test_log_compaction.py::test_compact_log_idempotent_then_writers_continue",
    "test_log_compaction.py::test_compact_log_preserves_every_snapshot",
    "test_log_compaction.py::test_maintenance_plan_and_run_execute_compact_log",
    "test_log_compaction.py::test_vacuum_materializes_stranded_chains",
    "test_log_compaction.py::test_vacuum_time_based_retention",
    "test_logstore.py::test_all_commit_paths_route_through_the_store",
    "test_logstore.py::test_disjoint_merges_union_under_both_stores",
    "test_logstore.py::test_swept_claims_release_under_external_store",
    "test_manifest.py::test_clone_snapshot_shallow_and_deep",
    "test_manifest.py::test_maintenance_plan_rules",
    "test_manifest.py::test_merge_bulk_matches_targeted_semantics",
    "test_manifest.py::test_spark_side_zone_map_pruning_string_and_date_keys",
    "test_manifest.py::test_table_health_metrics",
    "test_manifest.py::test_zone_map_pruning_scales_to_cdc_size_key_batches",
    "test_manifest_stats.py::test_commits_record_column_stats",
    "test_manifest_stats.py::test_metadata_only_answers",
    "test_manifest_stats.py::test_stats_survive_restore_and_time_travel",
    "test_manifest_stats.py::test_typed_keys_through_the_stats_path",
    "test_manifest_stats.py::test_zone_maps_come_from_the_log_without_footer_io",
    "test_matview.py::test_auto_mode_picks_full_for_bulk_churn_and_delta_for_targeted",
    "test_matview.py::test_composite_keys_and_null_key_contract",
    "test_matview.py::test_crash_mid_refresh_recovers_and_converges",
    "test_matview.py::test_create_and_read_matches_direct_aggregate",
    "test_matview.py::test_delta_mode_equals_recompute_mode",
    "test_matview.py::test_distinct_view_exact_folds_and_retracts",
    "test_matview.py::test_distinct_view_sketch_folds_inserts_recomputes_deletes",
    "test_matview.py::test_filtered_view_tracks_rows_moving_across_the_predicate",
    "test_matview.py::test_multi_value_column_view",
    "test_matview.py::test_randomized_churn_converges_every_step",
    "test_matview.py::test_recompute_view_percentiles_under_churn",
    "test_matview.py::test_refresh_recompute_tracks_churn_and_is_idempotent",
    "test_matview.py::test_streaming_maintenance_and_checkpoint_resume",
    "test_matview.py::test_streaming_maintenance_of_distinct_view",
    "test_matview.py::test_verify_unique_checks_view_against_source",
    "test_merge_skew.py::test_delete_bulk_salted_final_state_equals_unsalted",
    "test_merge_skew.py::test_insert_only_merge_skips_candidate_machinery",
    "test_merge_skew.py::test_merge_bulk_salted_final_state_equals_unsalted",
    "test_merge_skew.py::test_skew_salts_from_the_log",
    "test_multimodal_codec.py::test_spark_fallback_and_hard_require",
    "test_ndv_stats.py::test_advice_is_metadata_only",
    "test_ndv_stats.py::test_sketches_recorded_and_merge_within_hll_error",
    "test_parquet_bloom.py::test_bulk_rewrite_carries_native_blooms_when_saturated",
    "test_parquet_bloom.py::test_merge_rewrite_keeps_native_blooms",
    "test_parquet_bloom.py::test_native_blooms_cut_point_delete_to_one_file",
    "test_partition_evolution.py::test_maintenance_advises_migration_and_respec_migrates",
    "test_partition_evolution.py::test_mixed_era_time_range_prunes_and_matches",
    "test_partition_evolution.py::test_new_writes_land_hourly_old_dirs_stay",
    "test_partitioned_lakehouse.py::test_partitioned_bulk_merge_and_delete",
    "test_partitioned_lakehouse.py::test_partitioned_change_feeds_carry_partition_columns",
    "test_partitioned_lakehouse.py::test_partitioned_merge_updates_inserts_and_moves_rows",
    "test_partitioned_lakehouse.py::test_partitioned_op_sequences_match_reference_model",
    "test_partitioned_lakehouse.py::test_rewrite_partition_optimizes_one_directory",
    "test_pipeline_txn.py::test_batches_publish_pair_atomically_and_replay_skips",
    "test_pipeline_txn.py::test_crash_windows_converge_exactly_once",
    "test_pipeline_txn.py::test_streaming_query_end_to_end",
    "test_quality_model.py::test_classifier_separates_heldout_junk_from_text",
    "test_quality_model.py::test_model_save_load_roundtrip",
    "test_reconcile.py::test_reconcile_finds_exact_row_diffs",
    "test_restore.py::test_restore_across_schema_change_clears_the_pin",
    "test_restore.py::test_restore_by_timestamp",
    "test_restore.py::test_restore_guards",
    "test_restore.py::test_restore_is_metadata_only",
    "test_restore.py::test_restore_on_partitioned_table",
    "test_restore.py::test_restore_realigns_directory_and_writers_continue",
    "test_restore.py::test_restore_rolls_back_as_new_commit",
    "test_schema_evolution.py::test_add_column_is_metadata_only_and_time_travel_keeps_old_schema",
    "test_schema_evolution.py::test_change_feeds_span_the_evolution",
    "test_schema_evolution.py::test_drop_column_is_metadata_only_with_resurrection_guard",
    "test_schema_evolution.py::test_rename_column_reads_and_key_guard",
    "test_schema_evolution.py::test_replication_carries_evolution_across_restart",
    "test_schema_evolution.py::test_replication_follows_type_widening",
    "test_sketches.py::test_property_guarantee_on_random_distributions",
    "test_sql_commands.py::test_delete_in_list_equals_targeted_delete",
    "test_sql_commands.py::test_insert_values_and_select_equal_append_snapshot",
    "test_sql_commands.py::test_merge_into_equals_merge_upsert",
    "test_sql_commands.py::test_optimize_equals_compact_snapshot",
    "test_sql_commands.py::test_select_version_as_of_reads_pre_merge_snapshot",
    "test_sql_commands.py::test_sql_transaction_raw_agg_atomic_pair",
    "test_sql_commands.py::test_sql_transaction_takes_update_and_insert",
    "test_streaming.py::test_stream_end_to_end",
    "test_struct_evolution.py::test_rename_struct_field_coalesces_across_eras",
    "test_table_changes.py::test_cdf_replication_loop",
    "test_table_changes.py::test_replicate_table_stream_end_to_end",
    "test_tags.py::test_tag_create_resolve_drop",
    "test_tags.py::test_tag_vacuum_random_interleavings",
    "test_tags.py::test_tagged_version_is_vacuum_exempt",
    "test_tokenizer.py::test_train_bpe_matches_reference_on_corpus",
    "test_txn.py::test_reference_flow_publishes_both_atomically",
    "test_txn_threading.py::test_other_threads_commit_publishes_not_stages",
    "test_unicode_parity.py::test_kernel_matches_expressions_on_unicode_battery",
}


def pytest_addoption(parser):
    parser.addoption(
        "--slow-slice",
        metavar="I/N",
        help="keep only the slow-tier tests whose crc32(nodeid) %% N == I "
        "(run one slice with: pytest tests/ -m slow --slow-slice I/N)",
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = item.name.split("[", 1)[0]
        if fname in SLOW_FILES or f"{fname}::{base}" in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    spec = config.getoption("--slow-slice")
    if not spec:
        return
    i, n = (int(x) for x in spec.split("/"))
    if not 0 <= i < n:
        raise pytest.UsageError(f"--slow-slice {spec}: need 0 <= I < N")
    keep, drop = [], []
    for item in items:
        other = item.get_closest_marker("slow") and zlib.crc32(item.nodeid.encode()) % n != i
        (drop if other else keep).append(item)
    if drop:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep
