from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------
# Slow tier (r15, VERDICT item 3): the full suite grew to 862 tests /
# ~68-80 min, which exceeds the round driver's verify window — an
# unverifiable suite protects nothing (VERIFY_r14 recorded
# tests_ok:false with the run cut at ~1/3). The tests below are the
# measured long tail (each >= ~6 s; together ~3,600 s of the ~4,900 s
# full-suite wall) — property/stress/e2e variants whose components
# keep cheaper functional tests and/or exact-oracle comparisons in the
# default tier (tests/test_oracle_diff.py runs ALL 111 queries against
# DuckDB and stays default). They still run — opt in with:
#
#   SPARK_GRAFT_RUN_SLOW=1 python -m pytest tests/
#
# or name one by node id (python -m pytest tests/test_x.py::test_y).
# tests/test_slow_tier.py checks that every key names a real test.
#
# Durations source: /tmp full-suite run 2026-08-18 (pytest
# --durations); re-measure before editing this list.
# ---------------------------------------------------------------------
SLOW_TIER = frozenset(
    [
        "test_add_column.py::test_add_column_metadata_only",
        "test_add_column.py::test_add_column_refusals",
        "test_add_column.py::test_add_column_sql_ddl",
        "test_add_column.py::test_add_column_then_write_and_update",
        "test_add_column.py::test_delete_predicates_over_added_column",
        "test_advice_r11.py::test_library_insert_pred_paths",
        "test_advice_r11.py::test_merge_clauses_cdc_scope_unchanged",
        "test_advice_r11.py::test_merge_into_duplicate_clause_semantics",
        "test_advice_r11.py::test_sql_conditional_delete_unmatched_row_inserts",
        "test_advice_r11.py::test_sql_conditional_not_matched_insert",
        "test_advice_r12.py::test_table_ordered_merge_takes_broadcast_plan",
        "test_asof.py::test_asof_forward_matches_pandas",
        "test_asof.py::test_asof_matches_pandas_merge_asof",
        "test_bench_regression.py::test_headline_query_within_2x_of_anchor",
        "test_catalog.py::test_merge_through_writable_backends",
        "test_catalog.py::test_same_pipeline_any_backend",
        "test_cc_star.py::test_star_converges_logarithmically_on_chain",
        "test_cc_star.py::test_star_equals_propagation_on_clusters",
        "test_cdf.py::test_cdf_cow_delete_and_mor_delete_semantics",
        "test_cdf.py::test_cdf_exactly_once_cascade_across_restart",
        "test_cdf.py::test_cdf_partition_values_and_renamed_columns",
        "test_cdf.py::test_cdf_restart_resumes_from_checkpoint_not_start",
        "test_cdf.py::test_cdf_streams_history_then_increments",
        "test_cdf.py::test_classify_updates_does_not_pair_across_commits",
        "test_cdf.py::test_classify_updates_four_change_types",
        "test_cdf.py::test_classify_updates_invariant_over_many_commits",
        "test_cdf.py::test_classify_updates_suppress_false_keeps_self_pairs",
        "test_cdf.py::test_commit_timestamp_column",
        "test_cdf.py::test_suppress_unchanged_cancels_compaction_noise",
        "test_cli.py::test_table_delete_keys_cli",
        "test_cli.py::test_table_subcommands",
        "test_clone.py::test_clone_reads_prune_through_every_tier",
        "test_clone.py::test_copy_on_write_divergence",
        "test_convert.py::test_convert_refusals",
        "test_convert.py::test_convert_unpartitioned_and_writes_compose",
        "test_copy_into.py::test_changed_file_refuses_force_reloads",
        "test_copy_into.py::test_guarded_and_partitioned_copy",
        "test_copy_into.py::test_load_then_idempotent_rerun",
        "test_dedup_cap.py::test_cap_bounds_candidate_fanout",
        "test_dedup_cap.py::test_connected_components_raises_on_nonconvergence",
        "test_dsir.py::test_every_raw_doc_scored_once",
        "test_dsir.py::test_resample_is_top_k_by_gumbel_key",
        "test_dsir.py::test_scores_invariant_to_partitioning",
        "test_explain_dml.py::test_explain_update_allmatch_proved",
        "test_fused_writes.py::test_ds_writer_refuses_unvetted_predicate_at_plan_time",
        "test_fused_writes.py::test_fused_update_merge_and_partitioned_routes",
        "test_http_transport.py::test_end_to_end_fetch_quarantine",
        "test_ivf.py::test_embed_ivf_search_query_matches_trained_twin",
        "test_ivf.py::test_ivf_append_serves_new_vectors_without_rewriting_lists",
        "test_ivf.py::test_ivf_index_deterministic_across_sessions",
        "test_ivf.py::test_ivf_persisted_index_matches_and_prunes",
        "test_ivf.py::test_ivf_search_staleness_enforced",
        "test_ivfpq.py::test_append_into_legacy_index_keeps_one_schema",
        "test_ivfpq.py::test_append_serves_new_vectors_and_staleness_enforces",
        "test_ivfpq.py::test_argument_contracts",
        "test_ivfpq.py::test_build_and_search_deterministic",
        "test_ivfpq.py::test_clustered_corpus_purity_and_reranked_recall",
        "test_ivfpq.py::test_plans_stay_jvm_side",
        "test_ivfpq.py::test_pq_append_and_staleness",
        "test_ivfpq.py::test_search_scans_only_probed_lists",
        "test_kth_smallest.py::test_narrow_range_single_pass",
        "test_manifest_source.py::test_cdf_to_stream_sink_cascade",
        "test_manifest_source.py::test_round_trip_equals_snapshot",
        "test_manifest_source.py::test_stream_sink_guarded_tables",
        "test_manifest_source.py::test_stream_writer_exactly_once",
        "test_manifest_source.py::test_writer_append_overwrite_round_trip",
        "test_manifest_source.py::test_writer_renamed_table_append_matches_library",
        "test_merge_evolution.py::test_ordered_clauses_evolution",
        "test_merge_evolution.py::test_sql_with_schema_evolution_both_routes",
        "test_merge_ordered.py::test_merge_ordered_model_equivalence",
        "test_merge_ordered.py::test_merge_ordered_random_stack_model_equivalence",
        "test_merge_ordered.py::test_sql_multi_clause_statement_routes_ordered",
        "test_merge_ordered.py::test_sql_update_before_unconditional_delete",
        "test_merge_property.py::test_merge_clauses_gated_insert_model",
        "test_merge_property.py::test_merge_clauses_model_equivalence",
        "test_merge_property.py::test_merge_idempotent_and_key_union",
        "test_packing_property.py::test_pack_equals_global_window",
        "test_packing_property.py::test_pack_materializes_input_once",
        "test_packing_property.py::test_snapshot_where_any_of_equals_brute_or",
        "test_packing_property.py::test_snapshot_where_equals_brute_filter",
        "test_packing_property.py::test_snapshot_where_equals_brute_filter_after_rename",
        "test_partition_evolution.py::test_alter_spec_is_metadata_only_and_reads_mix",
        "test_plan_distributed.py::test_read_manifest_table_preplans_past_the_plan_worker",
        "test_pq.py::test_adc_is_exact_table_lookup",
        "test_pq.py::test_adc_on_clustered_corpus",
        "test_pq.py::test_adc_property_random_corpora",
        "test_pq.py::test_codes_persist_packed_binary",
        "test_pq.py::test_persisted_index_matches_trained_twin",
        "test_pq.py::test_plans_stay_jvm_side",
        "test_pq.py::test_pq_encode_shape_and_determinism",
        "test_pq.py::test_rerank_recall_on_real_embeddings",
        "test_rename.py::test_compact_and_diff_after_rename",
        "test_rename.py::test_overwrite_clears_mapping_and_restore_restores_it",
        "test_rename.py::test_rename_guards",
        "test_replace_where.py::test_constraints_validate_incoming",
        "test_replace_where.py::test_empty_match_is_scoped_insert",
        "test_replace_where.py::test_out_of_scope_rows_refuse",
        "test_replace_where.py::test_partial_file_rewrite",
        "test_replace_where.py::test_partition_recompute_carries_untouched",
        "test_replace_where.py::test_replace_where_inside_sql_transaction",
        "test_replace_where.py::test_spec_form_replace_plans_from_metadata",
        "test_replace_where.py::test_sql_replace_where_and_insert_overwrite",
        "test_review_r12.py::test_catalog_show_tables_and_drop_guard",
        "test_review_r12.py::test_default_lifecycle_follows_column",
        "test_review_r12.py::test_manifest_protocol_refusals",
        "test_review_r12.py::test_select_preserves_user_views_and_scoping",
        "test_review_r12.py::test_select_sanitize_collision_stays_distinct",
        "test_semantic_dedup.py::test_every_input_row_reported_once",
        "test_semantic_dedup.py::test_identical_vectors_keep_min_id",
        "test_sinks.py::test_append_then_overwrite_roundtrip",
        "test_sinks.py::test_overwrite_partitions_touches_only_batch_partitions",
        "test_skipping_property.py::test_twin_routes_count_like_a_scan",
        "test_skew.py::test_exact_group_percentiles_matches_builtin",
        "test_sources.py::test_fetch_and_decode",
        "test_sql.py::test_dml_route_matches_library_route",
        "test_sql.py::test_execute_dml_insert_into",
        "test_sql.py::test_execute_dml_merge_into",
        "test_sql.py::test_execute_dml_update_and_delete",
        "test_sql.py::test_truncate_and_describe_statements",
        "test_streaming.py::test_restart_resumes_from_checkpoint_exactly_once",
        "test_streaming.py::test_stream_stream_interval_join_matches_batch",
        "test_streaming.py::test_upsert_stream_sink_converges_to_batch",
        "test_streaming_dedup.py::test_incremental_dedup_sink_end_to_end",
        "test_streaming_dedup.py::test_sink_auto_compaction_cadence",
        "test_streaming_rocksdb.py::test_rate_source_stateful_agg_on_rocksdb",
        "test_table.py::test_check_constraints_enforced_on_every_write_shape",
        "test_table.py::test_commit_conflict_retry_two_writers",
        "test_table.py::test_compact_small_files_rewrites_only_slivers",
        "test_table.py::test_manifest_checkpointing_bounds_open_cost",
        "test_table.py::test_mor_delete_partition_values_with_special_chars",
        "test_table.py::test_mor_delete_partitioned_no_basename_collision",
        "test_table.py::test_mor_dv_application_is_broadcast_anti_join",
        "test_table.py::test_mor_fully_dead_file_skipped_at_read",
        "test_table.py::test_mor_inline_then_sidecar_accumulation",
        "test_table.py::test_snapshot_where_agrees_with_filter_on_edge_predicates",
        "test_table.py::test_temporal_unit_mismatch_probes_never_prune",
        "test_table.py::test_upsert_stream_sink_manifest_cdc_deletes",
        "test_table.py::test_vacuum_materializes_oldest_retained_delta",
        "test_table.py::test_write_stats_computed_off_driver",
        "test_table.py::test_zorder_compact_skips_on_every_dimension",
        "test_update.py::test_manifest_merge_clause_validates_rewritten_rows",
        "test_update.py::test_merge_clauses_cross_branch_duplicate_key_raises",
        "test_update.py::test_merge_clauses_expression_set",
        # --- second batch (same measured basis, next-heaviest tier):
        # deliberately KEPT default despite their cost: test_oracle_diff
        # (all-111 oracle), test_ivf recall + broadcast-bit-identity
        # (rows-only query pins), manifest pushdown exactness.
        "test_add_column.py::test_add_and_drop_one_commit",
        "test_advice_r12.py::test_small_source_plan_broadcasts_and_matches_full_outer",
        "test_advice_r13.py::test_create_table_col_defs_is_one_atomic_commit",
        "test_incremental_dedup.py::test_absorb_makes_next_batch_dedup_against_survivors",
        "test_incremental_dedup.py::test_short_docs_always_survive",
        "test_kth_smallest.py::test_duplicates_counted",
        "test_kth_smallest.py::test_matches_sorted_reference",
        "test_lang_id.py::test_planted_cjk_docs_predict_their_language",
        "test_lm_scores.py::test_partitioning_invariance",
        "test_manifest_source.py::test_writer_guarded_constrained_append_and_overwrite",
        "test_manifest_source.py::test_writer_partitioned_append_matches_library",
        "test_manifest_source.py::test_writer_partitioned_append_raw_bucket_null_and_escaping",
        "test_manifest_source.py::test_writer_refusals",
        "test_merge_evolution.py::test_identity_list_evolves_new_column",
        "test_merge_evolution.py::test_untouched_files_carry_by_reference",
        "test_merge_ordered.py::test_sql_target_side_delete_pred_routes_ordered",
        "test_plan_distributed.py::test_files_df_empty_version_and_lazy_delta_chain",
        "test_plan_distributed.py::test_lazy_plan_applies_delta_chain",
        "test_plan_distributed.py::test_preplanned_reads_reuse_content_hashed_plan_files",
        "test_plan_distributed.py::test_snapshot_where_lazy_plans_from_sidecar",
        "test_streaming.py::test_hourly_counts_stream_matches_batch",
        "test_streaming.py::test_running_user_totals_converges_to_batch",
        "test_streaming.py::test_session_stream_matches_batch",
        "test_streaming.py::test_stream_dedup_within_watermark",
        "test_table.py::test_delete_where_merge_on_read_deletion_vectors",
        "test_table.py::test_mor_deletes_do_not_resurrect_through_merge_or_compact",
        "test_table.py::test_upsert_stream_sink_manifest",
        "test_zorder_property.py::test_zorder_second_dimension_no_looser_than_lexicographic",
    ]
)


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_RUN_SLOW") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier — opt in with SPARK_GRAFT_RUN_SLOW=1"
    )
    # a test named by node id on the command line runs even when slow:
    # asking for it by name is opting in
    explicit = {_slow_key(a) for a in config.args if "::" in a}
    for item in items:
        key = _slow_key(item.nodeid)
        if key in SLOW_TIER and key not in explicit:
            item.add_marker(skip)


def _slow_key(nodeid: str) -> str | None:
    """``tests/test_x.py::test_y[param]`` → ``test_x.py::test_y`` (the
    SLOW_TIER key form); None for a node id without a function."""
    base = nodeid.split("::", 1)
    if len(base) != 2:
        return None
    return os.path.basename(base[0]) + "::" + base[1].split("[")[0]


_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_TESTS = os.path.join(_REPO, "tests")
# executor python workers must be able to import the repo package and
# the test modules whose closures ship to them (mapInPandas transports)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in [_REPO, _TESTS, os.environ.get("PYTHONPATH", "")] if p
)


@pytest.fixture(scope="session")
def spark():
    from etl_job_spark.session import get_spark

    spark = get_spark("etl-job-spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
