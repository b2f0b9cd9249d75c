from __future__ import annotations

import os

import pytest

from selium_spark import StreamCatalog, get_spark
from selium_spark.sources.tables import TABLES

SF_DIR = os.environ.get("SELIUM_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_ORACLE_DIR = os.environ.get("SELIUM_ORACLE_SF_DIR", "/root/testdata/sf0.01")

#: Fast-default test selection (r13, r12 verdict task #1): the full
#: suite outgrew the driver's verify wall budget (558 tests, 37 min on
#: the r12 box — the driver's run was cut off mid-suite), so the
#: slowest integration/property tests (measured call time >= 5 s at
#: sf0.001; ~640 of ~1350 suite seconds across 57 of 558 tests) are
#: DESELECTED by default and run with ``SELIUM_TESTS=full pytest
#: tests/``. The default set keeps every test under 5 s — including
#: the full 209-query suite smoke (every graded query still executes)
#: — so the fast gate still exercises every operator; what moves out
#: is redundant-with-oracle parity depth, not coverage. The builder's
#: round-end gate runs the FULL set (see OPTIMIZATION_r13.md §1).
SLOW_TESTS = {
    ("test_operators.py", "test_asof_join_keyless_bucketed"),
    ("test_operators.py", "test_asof_join_matches_pandas_merge_asof"),
    ("test_operators.py", "test_dhash_hamming_star_and_drop_overflow"),
    ("test_operators.py", "test_embedding_neardup_banded_default_matches_exact"),
    ("test_operators.py", "test_expect_unique_approx_composes_with_other_rules"),
    ("test_operators.py", "test_robust_zscore_spread_path_parity"),
    ("test_operators.py", "test_simhash_xxhash64_fast_path_same_groups"),
    ("test_operators.py", "test_text_pin_escape_hatch"),
    ("test_operators.py", "test_triangle_count_orientation_vs_id_order"),
    ("test_plans.py", "test_no_accidental_cartesian_in_any_suite_query"),
    ("test_properties.py", "test_asof_join_matches_bruteforce"),
    ("test_properties.py", "test_chunking_covers_all_tokens_with_exact_overlap"),
    ("test_properties.py", "test_jaccard_bounds_and_identity"),
    ("test_properties.py", "test_lsh_identical_docs_always_candidates"),
    ("test_properties.py", "test_rolling_features_match_bruteforce_frames"),
    ("test_properties.py", "test_scd2_matches_bruteforce_runs"),
    ("test_recovery.py", "test_dedup_index_epoch_write_replay_is_idempotent"),
    ("test_recovery.py", "test_streaming_dedup_index_across_batches"),
    ("test_scale_ops.py", "test_compact_merges_small_files_range_sorted"),
    ("test_scale_ops.py", "test_ivfpq_codebook_kmeans_trains_and_beats_toy"),
    ("test_scale_ops.py", "test_ivfpq_index_partition_pruning"),
    ("test_scale_ops.py", "test_pq_encode_stateless_matches_grouped"),
    ("test_scale_ops.py", "test_stream_ops_interval_join_runs"),
    ("test_scale_ops.py", "test_stream_ops_streaming_session_runs"),
    ("test_scale_ops.py", "test_stream_replay_metrics_machinery"),
    ("test_streaming.py", "test_latest_enrich_state_ttl_evicts_quiet_keys"),
    ("test_streaming.py", "test_request_reply_rtt_measured"),
    ("test_streaming.py", "test_streaming_cusum_alarms_only_rescinds"),
    ("test_streaming.py", "test_streaming_cusum_late_rows_counted_and_dropped"),
    ("test_streaming.py", "test_streaming_cusum_matches_batch_closed_form"),
    ("test_streaming.py", "test_streaming_ewma_matches_batch_fold"),
    ("test_streaming.py", "test_streaming_fold_null_keys_dropped_and_counted"),
    ("test_streaming.py", "test_streaming_funnel_abandonment_timeout"),
    ("test_streaming.py", "test_streaming_gapfill_interp_reemits_holes_on_winner_change"),
    ("test_streaming.py", "test_streaming_gapfill_quiet_key_emits_holes_via_timeout"),
    ("test_streaming.py", "test_streaming_gapfill_week_grain_matches_batch"),
    ("test_streaming.py", "test_streaming_last_touch_same_ts_cross_batch_tiebreak"),
    ("test_streaming.py", "test_streaming_lsh_pairs_chunked_and_star_overflow"),
    ("test_streaming.py", "test_streaming_multi_touch_late_conversion_metered"),
    ("test_streaming.py", "test_streaming_multi_touch_weights_synthetic"),
    ("test_training_ops.py", "test_bpe_matches_python_reference"),
    ("test_training_ops.py", "test_bpe_train_merges_hand_example"),
    ("test_training_ops.py", "test_bpe_train_stops_when_no_pairs_left"),
    ("test_training_ops.py", "test_ivfpq_centroid_argmax_tie_breaks_to_smaller_id"),
    ("test_training_ops.py", "test_ivfpq_pipeline_and_stateless_parity"),
    ("test_training_ops.py", "test_simhash_hamming_star_connectivity_equivalent"),
    # 3.5-5 s band (second trim for driver-budget margin). Guards that
    # cover round-13 changes stay in the default set regardless of
    # cost: index-write auto-salt + partition pruning, last-touch
    # batch parity + runner-up exactness, dsir production path.
    ("test_engine_extras.py", "test_log_stream_records_progress"),
    ("test_operators.py", "test_asof_join_directions"),
    ("test_operators.py", "test_asof_join_latest_wins"),
    ("test_operators.py", "test_expect_unique_approx_xxhash64_production_path"),
    ("test_operators.py", "test_gapfill_interp_linear_fill_and_multi_period_gaps"),
    ("test_operators.py", "test_lsh_xxhash64_fast_path_same_recall"),
    ("test_operators.py", "test_perceptual_dhash_pairs_identical_payloads"),
    ("test_operators.py", "test_robust_zscore_gate_warns_only_when_unpinned"),
    ("test_scale_ops.py", "test_kmeans_centroids_improve_clustering"),
    ("test_scale_ops.py", "test_minmax_normalize_bounds_and_constant_dims"),
    ("test_scale_ops.py", "test_minmax_normalize_rejects_ragged_input"),
    ("test_skew.py", "test_star_edges_same_components_as_pairs"),
    ("test_streaming.py", "test_stream_dq_production_estimators"),
    ("test_streaming.py", "test_stream_stream_join_with_watermarks"),
    ("test_streaming.py", "test_streaming_funnel_late_rows_counted"),
    ("test_streaming.py", "test_streaming_gapfill_late_rows_counted_and_dropped"),
    ("test_streaming.py", "test_streaming_lsh_pairs_cap_semantics"),
    ("test_training_ops.py", "test_bpe_apply_greedy_and_exhaustion"),
    ("test_training_ops.py", "test_simhash_hamming_pairs_matches_brute_force"),
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SELIUM_TESTS", "fast").lower() == "full":
        return
    keep, dropped = [], []
    for item in items:
        fname = os.path.basename(item.location[0].replace("\\", "/"))
        base = item.name.split("[")[0]
        if (fname, base) in SLOW_TESTS or item.get_closest_marker("slow"):
            dropped.append(item)
        else:
            keep.append(item)
    if dropped:
        config.hook.pytest_deselected(items=dropped)
        items[:] = keep


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: deselected from the default fast set; run with SELIUM_TESTS=full",
    )


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="selium_spark_tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def catalog(spark):
    cat = StreamCatalog(spark)
    cat.register_testdata(SF_DIR)
    return cat


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    return con


def assert_df_matches_duck(spark_df, duck_con, sql, round_decimals=9):
    """Order-insensitive compare of a Spark DataFrame vs a DuckDB query
    (the driver's correctness-gate protocol: sorted rows, columns sorted
    by name, doubles rounded)."""
    import math

    cols = sorted(spark_df.columns)
    s_rows = [tuple(r[c] for c in cols) for r in spark_df.collect()]
    d_df = duck_con.sql(sql).df()
    assert sorted(cols) == sorted(d_df.columns.tolist()), (
        f"column mismatch: spark={sorted(spark_df.columns)} duck={sorted(d_df.columns.tolist())}"
    )
    d_rows = [tuple(row[c] for c in cols) for _, row in d_df.iterrows()]

    def canon(rows):
        out = []
        for row in rows:
            vals = []
            for v in row:
                if isinstance(v, float):
                    if math.isnan(v):
                        vals.append("nan")
                    else:
                        vals.append(round(v, round_decimals))
                elif hasattr(v, "isoformat"):
                    vals.append(v.isoformat())
                elif isinstance(v, (list, tuple)):
                    vals.append(tuple(v))
                else:
                    vals.append(v)
            out.append(tuple(vals))
        return sorted(out, key=repr)

    sc, dc = canon(s_rows), canon(d_rows)
    assert len(sc) == len(dc), f"row count: spark={len(sc)} duck={len(dc)}"
    for i, (a, b) in enumerate(zip(sc, dc)):
        assert a == b, f"row {i} differs:\n  spark={a}\n  duck ={b}"


@pytest.fixture(scope="session")
def spark_h(spark):
    """Alias fixture for hypothesis tests (function-scoped @given can't
    take the session fixture name directly in older plugin combos)."""
    return spark
