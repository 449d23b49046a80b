from __future__ import annotations

import time
from urllib.parse import urlparse

import pytest

from streamroom_bigdata_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

# ---------------------------------------------------------------------------
# Slow tier (round 16): every test measured ≥5 s (setup+call, full-suite
# durations run, 2026-08-18) — together ~34 of the suite's ~43 minutes.
# pytest.ini deselects these by default so the driver's verify window fits
# the fast tier; the full suite runs with -m "slow or not slow". Kept as ONE
# name list (marker injected in pytest_collection_modifyitems) so the tier
# is auditable and a renamed test falls back to fast, never silently slow.
# ---------------------------------------------------------------------------
SLOW_TESTS = {
    "tests/test_advice_r3_regressions.py::test_bloom_sidecars_with_null_keys",
    "tests/test_advice_r3_regressions.py::test_embedding_quantize_zero_vector",
    "tests/test_advice_r3_regressions.py::test_ngrams_short_docs_no_crash",
    "tests/test_advice_r3_regressions.py::test_resample_ffill_single_hour_user",
    "tests/test_annindex.py::test_chained_probe_equals_oneshot_frozen_codebook_index",
    "tests/test_annindex.py::test_delete_is_committed_undoable_and_ledgered",
    "tests/test_annindex.py::test_ingest_appends_exactly_pqm_rows_per_vector",
    "tests/test_annindex.py::test_streaming_ingest_agrees_with_batch_chain",
    "tests/test_annindex.py::test_streaming_probe_sink_serves_and_sees_midstream_ingest",
    "tests/test_fuzz_asof.py::test_asof_backward_matches_duckdb_native",
    "tests/test_fuzz_asof.py::test_asof_forward_matches_duckdb_native",
    "tests/test_fuzz_equivalence.py::test_join_with_null_paths_agrees",
    "tests/test_fuzz_equivalence.py::test_predicate_subquery_agrees",
    "tests/test_fuzz_equivalence.py::test_shared_sql_text_agrees",
    "tests/test_graph.py::test_label_propagation_reliable_checkpoint_matches_local",
    "tests/test_graph.py::test_pagerank_reliable_checkpoint_matches_local",
    "tests/test_incdedup.py::test_chained_probes_equal_full_recompute",
    "tests/test_incdedup.py::test_probe_plan_pinned_to_build_time_generation",
    "tests/test_llmprep.py::test_curation_v4_subset_and_budget",
    "tests/test_manifest_table.py::test_incremental_join_matches_recompute",
    "tests/test_plans.py::test_no_cartesian_products_in_headline",
    "tests/test_plans.py::test_no_unjustified_forced_broadcast_over_facts",
    "tests/test_properties.py::test_bollinger_flag_matches_numpy",
    "tests/test_properties.py::test_dedup_idempotent",
    "tests/test_properties.py::test_kendall_tau_matches_brute_force",
    "tests/test_properties.py::test_pareto_equals_bruteforce",
    "tests/test_registry_contract.py::test_every_query_builds_a_plan",
    "tests/test_round12_waves.py::test_hits_distributed_equals_driver",
    "tests/test_similarity.py::test_random_projection_jl_is_linear_and_norm_preserving",
    "tests/test_stream_static.py::test_alert_latch_hysteresis",
    "tests/test_streaming.py::test_apply_in_pandas_with_state",
    "tests/test_streaming.py::test_cusum_alarm_crosses_threshold_across_micro_batches",
    "tests/test_streaming.py::test_cusum_streaming_agrees_with_batch_twin",
    "tests/test_streaming.py::test_holt_drift_alarm_crosses_batches_and_reanchors",
    "tests/test_streaming.py::test_holt_drift_streaming_agrees_with_batch_twin",
    "tests/test_streaming.py::test_pack_documents_carries_fill_across_micro_batches",
    "tests/test_streaming.py::test_pack_streaming_agrees_with_batch_planner",
    "tests/test_streaming.py::test_psi_drift_alarms_on_vanished_category",
    "tests/test_streaming.py::test_psi_drift_streaming_agrees_with_batch_twin",
    "tests/test_streaming.py::test_route_batch_idempotent_replay",
    "tests/test_streaming.py::test_router_crash_recovery_restart_from_checkpoint",
    "tests/test_streaming.py::test_silver_rollup_incremental_upsert",
    "tests/test_streaming.py::test_stateful_funnel_agrees_with_batch_semantics",
    "tests/test_streaming.py::test_stateful_sessionizer_stream_end_to_end",
    "tests/test_streaming.py::test_stream_stream_interval_join_matches_batch",
    "tests/test_streaming.py::test_streaming_ohlc_matches_batch",
    "tests/test_streaming_sketches.py::test_streaming_heavy_hitters_end_to_end",
    "tests/test_substring_dedup.py::test_block_dedup_misses_the_misaligned_run",
    "tests/test_synthetic_source.py::test_synthetic_stream_reader_emits_sequential_batches",
    "tests/test_tie_binning.py::test_lorenz_rank_binning_tie_run_never_splits_and_engines_agree",
    "tests/test_timeseries.py::test_cusum_changepoint_finds_planted_level_shift",
    "tests/test_timeseries.py::test_resample_ffill_grid_and_fill_semantics",
    "tests/test_timeseries.py::test_sax_motifs_cover_series_and_alphabet",
    "tests/test_wave3.py::test_count_min_overestimates_only",
    "tests/test_wave3.py::test_curation_v3_decontamination_invariants",
    "tests/test_wave3.py::test_kmeans_assignment_sane",
    "tests/test_wave3.py::test_lateral_matches_window_topk",
    "tests/test_wave3.py::test_recursive_month_spine_continuity",
    "tests/test_wave3.py::test_rrf_fuses_both_modalities",
    "tests/test_wave3.py::test_sampled_quantiles_error_bound",
}


def run_fold_to_memory(df, name: str) -> None:
    """Run a keyed-state fold query (``streaming.stateful._keyed_fold``)
    into the memory table ``name`` until its input is drained, then stop
    it. The folds arm a processing-time timeout, so Spark follows every
    micro-batch with a no-data batch and an availableNow query never
    terminates on its own; with availableNow a no-data batch runs only
    once no input is left. A failed query raises here."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    deadline = time.monotonic() + 120
    try:
        while not q.awaitTermination(0.2):
            last = q.lastProgress
            if last is not None and last["numInputRows"] == 0:
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"{name}: input not drained in 120 s")
    finally:
        q.stop()


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    yield get_spark("tests", shuffle_partitions=8)


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def reliable_checkpoints(spark, tmp_path):
    """Factory: calling it sets the session's checkpoint directory, which
    switches ``materialize`` to reliable checkpoints, and returns the
    (still empty) per-context directory Spark creates under it. Teardown
    restores the session's previous directory (unset, for this test
    session)."""
    jsc = spark.sparkContext._jsc.sc()
    prev = jsc.checkpointDir()

    def enable() -> str:
        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        return urlparse(spark.sparkContext.getCheckpointDir()).path

    yield enable
    getattr(jsc, "checkpointDir_$eq")(prev)
