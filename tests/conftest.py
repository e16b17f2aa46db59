import uuid

import pytest

from shifts_etl_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    yield s


def _job_ids(sc, fn) -> list[int]:
    """Run ``fn`` under a fresh job group; the ids of the jobs it submitted."""
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    how many Spark jobs it submitted (``statusTracker``)."""
    return lambda fn: len(_job_ids(spark.sparkContext, fn))


@pytest.fixture
def count_tasks(spark):
    """``count_tasks(fn)`` runs ``fn`` under a fresh job group and returns
    how many tasks its jobs completed (``statusTracker``)."""
    sc = spark.sparkContext

    def count(fn) -> int:
        st = sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in _job_ids(sc, fn)]
        stages = [st.getStageInfo(s) for j in jobs if j for s in j.stageIds]
        return sum(s.numCompletedTasks for s in stages if s)

    return count


# Tests measured >= ~10 s in the full-suite profile (r11; 29m17s total,
# top 38 below = ~14 min of it). Centralized here so the `slow` set is
# data-driven and auditable against the committed durations profile
# (plans/r11/pytest_durations.txt) rather than scattered decorators.
# Deselected by default via pytest.ini addopts; run with `-m slow` or
# `-m ""`, and always exercised by the tools/gate.py pytest_slow step.
# ETL tests that re-profiled under 10 s on 4 cores run by default.
SLOW_TESTS = {
    "tests/test_caching.py::test_ambient_owner_stays_bounded",
    "tests/test_composed_entries.py::test_composed_entry_matches_oracle[x231_curation_ledger]",
    "tests/test_composed_entries.py::test_composed_entry_matches_oracle[x232_curation_ledger_tokens]",
    "tests/test_composed_entries.py::test_composed_entry_matches_oracle[x233_curation_decontam]",
    "tests/test_composed_entries.py::test_composed_entry_matches_oracle[x234_curation_ledger_minhash]",
    "tests/test_composed_entries.py::test_composed_entry_matches_oracle[x237_training_data_ledger]",
    "tests/test_composed_entries.py::test_composed_entry_matches_oracle[x238_training_data_filters]",
    "tests/test_control.py::test_run_etl_and_clear_endpoints",
    "tests/test_curate_pipeline.py::test_boilerplate_scrubbed_from_survivors",
    "tests/test_curate_pipeline.py::test_curate_deterministic_under_partitioning",
    "tests/test_curate_pipeline.py::test_degenerate_corpora",
    "tests/test_curate_pipeline.py::test_minhash_neardup_method",
    "tests/test_curate_pipeline.py::test_optional_stages",
    "tests/test_curate_pipeline.py::test_persisted_output",
    "tests/test_curate_pipeline.py::test_split_fractions_and_leakage",
    "tests/test_curate_pipeline.py::test_token_budget_mode",
    "tests/test_pipeline.py::test_cli_curate_smoke",
    "tests/test_pipeline.py::test_cli_prepare_smoke",
    "tests/test_pipeline.py::test_custom_datasource_reads_api",
    "tests/test_properties.py::test_flatten_invariants",
    "tests/test_properties_sketches.py::test_rollup_fold_order_invariance",
    "tests/test_quantiles.py::test_det_variant_boundary_sizes",
    "tests/test_round10_ops.py::test_embedding_nn_autoband_matches_explicit_geometry",
    "tests/test_round2b_ops.py::test_pagerank_matches_numpy_power_iteration",
    "tests/test_round3_ops.py::test_snapshot_diff_matches_dict_reference",
    "tests/test_round8_ops.py::test_incremental_neardup_signature_only_history",
    "tests/test_round9_ops.py::test_semantic_dedup_band_knob_certified_shape",
    "tests/test_round9_ops.py::test_semantic_dedup_banded_drops_subset_of_exact",
    "tests/test_session.py::test_archive_round_trip",
    "tests/test_stateful_skew.py::test_stream_stream_join",
    "tests/test_stateful_skew.py::test_streaming_sessionize",
    "tests/test_streaming.py::test_stream_join_left_outer_emits_unmatched",
    "tests/test_streaming_curation.py::test_streaming_neardup_admission",
    "tests/test_training_pipeline.py::test_cross_doc_dup_filter_stage",
    "tests/test_training_pipeline.py::test_length_quantile_stage_drops_outlier_doc",
    "tests/test_training_pipeline.py::test_prepare_training_data",
    "tests/test_training_pipeline.py::test_repetition_stage_drops_spam_doc",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
