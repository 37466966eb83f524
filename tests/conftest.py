from __future__ import annotations

import os

import pytest

from sports_stats_data_pipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.001"  # sf0.01 in slow mode (driver uses 0.01)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", shuffle_partitions=8)
    yield s
    s.stop()


#: SLOW TIER (round-13, verdict #1): the default suite must finish
#: inside the driver's verify window (the round-12 run was truncated at
#: ~93% with zero failures — an unverifiable gate). The tests below are
#: the measured wall dominators (>=10 s each on the round-13 baseline
#: host, ~740 s of a 1645 s suite); they are SKIPPED by default and run
#: with SPARK_GRAFT_SLOW_TESTS=1 — the same env-gate pattern as the
#: scale-replica tier (SPARK_GRAFT_SCALE_DIR). The builder runs the
#: slow tier once per round and records the result in the round report;
#: every behavior covered here also has a fast-tier or driver-side
#: check (the driver re-runs all 50 queries against the DuckDB oracle,
#: which subsumes the hostile-session sweep and per-slot parity runs).
#: Entries are nodeid SUFFIXES (file::name, parametrized ids included)
#: so parametrized cases can be gated individually.
SLOW_TESTS = {
    # driver-contract sweeps (driver's own correctness run covers them)
    "test_driver_contract.py::test_all_queries_run_in_hostile_session",
    "test_driver_contract.py::test_timezone_sensitive_values_in_hostile_session",
    "test_driver_contract.py::test_vanilla_session_from_neutral_cwd",
    # multi-second streaming executions (fast twins remain:
    # test_streaming_tumbling_equals_batch, test_streamed_scores_equal_
    # batch_scores, the session-window profiles)
    "test_streaming_neardup.py::test_multibatch_greedy_admission_matches_duckdb_fold",
    "test_streaming_neardup.py::test_streaming_dedup_across_batches",
    "test_streaming_dedup.py::test_rocksdb_provider_pinned_and_state_bounded",
    "test_watermark.py::test_late_event_dropped_by_watermark",
    "test_codegen_fallback.py::test_driver_query_compiles[streaming_tumbling_hourly]",
    "test_oracle_parity.py::test_oracle_parity[streaming_tumbling_hourly]",
    "test_fold_reference.py::test_fold_reference_matches_duckdb_real_corpus[/root/testdata/sf0.1]",
    "test_fold_properties.py::test_bpe_fold_matches_reference_greedy",
    # property sweeps / randomized model-matching (bounded variants and
    # the operators' unit tests stay in the fast tier)
    "test_multisnapshot.py::test_random_op_sequences_match_dict_model",
    "test_round5_properties.py::test_attribution_matches_reference",
    "test_round5_properties.py::test_pagerank_fixedpoint_matches_reference",
    "test_properties.py::test_merge_resume_safety_any_batch_split",
    "test_quantiles.py::test_property_split_merge_and_python_reference",
    "test_intervaljoin.py::test_matches_naive_generated",
    "test_spans.py::test_duplicate_spans_equals_bruteforce_reference",
    "test_pagerank.py::test_mass_conservation_and_float_ordering",
    # ANN family deep builds (recall floors + persisted-index identity;
    # bit-determinism, CTE twin and lifecycle tests stay fast-tier)
    "test_nndescent.py::test_descent_improves_and_hits_recall_floor",
    "test_nndescent.py::test_incremental_new_flag_is_exact",
    "test_nndescent.py::test_persisted_index_serves_identical_results",
    "test_nndescent.py::test_graph_search_recall",
    "test_integration_round6.py::test_graph_ann_over_corpus_embeddings",
    "test_codegen_fallback.py::test_driver_query_compiles[ann_ivf_label_topk]",
    "test_oracle_parity.py::test_oracle_parity[ann_ivf_label_topk]",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_SLOW_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow tier (run with SPARK_GRAFT_SLOW_TESTS=1; "
        "conftest.SLOW_TESTS)"
    )
    for item in items:
        nodeid = item.nodeid.split("/")[-1]
        if nodeid in SLOW_TESTS:
            item.add_marker(skip)
