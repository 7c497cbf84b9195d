import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# Tests marked `slow` and excluded from the default lane (pytest.ini
# addopts) so `pytest tests/ -x -q` fits the round driver's verification
# budget (VERDICT r12 task #7). Centralised here so the whole slow lane
# is auditable in one place. Criteria: >=5s per call in the r13 full-run
# duration profile AND redundant with cheaper default-lane coverage of
# the same operator (parity/property/e2e sweeps; the driver's DuckDB
# oracle gate independently checks every declared query). Parametrized
# variants inherit the mark via the base name.
_SLOW_TESTS = {
    # bench harness e2e (spawn JVMs / run many gates)
    "test_bench_one_multi_gate_isolation_end_to_end",
    "test_fresh_jvm_confirm_stage_clears_and_confirms",
    "test_no_cartesian_products_in_gate_plans",
    # faithful-engine parity + coordination sweeps (structured streaming
    # keeps the scripted-timeline, r2s, live-gate-vs-replay,
    # control-plane-vs-window-oracle and per-stream-hwm faithful-engine
    # parity pins in the default lane)
    "test_live_two_window_sync_matches_faithful_engine",
    "test_structured_timeout_matches_faithful_engine_event_clock",
    "test_structured_wait_vs_steal_coordination",
    "test_structured_report_strategies_match_faithful",
    "test_structured_report_strategies_sliding_step_gt1",
    "test_structured_timeout_event_time_deadline",
    # scenario / workflow e2e composites
    "test_full_combination_workflow",
    "test_provenance_feedback_loop",
    "test_fraud_detection_pipeline",
    "test_contradictions_example",
    "test_combination_ml_example",
    "test_combined_syntax_example",
    # ML training loops
    "test_neural_program_train_materializes_and_predicts",
    "test_neural_program_save_to",
    # hypothesis/property + brute-force sweeps (each operator keeps a
    # deterministic default-lane unit test)
    "test_union_is_multiset_concat",
    "test_two_pattern_join_matches_naive",
    "test_filter_matches_duckdb_try_numeric",
    "test_remove_duplicate_spans_matches_brute_force",
    "test_funnel_matches_brute_force",
    "test_ks_drift_bounds_and_symmetry",
    "test_scrub_is_idempotent",
    "test_canonical_url_matches_duckdb_and_is_idempotent",
    "test_common_span_profile_heavy_df_cap_equivalence",
    # serializer round-trip property sweeps (default lane keeps the
    # format unit tests and the rdfio differentials)
    "test_ntriples_roundtrip_exact",
    "test_nquads_roundtrip_exact",
    "test_turtle_roundtrip_exact",
    "test_rdfxml_roundtrip_exact",
    # reasoner scenario composites (unit-level rule tests stay default)
    "test_query_with_repairs_iar_semantics",
    "test_ml_bound_conclusions_across_scenarios",
    "test_earlier_curation_operators_on_empty_input",
    "test_session3_operators_on_empty_input",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name.split("[")[0] in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("kolibrie_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture()
def engine(spark):
    from kolibrie_spark import SparqlEngine

    return SparqlEngine(spark)


def rows(df):
    """Collected rows as sorted list of tuples of strings (order-insensitive)."""
    return sorted(
        tuple("" if v is None else str(v) for v in r) for r in df.collect()
    )
