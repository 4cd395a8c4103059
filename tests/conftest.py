from __future__ import annotations

import os

import pytest

from cdc_export_system_spark.session import get_spark

# Default fast scale; export TEST_SF_DIR=/root/testdata/sf0.01 to run the
# parity suite at the driver's correctness scale.
SF_DIR = os.environ.get("TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = "/root/testdata/sf0.01"

# ---------------------------------------------------------------- slow tier --
# The default run (pytest.ini addopts `-m "not slow"`) is the
# driver-facing fast tier; these nodes are the measured multi-second
# E2E / stress / brute-force-comparison / whole-registry-sweep tests
# (r12 full-suite --durations run, quiet host). Marks are applied here
# so the test files stay unannotated and the list is one auditable
# block. NONE of the round_gate.sh files (scalar_guard_lint,
# entry_contract, empty_inputs, oracle_parity) may appear here — the
# gate invokes them by file and must keep seeing every test.
_SLOW_FILES = {
    "test_int_product_lint.py",   # optimized-plan walk over all 499 queries (~4 min)
    "test_api.py",                # served-HTTP E2E surface (30 s server setup)
    "test_tz_hostility.py",       # subprocess re-launch with hostile TZ (~30 s)
    "test_txn_table_crossjvm.py", # second JVM for snapshot isolation (~25 s)
    "test_asof_properties.py",    # brute-force O(n^2) as-of comparisons (~85 s)
}
_SLOW_TESTS = {
    "test_no_decimal_or_interval_in_any_final_schema",  # builds all 499 queries (364 s)
    "test_scd2_apply_batch_converges_for_any_split",
    "test_incremental_is_strictly_greater_and_live_only",
    "test_stream_stream_join_matches_batch",
    "test_stream_dedup_watermark_drops_cross_batch_redelivery",
    "test_listener_emits_lifecycle_events",
    "test_watermark_drops_late_rows",
    "test_delta_classifies_all_three_operations",
    "test_lttb_exact_survives_hot_user_beyond_int64",
    "test_cached_view_queries_survive_per_query_repoisoning",
    "test_substring_spans_and_scrub_match_brute_force",
    "test_power_exact_matches_numpy_top_direction",
    "test_bpe_train_matches_reference_trainer",
    "test_ivfpq_exact_recall_against_exact_integer_topk",
    "test_exact_pagerank_agrees_with_float_ranks",
}


def pytest_collection_modifyitems(config, items):
    slow = pytest.mark.slow
    for item in items:
        fname = os.path.basename(str(item.fspath))
        base = item.name.split("[")[0]
        if fname in _SLOW_FILES or base in _SLOW_TESTS:
            item.add_marker(slow)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="cdc-export-tests", master="local[8]", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()
