from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from soict20221_bigdata_financialplatform_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "spark-finplat-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.sql.streaming.schemaInference": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Driver-facing fast suite (r14 VERDICT task 2).
#
# The driver's verify step runs `python -m pytest tests/ -x -q` with a hard
# time budget; at 441 tests / ~51 min the run truncated mid-suite and the
# round's `tests_ok` came back unattested. pytest.ini's `addopts = -m "not
# slow"` keeps the default run under ~12 min by excluding the tests below
# (every test that took >10 s on the r15 `--durations` profile — the plan
# linters, hypothesis equivalence sweeps, streaming end-to-ends and recall
# tables). They are NOT dead weight: `tools/ci_gate.sh` runs the FULL suite
# (`-m ""` overrides the filter) before every round snapshot, which is
# where their regression protection lives, exactly like the retired-query
# parity rows. Marking is centralized here (one frozen list, no decorator
# scatter) so the threshold is auditable and re-profiling is a one-file
# edit.
# ---------------------------------------------------------------------------
SLOW_TESTS = frozenset({
    "tests/test_api_pipeline.py::test_backfill_roundtrip_and_endpoints",
    "tests/test_chunking_properties.py::test_cdc_reassembly_is_lossless",
    "tests/test_chunking_properties.py::test_fixed_chunking_covers_every_position",
    "tests/test_dedup_similarity.py::test_ann_family_recall_table_sf01",
    "tests/test_dedup_similarity.py::test_ann_recall_floors_vs_bruteforce",
    "tests/test_dirty_data.py::test_corpus_entry_points_tolerate_dirty_docs",
    "tests/test_equivalence_properties.py::test_asof_join_matches_bruteforce",
    "tests/test_equivalence_properties.py::test_asof_join_right_tiebreak_matches_bruteforce",
    "tests/test_equivalence_properties.py::test_connected_components_matches_union_find",
    "tests/test_equivalence_properties.py::test_exact_dedup_matches_group_oracle",
    "tests/test_equivalence_properties.py::test_identical_docs_always_pair_in_minhash_and_simhash",
    "tests/test_equivalence_properties.py::test_nearest2_sqdist_anchor_subset_matches_full",
    "tests/test_equivalence_properties.py::test_nearest2_sqdist_matches_bruteforce",
    "tests/test_equivalence_properties.py::test_paragraph_dedup_matches_first_occurrence_oracle",
    "tests/test_equivalence_properties.py::test_range_join_matches_bruteforce",
    "tests/test_equivalence_properties.py::test_salted_join_matches_plain_join",
    "tests/test_equivalence_properties.py::test_salted_self_pairs_matches_unsalted_pairs",
    "tests/test_equivalence_properties.py::test_winnow_fingerprints_matches_bruteforce_and_guarantee",
    "tests/test_graph_fuzzy_chunk.py::test_leakage_free_split_never_straddles_clusters",
    "tests/test_indicators.py::test_ema_golden_recursive",
    "tests/test_indicators.py::test_ema_segmented_equivalent_to_ema_long_key",
    "tests/test_layout.py::test_bucketed_join_has_no_exchange",
    "tests/test_layout.py::test_minhash_bucket_cap_drops_only_boilerplate",
    "tests/test_multimodal.py::test_image_features_shape_and_determinism",
    "tests/test_normalize_properties.py::test_parse_comma_number_garbage_never_raises",
    "tests/test_normalize_properties.py::test_parse_comma_number_matches_python",
    "tests/test_oracle_types.py::test_all_oracle_output_types_hasher_safe",
    "tests/test_plans.py::test_driver_window_schemas_are_hasher_safe",
    "tests/test_plans.py::test_no_registry_query_misuses_constant_partition_window",
    "tests/test_plans.py::test_no_registry_query_plans_a_global_ordered_window",
    "tests/test_plans.py::test_no_registry_query_plans_conditional_nested_loop",
    "tests/test_plans.py::test_no_registry_query_ranks_raw_frames_by_enum_key",
    "tests/test_privacy.py::test_dp_counts_replayable_and_seed_sensitive",
    "tests/test_r6_operators.py::test_suggest_simhash_cap_budget_and_healthy",
    "tests/test_session_pandasudf.py::test_streaming_session_windows",
    "tests/test_sketch.py::test_microunit_scores_partition_invariant",
    "tests/test_stream_batch_twins.py::test_interval_join_stream_matches_batch_twin",
    "tests/test_stream_batch_twins.py::test_running_stats_stream_matches_batch_twin",
    "tests/test_stream_batch_twins.py::test_watermark_drop_matches_q327_prediction",
    "tests/test_streaming.py::test_compact_bars",
    "tests/test_streaming.py::test_late_row_beyond_watermark_dropped",
    "tests/test_streaming.py::test_restart_from_checkpoint_exactly_once",
})


def unmatched_slow_tests(nodeids, rootdir: str) -> list[str]:
    """SLOW_TESTS entries that name no collected test: the entry's file is
    gone, or it was collected and holds no test of that name (a rename)."""
    collected = set(nodeids)
    collected |= {n.split("[", 1)[0] for n in collected}
    files = {n.split("::", 1)[0] for n in collected}
    return sorted(
        e for e in SLOW_TESTS - collected
        if e.split("::", 1)[0] in files
        or not os.path.exists(os.path.join(rootdir, e.split("::", 1)[0]))
    )


def pytest_collection_modifyitems(config, items):
    for item in items:
        # match parametrized variants by their base node id too
        base = item.nodeid.split("[", 1)[0]
        if item.nodeid in SLOW_TESTS or base in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
    # Under the full run (`-m ""`, what ci_gate runs) a stale entry fails
    # collection: a renamed slow test would otherwise slip back into the
    # fast suite unnoticed. Only whole-file collections are checked — a
    # `-k` filter or a `file::test` argument collects a subset on purpose.
    if (
        config.option.markexpr == ""
        and not config.option.keyword
        and not any("::" in a for a in config.args)
    ):
        stale = unmatched_slow_tests((i.nodeid for i in items), str(config.rootpath))
        if stale:
            raise pytest.UsageError(
                "tests/conftest.py SLOW_TESTS entries match no test: " + ", ".join(stale)
            )
