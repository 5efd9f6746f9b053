from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from zcode_iceberg_spark.session import get_spark

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="zcode-iceberg-spark-tests",
        master="local[4]",
        shuffle_partitions=4,
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMALL


# ---------------------------------------------------------------------------
# Fast/slow lane split (VERDICT r12 #1): the external driver's verify must
# COMPLETE, so the default lane (pytest.ini: -m "not slow") excludes the
# exhaustive variants listed here — heavy property/flood matrices, extra
# seeds of multi-seed invariance suites, crash-resume streaming end-to-ends,
# and the out-of-window oracle rows. Every contract keeps at least one
# fast-lane representative (one seed, one agreement test, the driver-window
# oracle rows); the slow lane (`-m ""` / `-m slow`) still runs
# everything for builder rounds. Durations that justified each entry:
# measured in a full r13 run.
# ---------------------------------------------------------------------------

_SLOW_EXPLICIT = {
    # property/flood matrices (each contract keeps a fast sibling)
    "test_ann_bounded.py::test_cell_cap_noop_when_blocks_fit",
    "test_ann_bounded.py::test_cell_cap_preserves_topk_quality_on_dup_flood",
    "test_ann_bounded.py::test_bounded_recall_is_monotone_below_plain",
    "test_ann_persisted.py::test_hist_cap_preserves_top_scores_on_dup_flood",
    "test_ann_persisted.py::test_state_build_is_merge_idempotent",
    "test_pq_persisted.py::test_state_build_is_merge_idempotent",
    "test_dedup_persisted.py::test_scratch_writing_queries_are_rerun_idempotent",
    "test_dedup_persisted.py::test_neardup_hist_cap_preserves_flags_on_dup_flood",
    "test_csvio.py::test_csv_property_round_trip_adversarial_strings",
    "test_jsonl.py::test_jsonl_property_round_trip_any_text",
    "test_graph_properties.py::test_two_star_matches_union_find_on_random_graphs",
    # multi-seed invariance: seed 0 stays fast, extra seeds are slow
    "test_substring_split_invariance.py::test_spark_step_epochs_match_brute[1717]",
    "test_substring_split_invariance.py::test_spark_step_epochs_match_brute[20260816]",
    # crash-resume / end-to-end streaming (agreement tests stay fast)
    "test_ann_stream.py::test_ann_stream_state_feeds_incremental_query_across_restart",
    "test_streaming.py::test_live_pipeline_crash_resume_preserves_state",
    "test_streaming.py::test_live_pipeline_over_kafka_wire",
    "test_streaming.py::test_live_pipeline_supervised_end_to_end",
    "test_streaming.py::test_live_pipeline_restart_after_completion_is_idempotent",
    "test_streaming.py::test_staleness_stream_event_time_timeout",
    "test_lifecycle.py::test_h9_end_to_end_alerts_drive_restart",
    "test_lifecycle.py::test_h7_processing_time_cadence_matches_available_now",
}


def pytest_collection_modifyitems(config, items):
    from zcode_iceberg_spark.suite import PRIORITY

    fast_oracles = set(PRIORITY)
    slow = pytest.mark.slow
    for item in items:
        short = item.nodeid.split("/")[-1]
        if short in _SLOW_EXPLICIT:
            item.add_marker(slow)
        elif item.nodeid.split("::")[-1].startswith("test_oracle_match["):
            name = item.nodeid.rsplit("[", 1)[1].rstrip("]")
            if name not in fast_oracles:
                item.add_marker(slow)
