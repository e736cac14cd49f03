"""Shared pytest fixtures: one SparkSession per test session."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

# --- slow-tier marking (r14, verdict item 8) -------------------------------
# The full suite is 888 tests / ~68 min and outgrew the driver's
# verification budget (VERIFY truncated at ~30% two rounds running), so
# the long soak/property/brute-force-equality/e2e tests — every entry
# ≥ ~12 s in this round's measured `--durations=100` list — carry a
# `slow` marker and the DEFAULT run excludes them (pyproject addopts).
# `make test-full` (pytest -m "") runs everything and remains the
# round-end gate. Sets are explicit (auditable) rather than clever:
# a renamed test simply rejoins the default tier until re-listed.

#: whole files dominated by soak/property/e2e tests
SLOW_MODULES = {
    "test_allpairs",
    "test_ann_ops_loop",
    "test_components_merge",
    "test_dedup_similarity",
    "test_delta_e2e",
    "test_delta_log_stream_source",
    "test_delta_log_writer",
    "test_drift",
    "test_pagerank_merge",
    "test_properties",
    "test_semdedup",
    "test_streaming_e2e",
    "test_transition_stream",
    "test_upsert",
    "test_upsert_properties",
}

#: individual heavy tests in otherwise-fast files
SLOW_TESTS = {
    "test_q150_retrieval_pipeline_matches_replayed_composition",  # mmr
    "test_banded_matches_nested_loop_random",  # range_join
    "test_equals_bruteforce_property",  # fuzzy_join
    "test_lev_equals_bruteforce_property",  # fuzzy_join
    "test_bloom_no_false_negatives_property",  # bloom
    "test_streaming_write_exactly_once_across_restart",  # manifest_parquet
    "test_streaming_fold_twin_equals_batch_q186",  # quantiles
    "test_bpe_apply_matches_python_and_training_state",  # bpe
}

#: registry smoke params whose single run exceeds ~15 s (still covered
#: by tools/check_correctness.py and the driver's own oracle)
SLOW_REGISTRY_PARAMS = {
    "q42_simhash_buckets",
    "q44_dedup_clusters",
    "q45_dedup_pipeline",
    "q46_simhash_neardup_pairs",
    "q133_logreg_quality_gate",
    "q191_split_leakage_audit",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        base = item.name.split("[")[0]
        if (
            mod in SLOW_MODULES
            or base in SLOW_TESTS
            or any(f"[{q}]" in item.name for q in SLOW_REGISTRY_PARAMS)
        ):
            item.add_marker(pytest.mark.slow)
# ---------------------------------------------------------------------------

from pyspark_streaming_base_spark.session import SessionFactory  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = SessionFactory.local(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(params=["symlink", "manifest"])
def pointer_writer(request, monkeypatch):
    """Run a persisted-index lifecycle test against BOTH generation-pointer
    kinds an index can hold: ``manifest`` (the pointer file ``swap_in``
    publishes) and ``symlink`` (the ``os.symlink`` pointer earlier
    versions published). Under ``symlink`` every ``swap_in`` ends with
    the earlier writer's pointer, so the test proves this version's
    readers, appends, retention, debris sweep and vacuum keep working on
    an index an earlier version still compacts."""
    import uuid

    from pyspark_streaming_base_spark.operators import tombstones

    if request.param == "symlink":
        publish = tombstones._publish_pointer

        def publish_symlink(live_path, gen):
            prev = publish(live_path, gen)
            tmp = f"{live_path}.ptr.{uuid.uuid4().hex}"
            os.symlink(os.path.abspath(gen), tmp)
            os.replace(tmp, live_path)
            return prev

        monkeypatch.setattr(tombstones, "_publish_pointer", publish_symlink)
    return request.param
