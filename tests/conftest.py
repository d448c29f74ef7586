from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rusty_timeseries_db_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

#: The `battery` tier: slow pins (each >= 13 s at local[4] on a 4-CPU
#: VM, measured with --durations) that pytest.ini deselects by default;
#: run them with `-m battery`. The rule: every oracle-parity pin and
#: every pin that compares against a reference stays in the default
#: run, except the three reference pins that cost over 20 s each
#: (multiclass, grouped weights, IVF remove/compact equality). The
#: battery holds those, the removed-id policy matrices, the optional
#: pipeline-stage runs, the summary-store cycle, the LSH recall bound
#: and the compaction cost pin. Node IDs, not file-wide marks, so each
#: file's fast tests stay in.
_BATTERY_IDS = {
    "test_property.py::test_multiclass_classify_matches_reference",
    "test_property.py::test_grouped_weights_equal_solo_training_random",
    "test_dedup_similarity.py::test_ivf_remove_exact_and_compact_equality",
    "test_dedup_similarity.py::test_ivf_add_removed_ids_policy_matrix",
    "test_retrieval.py::test_removed_ids_policy_matrix_batch_and_stream",
    "test_llm_pipeline_ops.py::test_semantic_dedup_over_ivf_centroids",
    "test_pipelines.py::test_dsir_optional_stage",
    "test_langid.py::test_pipeline_langid_gate",
    "test_quality.py::test_pipeline_quality_gate_optional_stage",
    "test_api_summary_stores.py::test_topk_store_cycle",
    "test_skew_neardup.py::test_embedding_neardup_lsh_recall",
    "test_streaming_sketch.py::test_compact_served_identical_and_cost_flat",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        # nodeid is like "tests/test_x.py::test_y[param]"
        nid = item.nodeid.split("/")[-1]
        if nid in _BATTERY_IDS:
            item.add_marker(pytest.mark.battery)


@pytest.fixture(scope="session")
def spark():
    # the production shuffle width (32): the suite runs the sizing that
    # bench.py and the driver contract run
    s = get_spark(app_name="rtsdb-spark-tests", master="local[4]")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


#: Canonical 3-row Sa_FanSpeed fixture (main.rs:478-500, py_client.py:54-56).
SERIES_ID = "8f541ba4-c437-43ba-ba1d-5c946583fe54"
CANONICAL_ROWS = [
    {
        "sensor_name": "Sa_FanSpeed",
        "timestamp": "2024-08-28T12:00:00Z",
        "value": 0.8,
        "fc1_flag": None,
        "timeseries_id": SERIES_ID,
    },
    {
        "sensor_name": "Sa_FanSpeed",
        "timestamp": "2024-08-28T12:01:00Z",
        "value": 0.9,
        "fc1_flag": None,
        "timeseries_id": SERIES_ID,
    },
    {
        "sensor_name": "Sa_FanSpeed",
        "timestamp": "2024-08-28T12:02:00Z",
        "value": 1.0,
        "fc1_flag": None,
        "timeseries_id": SERIES_ID,
    },
]
