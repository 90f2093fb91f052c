from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from hadoop_2_10_0_src_mapreduce_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


# --- slow-marker list ---------------------------------------------------
# Integration tests of ≥20 s each (pytest --durations), marked `slow`
# here (one auditable list instead of scattered decorators) and
# deselected by default via pytest.ini addopts so the default run fits
# its time window; `-m slow` runs them, `-m ""` runs everything. Every
# operator these tests exercise also has fast tests in the default run
# (the index lifecycle: tests/test_index_lifecycle.py).
_SLOW = {
    "test_extensions.py::test_compact_table_cluster_with_partition_dirs",
    "test_extensions.py::test_components_resume_after_driver_loss",
    "test_extensions.py::test_edge_cases_empty_batches_and_queries",
    "test_extensions.py::test_embedding_near_dup_clusters_compose",
    "test_extensions.py::test_prepare_training_corpus_decontam_and_split",
    "test_extensions.py::test_prepare_training_corpus_repetition_gate_and_redaction",
    "test_extensions.py::test_quantized_ivf_index_smaller_and_recalls",
    "test_extensions.py::test_query_lsh_index_multiprobe_dominance_and_default",
    "test_extensions.py::test_recall_target_wires_advisor_pick_into_maintenance",
    "test_extensions.py::test_recipe_chain_resume_at_each_boundary",
    "test_extensions.py::test_recipe_df_cap_would_blind_mega_cluster",
    "test_extensions.py::test_recipe_reliable_mode_retires_components_step",
    "test_extensions.py::test_training_prep_last_mile_composes",
    "test_pq.py::test_auto_layout_resolves_from_list_count",
    "test_pq.py::test_auto_probe_clamps_on_tiny_corpus",
    "test_pq.py::test_packed_codes_equal_unpacked",
    "test_pq.py::test_residual_reconstruction_beats_plain_on_clusters",
    "test_pq.py::test_residual_served_matches_brute_force_when_codes_saturate",
    "test_pq.py::test_text_to_ivfpq_serving_composition",
    "test_scale_strategies.py::test_interval_join_matches_naive_theta_and_plans_equi",
    "test_scale_strategies.py::test_no_registered_query_plans_a_scale_killer",
    "test_scale_strategies.py::test_range_join_matches_naive_theta_join",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        key = f"{item.fspath.basename}::{item.name.split('[')[0]}"
        if key in _SLOW:
            item.add_marker(pytest.mark.slow)
