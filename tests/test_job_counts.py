"""Job-count pins for the fused loops: a warm call of a query whose
iterations run inside one Arrow stage must stay a fixed, small number of
Spark jobs. A regression that brings a per-round join loop back onto the
small-input path multiplies its jobs and fails here.

Jobs are counted per call with a job group
(``statusTracker().getJobIdsForGroup``): no event log, no Spark UI."""

from __future__ import annotations

import pytest

from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    registry,
)

SPECS = registry.all_specs()


def _jobs(spark, group: str, fn) -> int:
    """The number of Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", ["gr_pagerank", "gr_katz_centrality"])
def test_warm_rank_query_runs_at_most_two_jobs(spark, sf_dir, name):
    """Builder plus action of a warm call: the broadcast CSR is cached,
    so every round runs in the one MapInPandas stage."""
    builder = SPECS[name].builder
    builder(spark, sf_dir).collect()  # cold: builds the session's CSR
    jobs = _jobs(spark, f"pin-{name}", lambda: builder(spark, sf_dir).collect())
    assert 1 <= jobs <= 2, f"{name}: {jobs} jobs on a warm call"
