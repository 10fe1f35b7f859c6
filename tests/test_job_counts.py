"""Job-count pins for the fused loops: a warm call of a query whose
iterations run inside one Arrow stage must stay a fixed, small number of
Spark jobs. A regression that brings a per-round join loop back onto the
small-input path multiplies its jobs and fails here.

Jobs are counted per call with a job group
(``statusTracker().getJobIdsForGroup``): no event log, no Spark UI."""

from __future__ import annotations

import pytest

from harvard_artifacts_collection_data_engineering_analytics_app_spark.plans import (
    explain as X,
)
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
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # the status store is fed async
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _warm_jobs(spark, sf_dir, name: str) -> int:
    """Spark jobs of a warm call of ``name``: builder plus action, after
    one cold call has built the session's artifacts."""
    builder = SPECS[name].builder
    builder(spark, sf_dir).collect()
    return _jobs(spark, f"pin-{name}", lambda: builder(spark, sf_dir).collect())


@pytest.mark.parametrize("name", ["gr_pagerank", "gr_katz_centrality"])
def test_warm_rank_query_runs_at_most_two_jobs(spark, sf_dir, name):
    """Builder plus action of a warm call: the CSR is cached on the
    driver, so every round runs there and only the action is a job."""
    jobs = _warm_jobs(spark, sf_dir, name)
    assert 1 <= jobs <= 2, f"{name}: {jobs} jobs on a warm call"


@pytest.mark.parametrize("name", ["gr_pagerank", "gr_katz_centrality"])
def test_warm_rank_query_starts_no_python_task(spark, sf_dir, name):
    """The warm walk runs on the driver: no MapInPandas in the plan."""
    builder = SPECS[name].builder
    builder(spark, sf_dir).collect()
    assert not X.has_operator(builder(spark, sf_dir), "MapInPandas")


def test_warm_incremental_dedup_starts_no_python_task(spark, oracle_sf_dir):
    """At sf0.01 a warm dd_incremental_minhash_indexed signs its 50-odd
    incoming documents on the driver and runs as one plan: no
    MapInPandas, and builder plus action run at most 4 jobs (the Arrow
    collect of the batch, the two index broadcasts and the result)."""
    name = "dd_incremental_minhash_indexed"
    jobs = _warm_jobs(spark, oracle_sf_dir, name)
    assert not X.has_operator(SPECS[name].builder(spark, oracle_sf_dir), "MapInPandas")
    assert 1 <= jobs <= 4, f"{name}: {jobs} jobs on a warm call"


def test_small_minhash_batch_signs_in_one_task(spark, oracle_sf_dir, monkeypatch):
    """With the driver path forced off, the warm dd_incremental_minhash_indexed
    at sf0.01 signs its batch in one Python task: the MapInPandas sits
    over a one-partition exchange (Spark plans ``repartition(1)`` as
    SinglePartition)."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators import (
        dedup,
        graph,
    )

    name = "dd_incremental_minhash_indexed"
    SPECS[name].builder(spark, oracle_sf_dir).collect()  # cold: the index
    monkeypatch.setattr(graph, "MINHASH_DRIVER_MAX_BYTES", 0)
    signed = []
    kernel = dedup._minhash_relation

    def kept(d):
        signed.append(kernel(d))
        return signed[-1]

    monkeypatch.setattr(dedup, "_minhash_relation", kept)
    SPECS[name].builder(spark, oracle_sf_dir).collect()
    assert len(signed) == 1
    plan = signed[0]._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    at = next(i for i, line in enumerate(lines) if "MapInPandas" in line)
    below = next(line for line in lines[at:] if "Exchange" in line)
    assert "Exchange SinglePartition" in below, "\n".join(lines)


@pytest.mark.parametrize(
    "name, most",
    [
        # one NSW walk: the index, its CSR and the vectors are cached
        ("ss_nsw_greedy_search", 10),
        # connected-components propagation over the LSH pair graph
        ("dd_cluster_components", 17),
    ],
)
def test_warm_fused_loop_job_count(spark, sf_dir, name, most):
    """Builder plus action of a warm call stay within the count measured
    when the pin was set, plus one."""
    jobs = _warm_jobs(spark, sf_dir, name)
    assert 1 <= jobs <= most, f"{name}: {jobs} jobs on a warm call"


def _plan_nodes(plan) -> list[str]:
    """Class names of an executed physical plan's nodes, read through
    AQE, its query stages and reused exchanges, but not into the plan
    that filled a cached relation (an ``InMemoryTableScan``'s inner
    child)."""
    nodes, stack = [], [plan]
    while stack:
        p = stack.pop()
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        elif cls == "ReusedExchangeExec":
            stack.append(p.child())
        else:
            nodes.append(cls)
            kids = p.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def test_warm_reference_round_plans_no_shuffle(spark, store):
    """A warm round of q1-q20 on the reference store: every scan reads
    the in-memory relations, no plan has an exchange but a join's
    broadcast, and the round runs at most the jobs measured when the
    pin was set."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
        artifact_templates as AT,
    )

    names = sorted(AT.QUERY_TEMPLATES, key=lambda s: int(s[1:]))
    for name in names:  # the first round caches the store
        app.query(spark, store, name).toPandas()
    done = {}

    def warm_round():
        for name in names:
            done[name] = app.query(spark, store, name)
            done[name].toPandas()

    jobs = _jobs(spark, "pin-reference-round", warm_round)
    for name, df in done.items():
        nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
        exchanges = [n for n in nodes if n.endswith("ExchangeExec")
                     and n != "BroadcastExchangeExec"]
        scans = [n for n in nodes if "Scan" in n]
        assert not exchanges, f"{name}: {exchanges}"
        # (no scan at all where AQE found a join side empty and planned
        # EmptyRelation, as for q8 and q9 on this store)
        assert set(scans) <= {"InMemoryTableScanExec"}, f"{name}: {scans}"
    assert jobs <= 30, f"{jobs} jobs in a warm round"


def test_reference_load_runs_one_job_per_table(spark, tmp_path, monkeypatch):
    """``app.collect`` runs no Spark job. A first ``app.insert`` of a
    300-record store runs one job of one task per table, with no
    exchange in any table's plan, and every job in the caller's job
    group."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.etl import (
        artifacts as A,
    )
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import (
        rest,
    )

    sc = spark.sparkContext
    st = sc.statusTracker()
    wd = str(tmp_path / "wd")
    fetch = rest.synthetic_fetcher(300)
    assert _jobs(spark, "pin-collect", lambda: app.collect(spark, wd, fetch, 300)) == 0

    planned = {}
    transform_all = A.transform_all

    def kept(raw):
        planned.update(transform_all(raw))
        return planned

    monkeypatch.setattr(A, "transform_all", kept)
    ungrouped = set(st.getJobIdsForGroup(None))
    assert _jobs(spark, "pin-insert", lambda: app.insert(spark, wd)) == 3
    assert not set(st.getJobIdsForGroup(None)) - ungrouped
    for jid in st.getJobIdsForGroup("pin-insert"):
        stages = st.getJobInfo(jid).stageIds
        assert [st.getStageInfo(s).numTasks for s in stages] == [1], jid
    for name, df in planned.items():
        nodes = _plan_nodes(df._jdf.queryExecution().executedPlan())
        assert not [n for n in nodes if n.endswith("ExchangeExec")], (name, nodes)
