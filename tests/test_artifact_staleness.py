"""Content-keyed artifacts in one session: a source parquet rewritten
under the same path must rebuild every artifact derived from it, and an
unchanged source must reuse them (``catalog.session_artifact``,
``catalog.persisted_artifact``). Covers the NSW family (keyed on
embeddings) and the rank family's broadcast CSR (keyed on orders and
lineitem together)."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from harvard_artifacts_collection_data_engineering_analytics_app_spark import (
    catalog,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries.registry import (
    all_specs,
)

from .oracle_harness import compare, duckdb_connection

QUERIES = ("ss_nsw_beam_search", "ss_nsw_ivf_beam_search", "ss_nsw_index_upsert")
# the artifacts the three queries read: the exact degree-16 graph and the
# IVF-built one (with its persisted IVF lists and centroids), the NSW index
# over each and its broadcast CSR adjacency, the broadcast vector matrix
# and the upsert base
ARTIFACTS = [
    "exact_knn16",
    "knn_ivf_centroids",
    "knn_ivf_graph_k16",
    "knn_ivf_lists",
    "nsw_adjacency_exact",
    "nsw_adjacency_ivf",
    "nsw_index_exact",
    "nsw_index_ivf",
    "nsw_upsert_base",
    "nsw_vectors",
]


RANK_QUERIES = (
    "gr_pagerank",
    "gr_pagerank_convergence",
    "gr_personalized_pagerank",
    "gr_katz_centrality",
)


def _run(spark, data: str, queries=QUERIES) -> dict:
    """Each query's engine rows checked against its oracle; returns the
    oracle frames."""
    specs = all_specs()
    con = duckdb_connection(data)
    oracles = {}
    try:
        for name in queries:
            got = specs[name].builder(spark, data).toPandas()
            oracles[name] = con.execute(specs[name].oracle).fetch_df()
            errs = compare(got, oracles[name])
            assert not errs, f"{name}: " + "; ".join(errs)
    finally:
        con.close()
    return oracles


def _copy_of(sf_dir, tmp_path, table: str):
    """A scale-factor directory of links to ``sf_dir`` with ``table``
    copied, so the test can rewrite it; returns (dir, table path)."""
    data = tmp_path / "sf"
    data.mkdir()
    for name in os.listdir(sf_dir):
        if name != f"{table}.parquet":
            os.symlink(os.path.join(sf_dir, name), data / name)
    path = data / f"{table}.parquet"
    shutil.copyfile(os.path.join(sf_dir, f"{table}.parquet"), path)
    return data, path


def _count_builds(monkeypatch):
    """A function returning the prefixes of the artifacts built since
    its last call (``log_artifact_build`` counted)."""
    builds: list[str] = []
    log = catalog.log_artifact_build

    def counted(*tables: str) -> None:
        builds.extend(tables)
        log(*tables)

    monkeypatch.setattr(catalog, "log_artifact_build", counted)

    def built() -> list[str]:
        out = sorted(t.rsplit("_", 1)[0] for t in builds)
        builds.clear()
        return out

    return built


def test_source_rewrite_mid_session_rebuilds_artifacts(
    spark, sf_dir, tmp_path, monkeypatch
):
    data, emb = _copy_of(sf_dir, tmp_path, "embeddings")
    built = _count_builds(monkeypatch)

    before = _run(spark, str(data))
    first = built()
    _run(spark, str(data))
    reuse = built()

    # same path, fewer rows: every non-query vector with id % 7 == 3 goes
    table = pq.read_table(emb)
    ids = table.column("vec_id").to_numpy()
    pq.write_table(table.filter(pa.array((ids < 5) | (ids % 7 != 3))), emb)
    after = _run(spark, str(data))
    rebuilt = built()

    for name in QUERIES:
        assert not before[name].equals(after[name]), f"{name}: no change"
    assert first == ARTIFACTS
    assert reuse == []
    assert rebuilt == ARTIFACTS


def test_orders_rewrite_mid_session_rebuilds_rank_csr(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The four rank queries share one CSR per content of orders +
    lineitem: built once, reused by every later call, and rebuilt exactly
    once when orders.parquet is rewritten under the same path."""
    data, orders = _copy_of(sf_dir, tmp_path, "orders")
    built = _count_builds(monkeypatch)

    before = _run(spark, str(data), RANK_QUERIES)
    first = built()
    _run(spark, str(data), RANK_QUERIES)
    reuse = built()

    # same path, fewer rows: every fifth order goes
    table = pq.read_table(orders)
    keys = table.column("o_orderkey").to_numpy()
    pq.write_table(table.filter(pa.array(keys % 5 != 0)), orders)
    after = _run(spark, str(data), RANK_QUERIES)
    rebuilt = built()

    for name in RANK_QUERIES:
        assert not before[name].equals(after[name]), f"{name}: no change"
    assert first == ["rank_csr"]
    assert reuse == []
    assert rebuilt == ["rank_csr"]


def test_table_rewrite_with_new_schema_mid_session_reads_new_schema(
    spark, sf_dir, tmp_path
):
    """``load_table`` reads with a schema inferred once per content of the
    table's files: a warm read runs no Spark job, and a rewrite under the
    same path with an extra column is read with the new schema."""
    data, path = _copy_of(sf_dir, tmp_path, "supplier")
    sc = spark.sparkContext
    first = catalog.load_table(spark, str(data), "supplier").schema

    sc.setJobGroup("warm-schema", "warm-schema")
    try:
        warm = catalog.load_table(spark, str(data), "supplier").schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert warm == first
    assert sc.statusTracker().getJobIdsForGroup("warm-schema") == []

    table = pq.read_table(path)
    pq.write_table(
        table.append_column("s_extra", pa.array([1] * table.num_rows)), path
    )
    df = catalog.load_table(spark, str(data), "supplier")
    assert df.schema.names == first.names + ["s_extra"]
    assert df.filter("s_extra = 1").count() == table.num_rows
