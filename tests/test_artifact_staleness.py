"""Content-keyed artifacts in one session: a source parquet rewritten
under the same path must rebuild every artifact derived from it, and an
unchanged source must reuse them (``catalog.session_artifact``,
``catalog.persisted_artifact``)."""

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


def _run(spark, data: str) -> dict:
    """Each query's engine rows checked against its oracle; returns the
    oracle frames."""
    specs = all_specs()
    con = duckdb_connection(data)
    oracles = {}
    try:
        for name in QUERIES:
            got = specs[name].builder(spark, data).toPandas()
            oracles[name] = con.execute(specs[name].oracle).fetch_df()
            errs = compare(got, oracles[name])
            assert not errs, f"{name}: " + "; ".join(errs)
    finally:
        con.close()
    return oracles


def test_source_rewrite_mid_session_rebuilds_artifacts(
    spark, sf_dir, tmp_path, monkeypatch
):
    data = tmp_path / "sf"
    data.mkdir()
    for name in os.listdir(sf_dir):
        if name != "embeddings.parquet":
            os.symlink(os.path.join(sf_dir, name), data / name)
    emb = data / "embeddings.parquet"
    shutil.copyfile(os.path.join(sf_dir, "embeddings.parquet"), emb)

    builds: list[str] = []
    log = catalog.log_artifact_build

    def counted(*tables: str) -> None:
        builds.extend(tables)
        log(*tables)

    monkeypatch.setattr(catalog, "log_artifact_build", counted)

    def built() -> list[str]:
        """Prefixes of the artifacts built since the last call."""
        out = sorted(t.rsplit("_", 1)[0] for t in builds)
        builds.clear()
        return out

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
