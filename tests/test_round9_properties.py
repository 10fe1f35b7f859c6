"""Round-9 property tests."""

from __future__ import annotations

import duckdb
import pytest


def test_knn_ivf_k_matches_duckdb():
    """The grown-K formula (max(KM_K, ceil(sqrt(n)))) must evaluate
    identically in Python (knn_ivf_index) and DuckDB (the oracle's
    KNN_IVF_K_EXPR) for every plausible corpus size — a one-off float
    divergence would train K lists on one engine and replay K±1 on the
    other, failing every downstream value check. Exercises perfect
    squares and their neighbors, where ceil(sqrt()) is most fragile.
    """
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.similarity import (  # noqa: E501
        knn_ivf_k,
    )

    sizes = set(range(1, 300))
    for s in (10, 45, 100, 141, 142, 1000, 4472, 20000, 447214):
        sizes.add(s * s - 1)
        sizes.add(s * s)
        sizes.add(s * s + 1)
    con = duckdb.connect()
    try:
        for n in sorted(sizes):
            (k_sql,) = con.execute(
                "SELECT GREATEST(8, CAST(ceil(sqrt(?::BIGINT)) AS BIGINT))",
                [n],
            ).fetchone()
            assert knn_ivf_k(n) == k_sql, f"n={n}: py={knn_ivf_k(n)} sql={k_sql}"
    finally:
        con.close()


def test_knn_ivf_k_monotone_and_sublinear():
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.similarity import (  # noqa: E501
        knn_ivf_k,
    )

    prev = 0
    for n in range(1, 5000, 7):
        k = knn_ivf_k(n)
        assert k >= prev
        assert k >= 8
        assert k * k >= n or k == 8  # ceil(sqrt) property
        prev = k


@pytest.mark.parametrize("n,expected", [(0, 8), (1, 8), (64, 8), (65, 9)])
def test_knn_ivf_k_floor(n, expected):
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators.similarity import (  # noqa: E501
        knn_ivf_k,
    )

    assert knn_ivf_k(n) == expected
