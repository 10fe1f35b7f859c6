"""Range-join rewrite and hierarchical rollup unit tests."""

from __future__ import annotations

import datetime as dt

import pytest

from harvard_artifacts_collection_data_engineering_analytics_app_spark.operators import (
    rangejoin as RJ,
    rollup as RU,
)


@pytest.fixture()
def facts(spark):
    return spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0, 4999.99, 5000, 100.5, 250000, 599999])],
        "id long, val double",
    )


@pytest.fixture()
def intervals(spark):
    return spark.createDataFrame(
        [("a", 0.0, 5000.0), ("b", 5000.0, 150000.0), ("c", 150000.0, 600000.0)],
        "tier string, lo double, hi double",
    )


def _pairs(df):
    return sorted((r["id"], r["tier"]) for r in df.collect())


def test_broadcast_range_join_semantics(facts, intervals):
    got = _pairs(RJ.range_join_broadcast(facts, "val", intervals))
    # lo inclusive, hi exclusive: 4999.99→a, 5000→b
    assert got == [(0, "a"), (1, "a"), (2, "b"), (3, "a"), (4, "c"), (5, "c")]


@pytest.mark.parametrize("width", [100.0, 5000.0, 7777.0, 1e6])
def test_bucketed_rewrite_matches_broadcast(facts, intervals, width):
    ref = _pairs(RJ.range_join_broadcast(facts, "val", intervals))
    got = _pairs(RJ.range_join_bucketed(facts, "val", intervals, bucket_width=width))
    assert got == ref  # lossless for any bucket width


def test_bucketed_boundary_interval_not_duplicated(spark):
    # interval ending exactly on a bucket boundary must not claim that bucket
    facts = spark.createDataFrame([(1, 10.0)], "id long, val double")
    iv = spark.createDataFrame([("a", 0.0, 10.0), ("b", 10.0, 20.0)],
                               "tier string, lo double, hi double")
    got = _pairs(RJ.range_join_bucketed(facts, "val", iv, bucket_width=10.0))
    assert got == [(1, "b")]


def test_hierarchical_rollup_exact(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 10)
    rows = [
        (t0, "click", 1.25),
        (dt.datetime(2024, 1, 1, 0, 50), "click", 2.75),
        (dt.datetime(2024, 1, 1, 5, 0), "click", 10.0),
        (dt.datetime(2024, 1, 2, 0, 0), "view", 0.5),
        (dt.datetime(2024, 2, 1, 0, 0), "click", 7.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = RU.hierarchical_rollup(df, "ts", ("event_type",), "value")
    got = {
        (r["grain"], r["bucket_ts"], r["event_type"]): (r["cnt"], r["sum_value"])
        for r in out.collect()
    }
    jan1 = dt.datetime(2024, 1, 1)
    assert got[("hour", jan1, "click")] == (2, 4.0)
    assert got[("day", jan1, "click")] == (3, 14.0)
    assert got[("month", jan1, "click")] == (3, 14.0)
    assert got[("month", dt.datetime(2024, 2, 1), "click")] == (1, 7.0)
    assert got[("day", dt.datetime(2024, 1, 2), "view")] == (1, 0.5)
    # one row per grain per bucket per key; 3 grains present
    assert len({g for g, _, _ in got}) == 3


def test_hierarchical_rollup_grain_counts_consistent(spark):
    # total cnt per grain must equal the row count at every level
    import random

    rnd = random.Random(7)
    rows = [
        (dt.datetime(2024, 1, 1 + rnd.randrange(28), rnd.randrange(24)),
         rnd.choice(["a", "b"]), rnd.random())
        for _ in range(200)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = RU.hierarchical_rollup(df, "ts", ("event_type",), "value").collect()
    for g in RU.GRAINS:
        assert sum(r["cnt"] for r in out if r["grain"] == g) == 200


def test_theil_sen_all_null_hour_matches_oracle(spark, tmp_path):
    """An hour whose values are all NULL has y NULL in both engines: its
    pairs get NULL slopes, still count in n_pairs and sort last, so the
    median is NULL once more than half the pairs are NULL."""
    import duckdb

    from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries.registry import (
        all_specs,
    )

    from .oracle_harness import compare

    epoch = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        # "some": hour 1 is all NULL -> 3 of 6 pairs NULL, median non-NULL
        ("some", 0, 1.0), ("some", 1, None), ("some", 1, None),
        ("some", 2, 5.0), ("some", 3, -2.5),
        # "most": hours 1 and 2 all NULL -> 5 of 6 pairs NULL, median NULL
        ("most", 0, 1.0), ("most", 1, None), ("most", 2, None),
        ("most", 3, 4.0),
        # "mixed": a NULL next to a value in one hour is just skipped
        ("mixed", 0, 1.0), ("mixed", 0, None), ("mixed", 5, 2.0),
    ]
    df = spark.createDataFrame(
        [
            (i, epoch + dt.timedelta(hours=h, minutes=i % 7), 1, t, v, "{}")
            for i, (t, h, v) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    path = str(tmp_path)
    df.coalesce(1).write.parquet(f"{path}/events.parquet")
    spec = all_specs()["ht_theil_sen_slope"]
    got = spec.builder(spark, path).toPandas()
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{path}/events.parquet/*.parquet')"
        )
        want = con.execute(spec.oracle).fetch_df()
    finally:
        con.close()
    assert compare(got, want) == []
    null = got.set_index("event_type")["ts_slope_micro"].isna().to_dict()
    assert null == {"most": True, "some": False, "mixed": False}
