"""End-to-end app parity: collect → insert (idempotent) → query."""

from __future__ import annotations

from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import (
    rest,
)


def test_collect_insert_query_roundtrip(spark, tmp_path):
    wd = str(tmp_path / "wd")
    raw = app.collect(spark, wd, rest.synthetic_fetcher(300), target_records=300)
    assert raw.count() == 300

    counts = app.insert(spark, wd)
    assert counts["artifactmetadata"] == 300
    assert counts["artifactmedia"] == 300
    assert counts["artifactcolors"] > 0

    # E3: every reference template runs on the built warehouse
    for name in ("q2", "q5", "q12", "q15", "q19", "q20"):
        df = app.query(spark, wd, name)
        assert df.count() >= 0


def test_insert_is_idempotent_like_insert_ignore(spark, tmp_path):
    """Re-inserting the same batch must not grow the PK tables, and a
    second batch sharing 10% of its ids adds only its new ids to all
    three tables, so every id keeps its first-delivered colors (INSERT
    IGNORE semantics, harvard_artifacts_app.py:241)."""
    wd = str(tmp_path / "wd2")
    app.collect(spark, wd, rest.synthetic_fetcher(200), target_records=200)
    first = app.insert(spark, wd)
    second = app.insert(spark, wd)
    assert first == second

    # ids 180..379: 20 shared with the first batch, all with new colors
    late = [
        {
            "id": i,
            "title": f"Late {i}",
            "colors": [
                {"spectrum": "#ccc", "hue": "Violet", "color": "#654321",
                 "percent": j / 10, "css3": "#ddd"}
                for j in range(1 + i % 3)
            ],
        }
        for i in range(180, 380)
    ]

    def fetch_late(page: int) -> list[dict]:
        return late[(page - 1) * rest.PAGE_SIZE : page * rest.PAGE_SIZE]

    app.collect(spark, wd, fetch_late, target_records=len(late))
    counts = app.insert(spark, wd)
    assert counts["artifactmetadata"] == counts["artifactmedia"] == 380

    delivered = rest.fetch_serial(rest.synthetic_fetcher(200), 200) + late
    first_delivery: dict[int, dict] = {}
    for r in delivered:
        first_delivery.setdefault(r["id"], r)
    cols = ("spectrum", "hue", "color", "percent", "css3")
    want = sorted(
        (i, *(c[k] for k in cols))
        for i, r in first_delivery.items()
        for c in (r.get("colors") or [])[:5]
    )
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(f"{wd}/artifactcolors")
        .select("objectid", *cols)
        .collect()
    )
    assert got == want
    assert len(set(got)) == len(got)


def test_chart_spec_matches_reference_auto_bar(spark):
    """The reference auto-renders a bar chart of the first two result
    columns (harvard_artifacts_app.py:433-439); chart_spec is the headless
    twin: proportional bars, max bar = full width, non-numeric second
    column → empty (the reference's silent skip)."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.app import (
        chart_spec,
    )

    df = spark.createDataFrame(
        [("a", 10), ("b", 40), ("c", 20)], "label string, cnt long"
    )
    spec = chart_spec(df, width=40)
    assert [s["label"] for s in spec] == ["a", "b", "c"]
    assert [len(s["bar"]) for s in spec] == [10, 40, 20]

    not_numeric = spark.createDataFrame(
        [("a", "x")], "label string, other string"
    )
    assert chart_spec(not_numeric) == []
    one_col = spark.createDataFrame([("a",)], "label string")
    assert chart_spec(one_col) == []
