"""End-to-end app parity: collect → insert (idempotent) → query."""

from __future__ import annotations

import json
from collections import Counter

import pytest

from harvard_artifacts_collection_data_engineering_analytics_app_spark import (
    app,
    catalog,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.etl import (
    artifacts as A,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.schemas import (
    RAW_ARTIFACT,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import (
    rest,
)


def _late_records(ids) -> list[dict]:
    """Records with 1-3 colors each, none shared with the synthetic ones."""
    return [
        {
            "id": i,
            "title": f"Late {i}",
            "colors": [
                {"spectrum": "#ccc", "hue": "Violet", "color": "#654321",
                 "percent": j / 10, "css3": "#ddd"}
                for j in range(1 + i % 3)
            ],
        }
        for i in ids
    ]


def _pages(records: list[dict]) -> rest.PageFetcher:
    def fetch_page(page: int) -> list[dict]:
        return records[(page - 1) * rest.PAGE_SIZE : page * rest.PAGE_SIZE]

    return fetch_page


def _load(spark, wd: str, fetch_page: rest.PageFetcher, n: int) -> dict[str, int]:
    app.collect(spark, wd, fetch_page, target_records=n)
    return app.insert(spark, wd)


def _colors(spark, wd: str) -> int:
    """q15: SELECT COUNT(*) AS total_color_entries FROM artifactcolors."""
    return app.query(spark, wd, "q15").collect()[0][0]


@pytest.fixture(scope="module")
def empty_colors_store(spark, tmp_path_factory):
    """A store of 200 records none of which has a color."""
    wd = str(tmp_path_factory.mktemp("no_colors"))
    recs = [{"id": i, "title": f"Plain {i}", "colors": []} for i in range(200)]
    counts = _load(spark, wd, _pages(recs), len(recs))
    assert counts["artifactcolors"] == 0
    return wd


def _persisted(spark) -> set[int]:
    """Ids of the RDDs the session's SparkContext holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


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
    late = _late_records(range(180, 380))
    counts = _load(spark, wd, _pages(late), len(late))
    assert counts["artifactmetadata"] == counts["artifactmedia"] == 380
    assert counts == {
        name: spark.read.parquet(f"{wd}/{name}").count() for name in app.ARTIFACT_TABLES
    }

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


def test_query_sees_each_insert_in_the_same_session(spark, tmp_path):
    """The temp views are kept across queries; an insert must still
    reach the next query."""
    wd = str(tmp_path / "wd")
    _load(spark, wd, rest.synthetic_fetcher(300), 300)
    before = _colors(spark, wd)
    late = _late_records(range(1000, 1100))
    _load(spark, wd, _pages(late), len(late))
    assert _colors(spark, wd) - before == sum(len(r["colors"]) for r in late)


def test_repeat_query_registers_no_views(spark, store, monkeypatch):
    """A repeat query on an unchanged store reads no table; a new
    session of the same application registers its own views."""
    app.query(spark, store, "q5")
    reads: list[str] = []
    read_table = app.read_table

    def counted(spark, workdir, name):
        reads.append(name)
        return read_table(spark, workdir, name)

    monkeypatch.setattr(app, "read_table", counted)
    colors = _colors(spark, store)
    for name in ("q5", "q12", "q20"):
        app.query(spark, store, name).collect()
    assert reads == []

    assert _colors(spark.newSession(), store) == colors
    assert reads == list(app.ARTIFACT_TABLES)


@pytest.mark.parametrize("which", ["store", "empty_colors_store"])
def test_store_paths_return_equal_rows(spark, request, monkeypatch, which):
    """All 20 templates return equal rows whether the store is read from
    parquet (here above a lowered ``maxPartitionBytes``), as one
    partition (a first read) or from memory (every table read three
    times); the LIMIT templates by row count, as in the two-engine
    test."""
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
        artifact_templates as AT,
    )

    from .oracle_harness import compare

    wd = request.getfixturevalue(which)
    names = sorted(AT.QUERY_TEMPLATES, key=lambda s: int(s[1:]))

    def run() -> dict:
        return {name: app.query(spark, wd, name).toPandas() for name in names}

    # One byte below the smallest non-empty table puts every non-empty
    # table above the gate. (One byte would split each scan into a task
    # per file byte.)
    sizes = {
        t: catalog.footer_size(app.read_table(spark, wd, t))[1]
        for t in app.ARTIFACT_TABLES
    }
    key = "spark.sql.files.maxPartitionBytes"
    limit = spark.conf.get(key)
    spark.conf.set(key, str(min(b for b in sizes.values() if b) - 1))
    try:
        parquet = run()
        assert not {t for t, b in sizes.items() if b} & set(app._views.one_partition)
    finally:
        spark.conf.set(key, limit)
    with monkeypatch.context() as m:
        m.setattr(app, "CACHE_ON_READ", float("inf"))
        one_partition = run()
        assert set(app._views.one_partition) == set(app.ARTIFACT_TABLES)
        assert not any(spark.catalog.isCached(t) for t in app.ARTIFACT_TABLES)
    run()  # every table is read at least twice, so all three are cached
    in_memory = run()
    assert all(spark.catalog.isCached(t) for t in app.ARTIFACT_TABLES)

    for name in names:
        for other in (one_partition, in_memory):
            if name in AT.NONDETERMINISTIC_LIMIT:
                assert len(other[name]) == len(parquet[name]), name
            else:
                assert compare(other[name], parquet[name]) == [], name


def test_one_partition_limit_is_the_file_open_cost(spark, store):
    """A store table is read as one partition only within
    ``min(maxPartitionBytes, openCostInBytes)``: a table above Spark's
    file open cost is read from parquet although it fits in one scan
    task's ``maxPartitionBytes``."""
    key = "spark.sql.files.openCostInBytes"
    cost = spark.conf.get(key)
    sizes = {
        t: catalog.footer_size(app.read_table(spark, store, t))[1]
        for t in app.ARTIFACT_TABLES
    }
    colors = _colors(spark, store)
    spark.conf.set(key, str(max(sizes.values()) - 1))
    try:
        assert _colors(spark, store) == colors
        big = {t for t, b in sizes.items() if b == max(sizes.values())}
        assert set(app._views.one_partition) == set(app.ARTIFACT_TABLES) - big
    finally:
        spark.conf.set(key, cost)
    assert _colors(spark, store) == colors
    assert set(app._views.one_partition) == set(app.ARTIFACT_TABLES)


def test_store_is_cached_on_its_second_read(spark, tmp_path):
    """A table is cached on its second read in one store version, so an
    insert followed by one read of each table (q15, q5) caches nothing.
    The next version unpersists what the last one cached, so at most the
    three current tables stay cached, and its queries see the insert."""
    wd = str(tmp_path / "wd")
    _load(spark, wd, rest.synthetic_fetcher(300), 300)
    before = _persisted(spark)
    colors = _colors(spark, wd)
    app.query(spark, wd, "q5").collect()
    assert not any(spark.catalog.isCached(t) for t in app.ARTIFACT_TABLES)
    assert not _persisted(spark) - before

    assert _colors(spark, wd) == colors  # artifactcolors' second read
    assert [spark.catalog.isCached(t) for t in app.ARTIFACT_TABLES] == [
        False, False, True
    ]
    app.query(spark, wd, "q5").collect()
    cached = _persisted(spark) - before
    assert len(cached) == 2

    late = _late_records(range(1000, 1100))
    _load(spark, wd, _pages(late), len(late))
    before = _persisted(spark)  # the insert freed its batch's checkpoint
    assert _colors(spark, wd) - colors == sum(len(r["colors"]) for r in late)
    assert not _persisted(spark) & cached
    for _ in range(2):
        app.query(spark, wd, "q19").collect()  # reads all three tables
    assert all(spark.catalog.isCached(t) for t in app.ARTIFACT_TABLES)
    assert len(_persisted(spark) - before) == 3


def test_append_insert_frees_its_checkpoint(spark, tmp_path):
    """The new-id batch an append checkpoints is unpersisted once the
    three tables are written."""
    wd = str(tmp_path / "wd")
    _load(spark, wd, rest.synthetic_fetcher(200), 200)
    late = _late_records(range(150, 250))
    app.collect(spark, wd, _pages(late), len(late))
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert app.insert(spark, wd)["artifactmetadata"] == 250
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_failed_insert_stores_no_row_twice(spark, tmp_path, monkeypatch):
    """``artifactmetadata``, which decides the ids an insert skips, is
    written first: when a later write of an append fails, the repeat
    insert leaves that table's rows out and stores no primary key twice."""
    wd = str(tmp_path / "wd")
    _load(spark, wd, rest.synthetic_fetcher(200), 200)
    late = _late_records(range(150, 250))
    app.collect(spark, wd, _pages(late), len(late))
    transform_all = A.transform_all

    def failing(raw):
        out = transform_all(raw)
        out["artifactcolors"] = out["artifactcolors"].selectExpr(
            "*", "assert_true(objectid < 0) AS failed")
        return out

    monkeypatch.setattr(A, "transform_all", failing)
    with pytest.raises(Exception):
        app.insert(spark, wd)
    monkeypatch.setattr(A, "transform_all", transform_all)
    app.insert(spark, wd)
    for name, key in (("artifactmetadata", "id"), ("artifactmedia", "objectid")):
        df = app.read_table(spark, wd, name)
        assert df.count() == df.select(key).distinct().count() == 250, name
    colors = app.read_table(spark, wd, "artifactcolors")
    assert colors.where("objectid >= 200").count() == 0


def test_replaced_temp_view_is_registered_again(spark, store):
    """A temp view of a store table's name that other code replaced is
    not the store: the next query registers the views again."""
    colors = _colors(spark, store)
    spark.range(5).toDF("objectid").createOrReplaceTempView("artifactcolors")
    assert _colors(spark, store) == colors != 5


def _edge_records() -> list[dict]:
    """Records in every shape the raw schema admits."""
    color = {"spectrum": "#aaa", "hue": "Grey", "color": "#111", "percent": 0.5,
             "css3": "#bbb"}
    return [
        {"id": 1},  # every other key missing
        {**{f.name: None for f in RAW_ARTIFACT.fields}, "id": 2},  # explicit None
        {"id": 3, "colors": [{**color, "percent": p}
                             for p in (float("nan"), float("inf"), float("-inf"), None)]},
        {"id": 4, "colors": []},
        {"id": 5, "colors": [{**color, "hue": f"h{i}"} for i in range(9)]},
        {"id": 6, "description": "d" * 600, "datebegin": -600, "dateend": -550,
         "accessionyear": 1950, "title": "t", "colors": [{"hue": "Red"}, None]},
    ]


def test_collected_raw_equals_create_dataframe(spark, tmp_path):
    """``raw`` written by pyarrow reads back as the rows
    ``createDataFrame(records, RAW_ARTIFACT)`` holds, and so does
    ``rest.ingest_serial``; a value ``createDataFrame`` rejects is
    rejected by ``collect`` too."""
    recs = _edge_records()

    def rows(df) -> list[str]:  # repr: NaN equals NaN
        return [repr(r) for r in df.orderBy("id").collect()]

    want = rows(spark.createDataFrame(recs, RAW_ARTIFACT))
    wd = str(tmp_path / "wd")
    assert rows(app.collect(spark, wd, _pages(recs), len(recs))) == want
    assert rows(spark.read.parquet(f"{wd}/raw")) == want
    assert rows(rest.ingest_serial(spark, _pages(recs), len(recs))) == want
    for bad in (1950.5, "1950", True):
        rec = [{"id": 7, "accessionyear": bad}]
        with pytest.raises(TypeError):
            spark.createDataFrame(rec, RAW_ARTIFACT)
        with pytest.raises(TypeError):
            app.collect(spark, str(tmp_path / "bad"), _pages(rec), 1)


def test_insert_paths_write_equal_tables(spark, tmp_path, monkeypatch):
    """Raw data within the one-partition limit is inserted with no
    shuffle; above it (``openCostInBytes`` lowered below raw's footer
    bytes) raw is written in several row groups and the dedups shuffle.
    Both write the same tables, for a fresh load and for an append, and
    store a NaN or ±inf percent as NULL."""
    import pyarrow.parquet as pq

    from .test_job_counts import _plan_nodes

    edge = [{**r, "id": r["id"] + 1000} for r in _edge_records()]
    batches = [rest.fetch_serial(rest.synthetic_fetcher(300), 300) + edge,
               _late_records(range(250, 400))]
    planned = []
    transform_all = A.transform_all

    def kept(raw):
        out = transform_all(raw)
        planned.append(out["artifactmetadata"])
        return out

    monkeypatch.setattr(A, "transform_all", kept)

    def tables(wd: str) -> dict:
        return {
            t: Counter(tuple(r) for r in app.read_table(spark, wd, t).collect())
            for t in app.ARTIFACT_TABLES
        }

    def shuffles() -> bool:
        nodes = _plan_nodes(planned[-1]._jdf.queryExecution().executedPlan())
        return "ShuffleExchangeExec" in nodes

    small, large = str(tmp_path / "small"), str(tmp_path / "large")
    key = "spark.sql.files.openCostInBytes"
    cost = spark.conf.get(key)
    for recs in batches:
        app.collect(spark, small, _pages(recs), len(recs))
        counts = app.insert(spark, small)
        assert not shuffles()
        raw_bytes = catalog.footer_size(spark.read.parquet(f"{small}/raw"))[1]
        spark.conf.set(key, str(raw_bytes - 1))
        try:
            app.collect(spark, large, _pages(recs), len(recs))
            assert pq.read_metadata(f"{large}/raw/part-00000.parquet").num_row_groups > 1
            assert app.insert(spark, large) == counts
            assert shuffles()
        finally:
            spark.conf.set(key, cost)
        assert tables(small) == tables(large)
    assert counts["artifactmetadata"] == 406
    # T4 on the stored rows: NaN and ±inf percents are NULL, a missing one 0.0
    percents = app.read_table(spark, small, "artifactcolors").where("objectid = 1003")
    assert Counter(r.percent for r in percents.collect()) == {None: 3, 0.0: 1}


def test_store_of_a_stopped_application_is_dropped(spark, store):
    """Views registered by another application (a stopped session) are
    forgotten without an unpersist: that session's cache is gone."""

    class Stopped:
        is_cached = True

        def unpersist(self):
            raise AssertionError("unpersist on a stopped application")

    app._release(spark.sparkContext.applicationId)
    app._views = app._Views(
        spark, ("local-stopped", "0"), 0, {"artifactcolors": Stopped()}
    )
    assert _colors(spark, store) > 0
    assert app._views.version[0] == spark.sparkContext.applicationId


def test_query_reads_the_workdir_it_is_given(spark, store, tmp_path):
    colors = _colors(spark, store)
    other = str(tmp_path / "other")
    late = _late_records(range(1000, 1040))
    _load(spark, other, _pages(late), len(late))
    assert _colors(spark, other) == sum(len(r["colors"]) for r in late)
    assert _colors(spark, store) == colors


def test_store_matches_the_declared_schemas(spark, store):
    """The store is read with ``app.ARTIFACT_SCHEMAS`` (no inference), so
    what the ETL writes must keep matching them column for column and
    type for type."""
    for name, declared in app.ARTIFACT_SCHEMAS.items():
        written = spark.read.parquet(f"{store}/{name}").schema
        assert [(f.name, f.dataType) for f in written] == [
            (f.name, f.dataType) for f in declared
        ], name


def test_cli_prints_one_json_object_per_line(spark, tmp_path, capsys):
    wd = str(tmp_path / "cli")
    app.main(["--workdir", wd, "--records", "300", "collect"])
    app.main(["--workdir", wd, "--records", "300", "insert"])
    loads = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert loads[0] == {"collected": 300}
    assert loads[1]["inserted"]["artifactmetadata"] == 300

    app.main(["--workdir", wd, "query", "all"])
    out = [json.loads(line) for line in capsys.readouterr().out.splitlines()]
    assert [o["query"] for o in out] == [f"q{i}" for i in range(1, 21)]
