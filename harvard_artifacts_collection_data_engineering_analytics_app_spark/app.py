"""Headless app parity: the reference's three entry points as a CLI.

The reference is a Streamlit app with three buttons (SURVEY.md §3):
E1 "Collect Data" → E2 "Insert to SQL" → E3 "Execute Query". This module
reproduces that workflow end-to-end on Spark — a user of the reference
can run the same flow with:

    python -m harvard_artifacts_collection_data_engineering_analytics_app_spark.app \
        --workdir /tmp/artifacts --records 500 collect
    python -m ... --workdir /tmp/artifacts insert
    python -m ... --workdir /tmp/artifacts query q12
    python -m ... --workdir /tmp/artifacts query all

`collect` uses the synthetic fetcher by default (no network in this
container); pass a real fetcher programmatically via :func:`collect`.

E1 runs no Spark job: ``collect`` writes the fetched batch with pyarrow
as the one file of ``raw``. The store is read with the declared schemas
(``schemas.ARTIFACT_*``), so no read launches a schema-inference job,
and ``insert`` takes its row counts from the parquet footers. A table
or raw batch no larger than Spark's estimated cost of opening one file
(``spark.sql.files.openCostInBytes``, 4 MB by default;
:func:`one_partition_limit`) is read as one partition: ``insert``
writes each table of a small batch in one job of one task, and the
templates plan no shuffle over a small table.

E3 registers the three store tables as temp views once per store
version: a repeat query reuses them, while an ``insert`` (new files), a
new session, another workdir or a replaced view makes the next query
register them again (:func:`register_views`). A one-partition table is
cached in memory on its second read in one store version
(:func:`query`); a new version unpersists it. SCALE.md ("The reference
load path", "The reference store in memory") gives the rules and the
memory they hold. Every stdout line of the CLI is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from . import catalog
from .etl import artifacts as A
from .queries import artifact_templates as AT
from .schemas import ARTIFACT_COLORS, ARTIFACT_MEDIA, ARTIFACT_METADATA, RAW_ARTIFACT
from .session import get_spark
from .sources import rest

ARTIFACT_SCHEMAS = {
    "artifactmetadata": ARTIFACT_METADATA,
    "artifactmedia": ARTIFACT_MEDIA,
    "artifactcolors": ARTIFACT_COLORS,
}
ARTIFACT_TABLES = tuple(ARTIFACT_SCHEMAS)


def collect(
    spark: SparkSession,
    workdir: str,
    fetch_page: rest.PageFetcher,
    target_records: int = rest.DEFAULT_TARGET,
) -> DataFrame:
    """E1: paginated ingest → raw records parquet (replaces session_state).

    The fetched records, checked and converted by ``rest.arrow_records``,
    are written by pyarrow as the one file of ``raw``, under a hidden
    name that is renamed into place: no Spark job. Its row groups hold
    at most about :func:`one_partition_limit` bytes of Arrow data, so
    Spark can split a larger batch across tasks. Returns ``raw`` read
    back with ``RAW_ARTIFACT``."""
    table = rest.arrow_records(rest.fetch_serial(fetch_page, target_records))
    raw = f"{workdir}/raw"
    os.makedirs(workdir, exist_ok=True)
    group_rows = table.num_rows * one_partition_limit(spark) // max(table.nbytes, 1)
    pq.write_table(table, f"{workdir}/.raw.parquet", row_group_size=max(group_rows, 1))
    shutil.rmtree(raw, ignore_errors=True)
    os.makedirs(raw)
    os.replace(f"{workdir}/.raw.parquet", f"{raw}/part-00000.parquet")
    return spark.read.schema(RAW_ARTIFACT).parquet(raw)


def insert(spark: SparkSession, workdir: str) -> dict[str, int]:
    """E2: transform (T1-T5) → columnar warehouse (replaces TiDB INSERT).

    Cross-batch INSERT IGNORE semantics: the batch's new ids are found
    once, against the stored metadata as it was before this batch, and
    only their records reach the three tables — so an id's colors, like
    its metadata and media, are the ones first delivered. The new-id
    batch is checkpointed because the first append changes what a
    re-read of the store would return, and unpersisted once the three
    tables are written.

    Raw data whose parquet footers hold at most
    :func:`one_partition_limit` bytes is read as one partition
    (``coalesce(1)``), so neither primary-key dedup plans a shuffle and
    each table is one job of one task; larger raw data is read in as
    many tasks as Spark splits it into. Each table's row count is read
    from its parquet footers, without a Spark job.

    A failed write leaves the store partly appended: the tables already
    written keep the batch's rows, and a repeat insert of the same raw
    data skips every id that ``artifactmetadata`` (written first) holds.
    """
    raw = spark.read.schema(RAW_ARTIFACT).parquet(f"{workdir}/raw")
    size = catalog.footer_size(raw)
    append = os.path.exists(f"{workdir}/artifactmetadata")
    if append:
        old_ids = read_table(spark, workdir, "artifactmetadata").select("id")
        raw = checkpoint = raw.join(old_ids, "id", "left_anti").localCheckpoint(eager=True)
    if size is not None and size[1] <= one_partition_limit(spark):
        raw = raw.coalesce(1)

    counts: dict[str, int] = {}
    try:
        # artifactmetadata first (transform_all's order): see the docstring
        for name, df in A.transform_all(raw).items():
            df.write.mode("append" if append else "overwrite").parquet(f"{workdir}/{name}")
            counts[name] = catalog.footer_size(read_table(spark, workdir, name))[0]
        return counts
    finally:
        if append:
            checkpoint._jdf.logicalPlan().rdd().unpersist(False)


def read_table(spark: SparkSession, workdir: str, name: str) -> DataFrame:
    """One store table, read with its declared schema (no inference job)."""
    return spark.read.schema(ARTIFACT_SCHEMAS[name]).parquet(f"{workdir}/{name}")


# The tables each template reads, by name.
TEMPLATE_TABLES = {
    name: tuple(t for t in ARTIFACT_TABLES if re.search(rf"\b{t}\b", sql))
    for name, sql in AT.QUERY_TEMPLATES.items()
}
# The read of a one-partition table, within one store version, that
# caches it: the second, so a store read once per version (an insert,
# then one query per table) never pays to fill a cache it will not reuse.
CACHE_ON_READ = 2


@dataclass
class _Views:
    """The store the temp views hold: the session, store version and
    one-partition limit (:func:`one_partition_limit`) they were
    registered for, the session catalog's entry of each view as
    registered (:func:`_temp_views`), the relation behind each view that
    reads its table as one partition, and the reads of each table
    counted by ``query``."""

    spark: SparkSession
    version: tuple[str, str]
    limit: int
    one_partition: dict[str, DataFrame]
    entries: list = field(default_factory=list)
    reads: Counter = field(default_factory=Counter)


_views: _Views | None = None


def _release(app_id: str) -> None:
    """Forget the registered store and unpersist what it cached. A store
    of another application is dropped as it is: its session has stopped,
    and its cache went with it."""
    global _views
    if _views is not None and _views.version[0] == app_id:
        for df in _views.one_partition.values():
            if df.is_cached:
                df.unpersist()
    _views = None


def one_partition_limit(spark: SparkSession) -> int:
    """The most uncompressed bytes of a store table read as one partition:
    ``min(spark.sql.files.maxPartitionBytes, spark.sql.files.openCostInBytes)``.
    Spark's file scan charges ``openCostInBytes`` for each file it opens
    and cuts no split smaller than that (unless ``maxPartitionBytes`` is
    lower), so a table within the limit is less data than Spark's own
    estimate of the cost of opening one more file: reading it in one
    task gives up no split that Spark's cost model would make for its
    bytes alone."""
    conf = spark._jsparkSession.sessionState().conf()
    return min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes())


def _temp_views(spark: SparkSession) -> list:
    """The session catalog's entry (a JVM ``Option``) of each store view;
    two readings are equal while no view was dropped or replaced."""
    catalog = spark._jsparkSession.sessionState().catalog()
    return [catalog.getRawTempView(name) for name in ARTIFACT_TABLES]


def register_views(spark: SparkSession, workdir: str) -> None:
    """Register the three store tables as temp views, once per store
    version: a no-op while the session, every file of the three tables,
    the session's :func:`one_partition_limit` and the views themselves
    are the ones registered. An ``insert`` appends files and so changes
    the version, and other code may replace a temp view of the same
    name; the next call unpersists what the old registration cached and
    registers the views again.

    A table whose parquet footers hold at most ``one_partition_limit``
    uncompressed bytes is registered as one partition (``coalesce(1)``):
    its plan has ``SinglePartition`` output, which satisfies every
    aggregate, DISTINCT and global sort, so no template plans a shuffle
    over it. A larger table is read from its parquet files in as many
    tasks as Spark splits it into."""
    global _views
    limit = one_partition_limit(spark)
    version = catalog.session_version(
        spark, *(f"{workdir}/{name}" for name in ARTIFACT_TABLES)
    )
    if _views is not None and (_views.spark, _views.version, _views.limit) == (
        spark, version, limit
    ) and _views.entries == _temp_views(spark):
        return
    # Unpersist before any plan of the new version runs: Spark's cache
    # matches a parquet relation by its root paths, not by its files, so
    # a relation cached for the old version would answer the new one.
    _release(version[0])
    one_partition = {}
    for name in ARTIFACT_TABLES:
        df = read_table(spark, workdir, name)
        size = catalog.footer_size(df)
        if size is not None and size[1] <= limit:
            df = one_partition[name] = df.coalesce(1)
        df.createOrReplaceTempView(name)
    _views = _Views(spark, version, limit, one_partition, _temp_views(spark))


def query(spark: SparkSession, workdir: str, name: str) -> DataFrame:
    """E3: run one of the reference's 20 templates on the warehouse.

    Counts the reads of each table the template names; a one-partition
    table is cached (``DataFrame.cache``) on its ``CACHE_ON_READ``-th
    read in one store version. The view holds the same plan, so this
    and every later query over it scan the in-memory relation."""
    register_views(spark, workdir)
    for table in TEMPLATE_TABLES[name]:
        _views.reads[table] += 1
        df = _views.one_partition.get(table)
        if df is not None and _views.reads[table] >= CACHE_ON_READ and not df.is_cached:
            df.cache()
    return spark.sql(AT.spark_sql(name))


def chart_spec(
    df: DataFrame, max_bars: int = 20, width: int = 40
) -> list[dict]:
    """T-chart: headless equivalent of the reference's auto bar chart
    (harvard_artifacts_app.py:433-439 renders st.bar_chart of the first
    two result columns when the second is numeric).

    Returns [{label, value, bar}] with bar lengths normalized to the max
    |value| in the charted window — deterministic, terminal-renderable,
    and empty (never an error) when the result has no chartable shape,
    matching the reference's silent skip.
    """
    cols = df.columns
    if len(cols) < 2:
        return []
    rows = df.select(cols[0], cols[1]).limit(max_bars).collect()
    vals = [
        r[1]
        for r in rows
        if r[1] is not None and isinstance(r[1], (int, float)) and r[1] == r[1]
    ]
    if not vals:
        return []
    mx = max(abs(v) for v in vals) or 1
    return [
        {
            "label": str(r[0]),
            "value": r[1],
            "bar": (
                "#" * round(abs(r[1]) / mx * width)
                if isinstance(r[1], (int, float)) and r[1] is not None and r[1] == r[1]
                else ""
            ),
        }
        for r in rows
    ]


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workdir", required=True)
    p.add_argument("--records", type=int, default=500)
    sub = p.add_subparsers(dest="cmd", required=True)
    sub.add_parser("collect")
    sub.add_parser("insert")
    qp = sub.add_parser("query")
    qp.add_argument("name", help="q1..q20 or 'all'")
    qp.add_argument(
        "--chart",
        action="store_true",
        help="also emit the reference-style bar chart of the first two columns",
    )
    args = p.parse_args(argv)

    spark = get_spark(app_name="harvard-artifacts-app")
    spark.sparkContext.setLogLevel("ERROR")
    if args.cmd == "collect":
        raw = collect(
            spark, args.workdir, rest.synthetic_fetcher(args.records), args.records
        )
        print(json.dumps({"collected": raw.count()}))
    elif args.cmd == "insert":
        print(json.dumps({"inserted": insert(spark, args.workdir)}))
    elif args.cmd == "query":
        names = sorted(AT.QUERY_TEMPLATES, key=lambda s: int(s[1:])) \
            if args.name == "all" else [args.name]
        for name in names:
            df = query(spark, args.workdir, name)
            rows = df.limit(10).collect()
            out = {
                "query": name,
                "sql": AT.spark_sql(name),
                "rows": [r.asDict() for r in rows],
            }
            if args.chart:
                out["chart"] = chart_spec(df)
            print(json.dumps(out, default=str))


if __name__ == "__main__":
    main()
