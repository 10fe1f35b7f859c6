"""The benchmark workloads. Each drives only public entry points of the
program (``sources.rest``, ``app.collect``/``insert``/``query`` and the
``queries.registry`` builders) from one closed-loop client, and checks the
output of every operation it times."""

from __future__ import annotations

import random
import shutil

from artifacts_gen import page_fetcher, records
from checks import TemplateOracle, check_store, compare, expected_tables
from harness import Run, tree_size
from tables_gen import write_tables

from harvard_artifacts_collection_data_engineering_analytics_app_spark import app, catalog
from harvard_artifacts_collection_data_engineering_analytics_app_spark.etl import (
    artifacts as etl_artifacts,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
    artifact_templates as AT,
)
from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import registry
from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import rest

SETUPS = 3  # set-ups per run; setup_s is their median
REF_RECORDS = 2_500  # one of the reference's per-classification pulls
ETL_BATCHES, ETL_BATCH_RECORDS, ETL_OVERLAP = 5, 20_000, 0.10
MIX_SCALE = 0.01
# seconds of measurement each timed pass stands for: a run times
# round(seconds / this) whole passes, at run_seconds=9 one round of q1-q20
# (~9 s of wall time on a 4-CPU box) and three passes of the mix (3-4 s each)
REF_ROUND_S, MIX_PASS_S = 9.0, 3.0
# The JVM's JIT compilers keep compiling through every pass of the mix
# (~13 CPU seconds in the first, 4-5 in the fourth, 2-3.5 from the seventh
# on), and the rest of a pass's CPU time falls with them, by about 5% a
# pass over passes three to seven. Their CPU time is reported but not gated
# (``Run.end_to_end``); two warm-up passes take the steepest part of the
# fall out of the timed ones. The reference templates compile new code on
# every round, so one warm-up round is enough there.
MIX_WARMUPS = 2
# Registered queries, one per operator module the mix covers. The first
# builds a persisted, content-keyed artifact (the dedup corpus band index),
# so its first call on a new dataset is the workload's set-up step.
MIX_QUERIES = (
    "dd_incremental_minhash_indexed",
    "flagship_pricing_summary",
    "gr_pagerank",
)


def _instrument(run: Run) -> None:
    """In a traced run, span the layer entry points the program calls."""
    tr = run.tracer
    if tr is None:
        return

    def count_records(t, out):
        t.counts["rest.records"] += len(out)

    tr.wrap(rest, "fetch_serial", "rest.fetch", on_result=count_records)
    tr.wrap(etl_artifacts, "transform_all", "etl.transform_plan")
    tr.wrap(app, "register_views", "app.register_views")
    tr.wrap(app, "query", "app.query")
    tr.wrap(catalog, "log_artifact_build", "catalog.artifact_build")


def _fetcher(run: Run, recs: list[dict]):
    fetch = page_fetcher(recs)
    if run.tracer is None:
        return fetch

    def counted(page: int) -> list[dict]:
        run.tracer.counts["rest.pages"] += 1
        return fetch(page)

    return counted


def _load(run: Run, workdir: str, recs: list[dict], phase: str) -> None:
    """E1 + E2: collect one batch of records and insert it into ``workdir``."""
    spark = run.spark
    stored_before = tree_size(workdir)[1]
    pages0 = run.tracer.counts["rest.pages"] if run.tracer else 0
    records0 = run.tracer.counts["rest.records"] if run.tracer else 0
    fetch = _fetcher(run, recs)
    run.op("app.collect", lambda: app.collect(spark, workdir, fetch, len(recs)), phase)
    counts = run.op("app.insert", lambda: app.insert(spark, workdir), phase)
    load_s = sum(o["seconds"] for o in run.ops[-2:])
    files, size = tree_size(workdir)
    stored_ids = counts["artifactmetadata"]
    run.layer["etl.records_per_s"].append(len(recs) / load_s)
    run.layer["warehouse.bytes_written_per_batch"].append(size - stored_before)
    run.layer["warehouse.files"] = [files]
    run.layer["warehouse.bytes"] = [size]
    run.layer["warehouse.bytes_per_record"] = [size / stored_ids]
    if run.tracer:
        run.layer["rest.pages"].append(run.tracer.counts["rest.pages"] - pages0)
        run.layer["rest.records"].append(run.tracer.counts["rest.records"] - records0)


def _template(run: Run, workdir: str, name: str, oracle: TemplateOracle, phase: str) -> None:
    def query():
        df = app.query(run.spark, workdir, name)
        with run.span("app.execute"):
            return df.toPandas()

    def checked():
        got = run.op(name, query, phase)
        run.verdict(f"{name} ({phase})", oracle.check(name, got))

    run.attempt(f"{name} ({phase})", checked)


def ref_queries(run: Run) -> None:
    """Set-up: start the session, then collect + insert REF_RECORDS records
    SETUPS times, each into a fresh store. Timed: shuffled rounds of q1-q20
    on the last store, each consumed with ``toPandas()`` as the reference's
    fetchall does."""
    _instrument(run)
    recs = records(run.seed, range(REF_RECORDS), REF_RECORDS // 5)
    expected = expected_tables(recs)
    run.mark("setup")
    run.start_session()
    for rep in range(SETUPS):
        workdir = run.path(f"store{rep}")
        run.setups.append(run.op_seconds(lambda: _load(run, workdir, recs, "setup")))
        run.verdict(f"load {rep}", check_store(workdir, expected))
    oracle = TemplateOracle(workdir)
    names = sorted(AT.QUERY_TEMPLATES, key=lambda n: int(n[1:]))
    order = random.Random(run.seed)

    def one_round(phase: str) -> None:
        for name in order.sample(names, len(names)):
            _template(run, workdir, name, oracle, phase)

    run.measure(one_round, REF_ROUND_S)


def artifact_etl(run: Run) -> None:
    """ETL_BATCHES batches, one per classification; consecutive batches share
    ETL_OVERLAP of their ids. Each batch: collect -> insert -> freshness reads
    (q15, q5); after each batch every table must equal the transform of the
    distinct union of the records delivered so far."""
    _instrument(run)
    run.mark("setup")
    run.start_session()
    run.mark("timed")
    workdir = run.path("store")
    step = int(ETL_BATCH_RECORDS * (1 - ETL_OVERLAP))
    delivered: list[dict] = []
    for b in range(ETL_BATCHES):
        recs = records(run.seed, range(b * step, b * step + ETL_BATCH_RECORDS), step)
        first = len(run.ops)
        _load(run, workdir, recs, "load")
        run.passes.append(sum(o["seconds"] for o in run.ops[first:]))
        delivered += recs
        run.verdict(f"batch {b + 1} load", check_store(workdir, expected_tables(delivered)))
        oracle = TemplateOracle(workdir)
        for name in ("q15", "q5"):
            _template(run, workdir, name, oracle, "timed")


def query_module(spec: registry.QuerySpec) -> str:
    """The operator module a registered query's builder lives in."""
    parts = spec.builder.__module__.split(".")
    return parts[-2] if parts[-1] == "queries" else parts[-1]


def mix_modules() -> list[str]:
    """The operator modules MIX_QUERIES cover, one ``ops.*`` metric pair each."""
    specs = registry.all_specs()
    return sorted({query_module(specs[q]) for q in MIX_QUERIES})


def operator_mix(run: Run) -> None:
    """Set-up: start the session, then SETUPS times copy the seeded tables
    to a new directory and build the persisted artifact on that copy with
    the first query of MIX_QUERIES. Timed: passes over MIX_QUERIES on the last
    copy, in seeded order, each consumed with ``toPandas()`` and checked
    against its DuckDB oracle."""
    from tests.oracle_harness import duckdb_connection

    _instrument(run)
    write_tables(run.path("tables"), run.seed, MIX_SCALE)
    specs = registry.all_specs()
    oracle_rows: dict = {}

    def run_query(data: str, name: str, phase: str) -> None:
        spec = specs[name]
        module = query_module(spec)

        def query():
            with run.span("ops.build"):
                df = spec.builder(run.spark, data)
            with run.span("ops.exec"):
                return df.toPandas()

        def checked():
            got = run.op(name, query, phase, module)
            if name not in oracle_rows:
                with duckdb_connection(data) as con:
                    oracle_rows[name] = con.execute(spec.oracle).fetch_df()
            run.verdict(f"{name} ({phase})", compare(got, oracle_rows[name]))

        run.attempt(f"{name} ({phase})", checked)

    run.mark("setup")
    run.start_session()
    for rep in range(SETUPS):
        # a new path is a new dataset to the engine: its session-scoped and
        # persisted artifacts are keyed by it, so they are built again
        data = run.path(f"tables{rep}")
        shutil.copytree(run.path("tables"), data)
        run.setups.append(run.op_seconds(lambda: run_query(data, MIX_QUERIES[0], "setup")))
    order = random.Random(run.seed)

    def one_pass(phase: str) -> None:
        for name in order.sample(MIX_QUERIES, len(MIX_QUERIES)):
            run_query(data, name, phase)

    run.measure(one_pass, MIX_PASS_S, MIX_WARMUPS)


WORKLOADS = {"ref_queries": ref_queries, "artifact_etl": artifact_etl,
             "operator_mix": operator_mix}
