"""Tests for the benchmark's own parts.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time

import duckdb
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

from artifacts_gen import artifact, page_fetcher, records  # noqa: E402
from checks import TABLE_COLUMNS, compare_limited, expected_tables  # noqa: E402
from harness import ProgramCpu, Run  # noqa: E402
from tracing import Tracer, fold_event_log, read_events  # noqa: E402

from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (  # noqa: E402
    artifact_templates as AT,
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# --- seeded artifact generator -------------------------------------------

def _dump(recs) -> str:
    return json.dumps(recs, sort_keys=True)  # NaN-safe equality


def test_generator_is_deterministic_per_seed():
    assert _dump(records(7, range(300), 60)) == _dump(records(7, range(300), 60))
    assert _dump(records(7, range(300), 60)) != _dump(records(8, range(300), 60))
    # a re-delivered id carries an identical record
    assert _dump(artifact(7, 123, 60)) == _dump(records(7, range(100, 200), 60)[23])


def test_generator_fills_the_raw_field_set_with_edge_cases():
    recs = records(3, range(2000), 400)
    fields = {"title", "culture", "period", "century", "medium", "dimensions",
              "description", "department", "accessionyear", "accessionmethod",
              "imagecount", "mediacount", "colorcount", "rank", "datebegin", "dateend"}
    for f in fields:
        assert any(f not in r for r in recs), f"{f} never missing"
        assert any(f in r and r[f] is None for r in recs), f"{f} never NULL"
        assert any(r.get(f) is not None for r in recs), f"{f} never set"
    assert any(len(r.get("description") or "") > 500 for r in recs)
    pcts = [c["percent"] for r in recs for c in r.get("colors") or []]
    assert any(p is not None and math.isnan(p) for p in pcts)
    assert float("inf") in pcts and float("-inf") in pcts
    assert any(len(r.get("colors") or []) > 5 for r in recs)
    assert any("colors" not in r for r in recs) and any(r.get("colors") == [] for r in recs)


def test_page_fetcher_serves_pages_of_100():
    recs = records(1, range(250), 50)
    fetch = page_fetcher(recs)
    assert [len(fetch(p)) for p in (1, 2, 3, 4)] == [100, 100, 50, 0]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_every_reference_template_returns_rows(seed):
    """Run the 20 templates on the transform of a ref_queries-sized input."""
    tables = expected_tables(records(seed, range(5000), 1000))
    con = duckdb.connect()
    for name, cols in TABLE_COLUMNS.items():
        frame = pd.DataFrame(tables[name], columns=cols)  # noqa: F841 (read by DuckDB)
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM frame")
    empty = [q for q in AT.QUERY_TEMPLATES
             if not con.execute(AT.duckdb_sql(q)).fetchall()]
    assert empty == []


def test_generated_tables_keep_the_profiled_shape():
    from tables_gen import make_tables

    t = make_tables(5, 0.01)
    assert {k: len(v) for k, v in t.items()} == {
        "region": 5, "nation": 25, "customer": 1500, "supplier": 100, "part": 2000,
        "orders": 15000, "lineitem": 60000, "events": 10000, "documents": 500,
        "embeddings": 500}
    docs = t["documents"]
    assert docs.text.str.endswith(" dup").sum() == 25  # one in twenty is a copy
    assert (docs.source == "src" + (docs.doc_id % 20).astype(str)).all()
    assert t["events"].ts.is_monotonic_increasing
    li = t["lineitem"]
    assert abs(li.l_extendedprice.corr(li.l_quantity)) < 0.05


# --- LIMIT-aware comparer -------------------------------------------------

ORACLE = pd.DataFrame({"title": ["a", "b", "c", "d"], "year": [2000, 1999, 1999, 1990]})


def test_limited_compare_accepts_a_different_tie():
    got = pd.DataFrame({"title": ["a", "c"], "year": [2000, 1999]})
    assert compare_limited(got, ORACLE, 2, "year") == []


def test_limited_compare_rejects_a_wrong_row():
    got = pd.DataFrame({"title": ["a", "x"], "year": [2000, 1999]})
    assert compare_limited(got, ORACLE, 2, "year")


def test_limited_compare_rejects_wrong_order_count_and_columns():
    assert compare_limited(ORACLE.iloc[[1, 0]], ORACLE, 2, "year")
    assert compare_limited(ORACLE.iloc[:1], ORACLE, 2, None)
    assert compare_limited(ORACLE.rename(columns={"year": "y"}), ORACLE, 2, None)
    # a bare LIMIT accepts any rows of the unlimited result
    assert compare_limited(ORACLE.iloc[[3, 1]], ORACLE, 2, None) == []


# --- event-log fold -------------------------------------------------------

def test_fold_attributes_jobs_by_group_and_measures_the_driver_gap():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "op0"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 300, "Executor CPU Time": 2e8},
         "Task Info": {"Accumulables": [{"Name": "scan time", "Update": "40"}]}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Completion Time": 1400}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1400},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500,
         "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "other"}},
    ]
    per = fold_event_log(events, {"op0": (0.5, 2.0)})
    assert per["op0"]["spark.jobs"] == 1 and per["op0"]["spark.tasks"] == 1
    assert per["op0"]["spark.task_run_s"] == pytest.approx(0.3)
    assert per["op0"]["spark.task_cpu_s"] == pytest.approx(0.2)
    assert per["op0"]["spark.scan_s"] == pytest.approx(0.04)
    assert per["op0"]["spark.driver_gap_s"] == pytest.approx(1.5 - 0.4)
    assert "other" not in per


def test_fold_counts_a_real_two_job_query(tmp_path):
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[2]").appName("perfbench-fold-test")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", str(log_dir))
             .config("spark.eventLog.compress", "false")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.warehouse.dir", str(tmp_path / "warehouse"))
             .getOrCreate())
    try:
        sc = spark.sparkContext
        sc.setJobGroup("op0", "two jobs", False)
        sc.parallelize(range(10), 2).count()
        sc.parallelize(range(10), 3).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.parallelize(range(10), 4).count()  # outside the op: not attributed
    finally:
        spark.stop()
    per = fold_event_log(read_events(str(log_dir)), {"op0": (0.0, 1e12)})
    assert per["op0"]["spark.jobs"] == 2
    assert per["op0"]["spark.stages"] == 2
    assert per["op0"]["spark.tasks"] == 5


def _burn(seconds: float) -> None:
    end = time.thread_time() + seconds
    while time.thread_time() < end:
        pass


def test_program_cpu_counts_this_process_exited_threads_and_reaped_children():
    cpu = ProgramCpu(os.getpid())
    before, _ = cpu()
    _burn(0.3)
    worker = threading.Thread(target=_burn, args=(0.3,))
    worker.start()
    worker.join()
    subprocess.run([sys.executable, "-c",
                    "import time\nend = time.process_time() + 0.3\n"
                    "while time.process_time() < end: pass"], check=True)
    # the thread has exited and the child was reaped before this reading
    assert cpu()[0] - before >= 0.8


def test_program_cpu_takes_out_its_own_cost():
    cpu = ProgramCpu(os.getpid())
    first, _ = cpu()
    for _ in range(20):
        cpu()
    # twenty idle readings of /proc add (almost) nothing
    assert cpu()[0] - first < 0.05


def test_tracer_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer", op="op0"):
        with tr.span("inner"):
            pass
    outer = tr.spans[0]
    inner = tr.spans[1]
    assert inner["parent"] == 0 and inner["op"] == "op0"
    assert tr.self_times("outer")[0] == pytest.approx(
        (outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))


# --- the runner's contract -------------------------------------------------

def test_runner_emits_every_declared_metric(tmp_path):
    from workloads import mix_modules

    bench = _benchmark_json()
    assert {w["name"] for w in bench["workloads"]} <= {"ref_queries", "operator_mix"}

    run = Run(str(tmp_path), "ref_queries", 1, 1.0, trace=True)
    run.setups, run.passes, run.pass_cpu = [1.0, 1.1, 1.2], [2.0], [2.5]
    assert "passes 2.00 s" in run.wall_summary()
    run.ops = [{"id": f"op{i}", "name": "q1", "phase": "timed", "module": "",
                "seconds": 0.1 * (i + 1), "cpu_s": 0.2, "start": 0.0, "end": 1.0, "rows": 1}
               for i in range(4)]
    os.makedirs(run.path("eventlog"))
    values, samples = run.end_to_end()
    assert set(values) == set(samples) == {m["name"] for m in bench["end_to_end"]}
    assert samples == {"setup_s": 3, "pass_cpu_s": 1}
    values, samples = run.per_layer(mix_modules())
    assert set(values) == set(samples) == {m["name"] for m in bench["per_layer"]}
    assert samples["spark.tasks"] == 4 and samples["mem.peak_rss_mb"] == 1


def test_pass_cpu_is_the_sum_of_per_operation_medians(tmp_path):
    run = Run(str(tmp_path), "operator_mix", 1, 1.0, trace=False)
    # two operations over three timed passes; each jumps once, in a
    # different pass, so the median of pass totals (4.5) keeps a jump
    cpu = {"a": [1.0, 1.5, 1.0], "b": [3.0, 3.0, 4.0]}
    run.ops = [{"name": n, "phase": "timed", "cpu_s": cpu[n][p]}
               for p in range(3) for n in ("a", "b")]
    run.ops.append({"name": "a", "phase": "warmup", "cpu_s": 9.0})
    run.pass_cpu = [4.0, 4.5, 5.0]
    assert run.typical_pass_cpu() == pytest.approx(4.0)
    assert run.end_to_end()[1]["pass_cpu_s"] == 3


def test_runner_fails_without_the_program(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ref_queries", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
