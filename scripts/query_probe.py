#!/usr/bin/env python
"""Where a warm call of one registered query spends its Spark work and CPU.

    python scripts/query_probe.py NAME --sf DIR [--calls N]
    python scripts/query_probe.py qN --store WORKDIR [--calls N]
    python scripts/query_probe.py --load RECORDS [--calls N]

Runs ``NAME`` once cold (building any persisted or session artifact),
then ``N`` warm calls (default 3), each as two job groups: the builder
(``spec.builder(spark, sf)``) and the action (``toPandas``). With
``--store``, ``NAME`` is one of the reference's 20 templates and the
builder is ``app.query(spark, WORKDIR, NAME)`` on a store that
``app.collect`` and ``app.insert`` wrote: the cold call is each table's
first read, the first warm call caches the one-partition tables it
reads (their second read), and later calls read them from memory. With
``--load``, a call is the reference load of RECORDS synthetic records
(``rest.synthetic_fetcher``, generated before the clock starts) into a
new store in the temporary directory, as two job groups: ``app.collect``
and ``app.insert``. For every warm call it prints:

- jobs, stages and tasks per job group (``statusTracker``; a stage is
  counted when it ran at least one task, so stages AQE reused or skipped
  are left out);
- wall and CPU seconds of each job group: CPU of the driver's process
  tree (this Python process, the JVM and the JVM's Python workers);
- the JVM's CPU over the whole call split by thread name
  (``/proc/<jvm>/task/*/comm``, numbers folded to ``N``), the C1/C2
  JIT compiler threads apart. Threads that exit during the call are not
  seen; the total line says how much of the JVM's CPU that left out.

Reads only ``/proc`` and Spark's status tracker: no event log, no Spark
UI, no package beyond PySpark. The session is ``session.get_spark`` on
``local[$SPARK_GRAFT_CPUS]`` (default: the CPUs this process may use),
with its warehouse in a fresh temporary directory that is removed at
exit. ``--sf`` names the table directory (default $SPARK_GRAFT_SF_DIR).
"""

from __future__ import annotations

import argparse
import os
import re
import shutil
import statistics
import sys
import tempfile
import time
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Python workers import the package too; they see the JVM's environment
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_JIT = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(pid) -> tuple[int, float]:
    """(parent pid, user + system CPU s with reaped children) of ``pid``."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[1]), sum(int(x) for x in fields[11:15]) * _TICK_S


def tree_cpu(root: int) -> float:
    """CPU seconds of process ``root`` and all its descendants."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = _stat(d)
            except OSError:
                continue
    tree, frontier = {root}, {root}
    while frontier:
        frontier = {p for p, (pp, _) in parent.items() if pp in frontier} - tree
        tree |= frontier
    return sum(parent[p][1] for p in tree if p in parent)


def thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """tid -> (comm, CPU s from schedstat) for every live thread of ``pid``."""
    out = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/task/{tid}/schedstat") as f:
                out[int(tid)] = (comm, int(f.read().split()[0]) / 1e9)
        except OSError:
            continue
    return out


def thread_split(before: dict, after: dict) -> Counter:
    """CPU seconds per thread name between two ``thread_cpu`` readings,
    numbers folded (``GC Thread#3`` and its siblings are one name); a
    thread born in between counts from 0."""
    split: Counter = Counter()
    for tid, (comm, s) in after.items():
        if comm.startswith(_JIT):
            name = "JIT " + comm[:2]
        else:
            name = re.sub(r"(?<![A-Za-z])\d+", "N", comm)
        split[name] += s - before.get(tid, (comm, 0.0))[1]
    return split


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks run) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks + s.numFailedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks + s.numFailedTasks
    return len(jobs), stages, tasks


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("name", nargs="?")
    sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf", default=sf)
    ap.add_argument("--store", help="a reference store (overrides --sf); NAME: q1..q20")
    ap.add_argument("--load", type=int, metavar="RECORDS",
                    help="probe app.collect + app.insert of RECORDS records instead")
    ap.add_argument("--calls", type=int, default=3)
    args = ap.parse_args()
    if args.load is None and args.name is None:
        ap.error("NAME or --load is required")
    if args.load is None and args.sf is None and args.store is None:
        ap.error("--sf (or $SPARK_GRAFT_SF_DIR) or --store is required")

    from harvard_artifacts_collection_data_engineering_analytics_app_spark import app
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.queries import (
        registry,
    )
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.session import (
        get_spark,
    )
    from harvard_artifacts_collection_data_engineering_analytics_app_spark.sources import rest

    work = tempfile.mkdtemp(prefix="query_probe_")
    if args.load is not None:
        what = f"load of {args.load} records"
        recs = rest.fetch_serial(rest.synthetic_fetcher(args.load), args.load)

        def fetch(page):
            return recs[(page - 1) * rest.PAGE_SIZE:page * rest.PAGE_SIZE]

        def call(k):
            wd = os.path.join(work, f"store{k}")
            return [("collect", lambda: app.collect(spark, wd, fetch, len(recs))),
                    ("insert", lambda: app.insert(spark, wd))]
    else:
        source = args.store or args.sf
        what = f"{args.name} @ {source}"
        if args.store:
            def builder(spark, store):
                return app.query(spark, store, args.name)
        else:
            builder = registry.all_specs()[args.name].builder

        def call(k):
            out = {}
            return [("builder", lambda: out.setdefault("df", builder(spark, source))),
                    ("action", lambda: out["df"].toPandas())]
    spark = get_spark(
        app_name="query-probe",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        sc = spark.sparkContext
        me = os.getpid()
        jvm = spark._jvm.java.lang.ProcessHandle.current().pid()
        t0 = time.perf_counter()
        for _, fn in call("cold"):
            fn()
        print(f"{what}, {sc.master}: cold call {time.perf_counter() - t0:.2f} s")

        def phase(group: str, fn):
            sc.setJobGroup(group, group)
            try:
                c0, w0 = tree_cpu(me), time.perf_counter()
                fn()
                return time.perf_counter() - w0, tree_cpu(me) - c0
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)

        cpu = {}
        for k in range(args.calls):
            thr0, jvm0, w0 = thread_cpu(jvm), _stat(jvm)[1], time.perf_counter()
            parts = [(part, *phase(f"probe-{k}-{part}", fn)) for part, fn in call(k)]
            wall = time.perf_counter() - w0
            split = thread_split(thr0, thread_cpu(jvm))
            jvm_s = _stat(jvm)[1] - jvm0
            print(f"\nwarm call {k + 1}: wall {wall:.3f} s, "
                  f"process-tree CPU {sum(c for _, _, c in parts):.3f} s")
            for part, w, c in parts:
                cpu.setdefault(part, []).append(c)
                j, s, t = group_counts(sc, f"probe-{k}-{part}")
                print(f"  {part:8s} wall {w:.3f} s  CPU {c:.3f} s   "
                      f"jobs {j}  stages {s}  tasks {t}")
            jit = sum(v for n, v in split.items() if n.startswith("JIT"))
            print(f"  JVM CPU {jvm_s:.3f} s (JIT {jit:.3f} s, "
                  f"threads that exited {max(0.0, jvm_s - sum(split.values())):.3f} s)")
            for name, v in split.most_common():
                if v >= 0.005:
                    print(f"    {v:7.3f}  {name}")
        med = {p: statistics.median(v) for p, v in cpu.items()}
        print(f"\nmedian of {args.calls} warm calls: "
              + ", ".join(f"{p} {v:.3f} s" for p, v in med.items())
              + f", total {sum(med.values()):.3f} s process-tree CPU")
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
