"""Benchmark of the Harvard-artifacts analytics engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ref_queries --seed 1 --seconds 9 --trace 0

Workloads (see ``workloads.py``):

- ``ref_queries``  collect + insert of seeded artifact records, then rounds
                   of the reference's 20 SQL templates through ``app.query``;
- ``operator_mix`` passes over registered operator queries on seeded
                   star-schema tables;
- ``artifact_etl`` multi-batch collect/insert with freshness reads. It
                   reports the known ``artifactcolors`` overwrite defect as
                   failed operations, so it is not one of the workloads in
                   ``BENCHMARK.json``.

Every operation's output is checked (oracle time is never timed). The
last stdout line is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics from a traced run with ``--trace 1``. The lines before it name
each metric with its unit and sample count. A traced run also writes its
spans to ``.perfbench_out/``. Everything the run writes stays inside the
checkout, and the run exits non-zero when the program is not there.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "harvard_artifacts_collection_data_engineering_analytics_app_spark"


def _isolate(work_tmp: str) -> None:
    """Point Python workers at the checkout's package and keep every
    scratch file of the run inside the checkout."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = work_tmp
    os.environ["TMPDIR"] = work_tmp
    # every JVM spark-submit starts (its launcher and the driver); JIT
    # compiler threads stay alive, so that their CPU time can be told apart
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData -Djava.io.tmpdir={work_tmp}"
                                       " -XX:-UseDynamicNumberOfCompilerThreads")
    import tempfile

    tempfile.tempdir = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ref_queries", "operator_mix", "artifact_etl"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PKG) is None or not os.path.isfile(
            os.path.join(ROOT, "tests", "oracle_harness.py")):
        print(f"perfbench: the program ({PKG}/) and its oracle rules "
              f"(tests/oracle_harness.py) must sit beside perfbench/ in {ROOT}",
              file=sys.stderr)
        return 2

    from harness import Run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    os.makedirs(run.path("tmp"))
    _isolate(run.path("tmp"))
    from workloads import WORKLOADS, mix_modules

    try:
        WORKLOADS[args.workload](run)
        run.mark("close")
    finally:
        run.close()
    if run.tracer is not None:
        values, samples = run.per_layer(mix_modules())
        run.tracer.dump(os.path.join(ROOT, ".perfbench_out",
                                     f"spans-{args.workload}-seed{args.seed}.json"))
    else:
        values, samples = run.end_to_end()
    if set(values) != set(units):
        raise SystemExit(f"perfbench: measured {sorted(set(values) ^ set(units))} "
                         "differ from the metrics BENCHMARK.json declares")
    shutil.rmtree(run.work, ignore_errors=True)
    run.mark("end")

    ops = len(run.timed())
    print(f"# {args.workload} seed={args.seed}: {run.attempted} checked operations, "
          f"{run.failed} failed (error rate {run.failed / max(run.attempted, 1):.4f}); "
          f"{ops} timed operations in {len(run.passes)} passes")
    print(f"# {run.wall_summary()}")
    print("# timeline: " + ", ".join(f"{p} at {t:.1f} s" for p, t in run.phases))
    by_name: dict[str, list[tuple[float, float]]] = {}
    for o in run.timed():
        by_name.setdefault(o["name"], []).append((o["seconds"] * 1e3, o["cpu_s"] * 1e3))
    print("# timed ms (wall/CPU): " + ", ".join(
        f"{n}=" + "/".join(f"{statistics.median(x):.0f}" for x in zip(*v))
        for n, v in sorted(by_name.items())))
    for f in run.failures[:20]:
        print(f"# FAILED {f}")
    for name, value in values.items():
        print(f"# {name} = {value:.6g} {units[name]} (n={samples[name]})")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
