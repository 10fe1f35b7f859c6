#!/usr/bin/env python
"""Oracle-check a NAMED SUBSET of registered queries (driver_sim for a
few names — the fast loop while optimizing a single operator).

    python scripts/oracle_check.py [--sf DIR] name [name ...]

Defaults to sf0.01; pass --sf /root/testdata/sf0.001 for the small grid.
Exit 0 iff every named query matches its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
# Python workers (mapInPandas/applyInPandas) import the package too; they
# see the environment the JVM is started with, not this sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.01"
    if args and args[0] == "--sf":
        sf = args[1]
        args = args[2:]
    names = args
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]"
        )
        .appName("oracle-check")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from oracle_harness import compare, duckdb_connection

    qs, osql = e.queries(), e.oracle_sql()
    failures = []
    for name in names:
        t0 = time.perf_counter()
        pdf = qs[name](spark, sf).toPandas()
        con = duckdb_connection(sf)
        try:
            odf = con.execute(osql[name]).fetch_df()
        finally:
            con.close()
        errs = compare(pdf, odf)
        print(
            f"  {'OK  ' if not errs else 'FAIL'} {name}: {len(pdf)} rows"
            f"  [{time.perf_counter() - t0:.1f}s]",
            flush=True,
        )
        if errs:
            failures.append((name, errs))
    for name, errs in failures:
        print(f"FAIL {name}: {errs}")
    print(f"{len(names)} checked, {len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
