"""SparkSession factory.

The reference keeps a single memoized DB connection
(``harvard_artifacts_app.py:19-33``); our equivalent is a singleton
SparkSession tuned for columnar analytics:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
- shuffle partitions and driver heap sized to the machine (the CPUs in
  this process's affinity mask, half of RAM) unless ``SPARK_GRAFT_CPUS``
  / ``SPARK_GRAFT_DRIVER_MEM`` say otherwise — on a real cluster AQE
  coalescing makes the initial number a ceiling, not a constant cost
- UTC session timezone so timestamp semantics match the DuckDB oracle
- Arrow-backed pandas interchange for the few Pandas-UDF operators

At 100 TB these configs change per-cluster; everything here is a default,
not a hard-coded assumption.
"""

from __future__ import annotations

import os

from pyspark.errors import AnalysisException
from pyspark.sql import SparkSession


def _machine_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the host)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _machine_driver_memory() -> str:
    """Half of physical memory, capped at 32g: a heap larger than RAM ends
    in the kernel's OOM kill, not a Java OutOfMemoryError."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(ram // 2, 32 << 30) >> 20}m"


DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or _machine_cpus())


def get_spark(
    app_name: str = "harvard-artifacts-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create a SparkSession with analytics-friendly defaults, or return the
    running one as it is.

    On a running session only ``extra_conf`` is applied (static and
    launch-time keys stay as the session was started): re-applying every
    default would override the choices of whoever started the session.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        for k, v in (extra_conf or {}).items():
            try:
                active.conf.set(k, v)
            except AnalysisException:
                pass  # static or launch-time conf: fixed for the session
        return active
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        # local mode = the driver JVM IS the cluster: Spark's 1g default
        # heap GC-thrashes to death under 32 concurrent Arrow tasks at
        # sf>=1 (measured: JVM killed mid-bench). Size it to the machine;
        # on a real cluster this would be executor memory instead.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _machine_driver_memory(),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_analytics_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-mutable confs to a session we did not create.

    The driver hands ``entry(spark)`` / ``queries()`` callables an arbitrary
    session; timezone and AQE are runtime-settable, so pin the ones that
    affect result correctness (timezone) or plan quality (AQE).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    return spark
