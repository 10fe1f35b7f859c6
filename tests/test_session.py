"""Session factory: defaults sized to the machine, and a running session
returned as it is."""

from __future__ import annotations

import os

from harvard_artifacts_collection_data_engineering_analytics_app_spark import (
    session as S,
)


def test_machine_defaults_fit_the_machine():
    assert S._machine_cpus() == len(os.sched_getaffinity(0))
    heap = S._machine_driver_memory()
    assert heap.endswith("m")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert 0 < int(heap[:-1]) <= min(ram_mb // 2, 32 << 10)


def test_get_spark_returns_the_running_session_as_is(spark):
    """The fixture session was started with 8 shuffle partitions; a later
    ``get_spark()`` must not re-apply its own default (the CPU count)."""
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    assert S.get_spark() is spark
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


def test_get_spark_applies_extra_conf_to_the_running_session(spark):
    key = "spark.harvard.test.marker"
    try:
        assert S.get_spark(extra_conf={key: "on"}) is spark
        assert spark.conf.get(key) == "on"
        # launch-time confs cannot change on a running session: skipped
        heap = spark.sparkContext.getConf().get("spark.driver.memory")
        S.get_spark(extra_conf={"spark.driver.memory": "1g"})
        assert spark.sparkContext.getConf().get("spark.driver.memory") == heap
    finally:
        spark.conf.unset(key)
