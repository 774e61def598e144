"""Session defaults come from the host, not from a fixed core count."""

from __future__ import annotations

import os

from nerzo_spark.session import default_parallelism


def test_default_parallelism_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3


def test_local_session_lists_partitions_on_driver(spark):
    """A local master lists partition directories on the driver: a listing
    job's tasks would run in the same JVM."""
    threshold = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    assert int(threshold) == 2**31 - 1
