"""Session defaults come from the host, not from a fixed core count."""

from __future__ import annotations

import os

from nerzo_spark.session import default_parallelism


def test_default_parallelism_from_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_parallelism() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_parallelism() == 3
