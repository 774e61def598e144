"""Session defaults come from the host, not from fixed numbers, and the
local JVM's JIT policy survives a caller's own Java options."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import nerzo_spark
from nerzo_spark.session import default_parallelism

REPO = Path(nerzo_spark.__file__).parent.parent


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        return next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:")) * 1024


def _vm_option(spark, name: str) -> str:
    """A HotSpot flag's value in the session's running JVM."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return bean.getVMOption(name).getValue()


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


def test_driver_heap_fits_the_host(spark):
    """The default heap is sized from the host, so it fits in its memory."""
    assert spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory() <= _mem_total_bytes()


def test_local_driver_runs_c1_only(spark):
    """A short-lived local JVM does not pay for C2's optimizing compiles
    (ARCHITECTURE.md, "JVM-side fixed costs")."""
    assert _vm_option(spark, "TieredStopAtLevel") == "1"


_CALLER_OPTIONS_PROBE = """
import json, sys
from nerzo_spark.session import get_spark
from tests.test_session import _vm_option
spark = get_spark("jit-probe", master="local[1]", extra_conf={
    "spark.driver.extraJavaOptions": "-Djava.io.tmpdir=" + sys.argv[1]})
props = spark.sparkContext._jvm.java.lang.System.getProperty
print(json.dumps({"tier": _vm_option(spark, "TieredStopAtLevel"),
                  "tmpdir": props("java.io.tmpdir")}))
spark.stop()
"""


def test_caller_java_options_keep_c1_only(tmp_path):
    """A fresh JVM whose caller sets its own ``extraJavaOptions`` (the
    benchmark's shape: a ``java.io.tmpdir`` there) keeps the C1-only flag,
    and the caller's option applies too."""
    env = dict(os.environ, PYTHONPATH=str(REPO))
    res = subprocess.run(
        [sys.executable, "-c", _CALLER_OPTIONS_PROBE, str(tmp_path)],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads([ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1])
    assert got == {"tier": "1", "tmpdir": str(tmp_path)}
