"""Python workers fork from ``nerzo_spark.worker_daemon``: pyspark from the
installed package, no Spark archive on the path, a frozen heap and the
Arrow worker's imports already loaded."""

from __future__ import annotations

import json
import os
import sys
import zipfile

import pyarrow as pa
import pyspark

from nerzo_spark.worker_daemon import drop_redundant_archives

INSTALLED_VERSION_PY = os.path.join(os.path.dirname(pyspark.__file__), "version.py")


def _worker_state(batches):
    # read before anything below imports more
    pandas = sys.modules.get("pandas")
    import gc
    import zipimport

    import pyspark as worker_pyspark

    home = os.path.realpath(os.environ["SPARK_HOME"])
    # gc.get_objects() lists no frozen object, so a module dict missing from
    # it was loaded before the daemon froze its heap and forked this worker
    tracked = {id(o) for o in gc.get_objects()}
    state = {
        "pyspark": worker_pyspark.__file__,
        "spark_zipimporters": sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter)
            and os.path.realpath(k).startswith(home + os.sep)
        ),
        "frozen": gc.get_freeze_count(),
        "pandas_preloaded": pandas is not None and id(pandas.__dict__) not in tracked,
    }
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pylist([{"state": json.dumps(state)}])


def test_workers_fork_from_the_preloaded_daemon(spark):
    cores = spark.sparkContext.defaultParallelism
    rows = spark.range(0, cores, numPartitions=cores).mapInArrow(
        _worker_state, "state string"
    ).collect()
    assert len(rows) == cores
    for row in rows:
        state = json.loads(row.state)
        assert ".zip" not in state["pyspark"], state
        assert state["spark_zipimporters"] == [], state
        assert state["frozen"] > 0, state
        assert state["pandas_preloaded"], state


def _fake_spark_home(tmp_path, version_py: bytes):
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", version_py)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir()
    with zipfile.ZipFile(jars / "spark-core.jar", "w") as zf:
        zf.writestr("org/apache/spark/SparkContext.class", b"\xca\xfe")
    return tmp_path / "spark", str(lib / "pyspark.zip"), str(jars / "spark-core.jar")


def test_a_differing_installed_pyspark_keeps_its_zip(tmp_path, monkeypatch):
    home, pyspark_zip, _ = _fake_spark_home(tmp_path, b'__version__ = "0.0.1"\n')
    path = [pyspark_zip, *sys.path]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", {})

    drop_redundant_archives(str(home))

    assert sys.path == path


def test_a_matching_installed_pyspark_drops_its_zip(tmp_path, monkeypatch):
    with open(INSTALLED_VERSION_PY, "rb") as fh:
        home, pyspark_zip, jar = _fake_spark_home(tmp_path, fh.read())
    elsewhere = str(tmp_path / "user.zip")
    with zipfile.ZipFile(elsewhere, "w") as zf:
        zf.writestr("userlib/__init__.py", "")
    path = [pyspark_zip, jar, elsewhere, *sys.path]
    monkeypatch.setattr(sys, "path", list(path))
    monkeypatch.setattr(sys, "path_importer_cache", {pyspark_zip + "/pyspark": None})

    assert drop_redundant_archives(str(home)) == [pyspark_zip, jar]

    assert sys.path == path[2:]
    assert pyspark_zip + "/pyspark" not in sys.path_importer_cache
