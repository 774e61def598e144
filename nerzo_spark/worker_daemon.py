"""The daemon a local session forks its Python workers from.

``get_spark`` names this module in ``spark.python.daemon.module`` for a
local master.  It runs the stock ``pyspark.daemon`` loop after three steps,
so that every worker starts from a loaded heap the collector leaves alone
(ARCHITECTURE.md, "Python-side scale rules"):

1. The archives Spark puts on the workers' path from ``$SPARK_HOME``
   (``python/lib/pyspark.zip``, the py4j zip and spark-core's jar) leave
   ``sys.path`` when they carry nothing the interpreter lacks: each Python
   package in one is installed at a byte-equal ``version.py`` (the jar
   carries none).  PySpark calls ``importlib.invalidate_caches()`` before
   every task, and on Python 3.11 that re-reads the directory of every zip
   on the path: 130-208 ms of CPU per task under the stock daemon, at
   most 0.1 ms without them.  An installed copy that differs, or none,
   keeps its archive.
2. What every Arrow worker imports is imported here, once: the forked
   workers share those pages instead of each importing them again.
3. ``gc.freeze()`` moves that heap out of the collector's reach; a reused
   worker runs ``gc.collect()`` after every task."""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipfile
from importlib.machinery import PathFinder

PRELOAD = ("numpy", "pandas", "pyarrow", "pyspark.worker", "pyspark.sql.pandas.serializers")


def _installed_version_py(package: str, path: list[str]) -> bytes | None:
    spec = PathFinder.find_spec(package, path)
    if spec is None or not spec.origin:
        return None
    try:
        with open(os.path.join(os.path.dirname(spec.origin), "version.py"), "rb") as fh:
            return fh.read()
    except OSError:
        return None


def drop_redundant_archives(spark_home: str) -> list[str]:
    """Take the zips and jars under ``spark_home`` off ``sys.path`` whose
    every top-level Python package is also found on the rest of the path
    with a byte-equal ``version.py``, and out of ``sys.path_importer_cache``
    (which also holds one zipimporter per directory looked up inside an
    archive); return them."""
    home = os.path.realpath(spark_home)
    archives = [
        p for p in sys.path
        if p.endswith((".zip", ".jar")) and os.path.realpath(p).startswith(home + os.sep)
    ]
    rest = [p for p in sys.path if p not in archives]
    dropped = []
    for archive in archives:
        try:
            with zipfile.ZipFile(archive) as zf:
                packages = {n.split("/", 1)[0] for n in zf.namelist() if n.endswith(".py")}
                versions = {pkg: zf.read(f"{pkg}/version.py") for pkg in packages}
        except (OSError, zipfile.BadZipFile, KeyError):
            continue
        if all(_installed_version_py(pkg, rest) == v for pkg, v in versions.items()):
            dropped.append(archive)
    for archive in dropped:
        sys.path[:] = [p for p in sys.path if p != archive]
        for key in [k for k in sys.path_importer_cache
                    if k == archive or k.startswith(archive + os.sep)]:
            del sys.path_importer_cache[key]
    return dropped


def main() -> None:
    if os.environ.get("SPARK_HOME"):
        drop_redundant_archives(os.environ["SPARK_HOME"])
    for name in PRELOAD:
        importlib.import_module(name)
    import pyspark.daemon

    gc.collect()
    gc.freeze()
    pyspark.daemon.manager()


if __name__ == "__main__":
    main()
