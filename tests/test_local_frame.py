"""One Python worker pool per session.

Spark pools Python workers per worker environment.  The Arrow UDFs share
one pool (the one ``session.warm_python_workers`` starts); a pickled Python
RDD, which ``createDataFrame`` builds from a list or from an empty pandas
frame, runs in another and starts a second ``pyspark.daemon`` with one
worker per core.  Driver-built frames therefore go through
``session.local_frame``, which hands Spark a ``pyarrow.Table`` and starts
no worker at all.

- Tripwire: a fresh process runs the paths that used to build an empty
  frame from a list (a fresh-directory ``run_incremental``, a
  zero-collision ``canonical_overrides``, a zero-row ``knn_self_join``)
  and counts the daemons its JVM started.
- Tripwire: the AST of the program is walked, and a ``createDataFrame(``
  call outside ``local_frame`` fails the test.
- The converted sites keep their schemas on empty input."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from pathlib import Path

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import nerzo_spark
from nerzo_spark.session import local_frame

REPO = Path(nerzo_spark.__file__).parent.parent
PROGRAM = [REPO / "nerzo_spark", REPO / "jobs", REPO / "bench.py", REPO / "__spark_entry__.py"]


def _create_calls(tree: ast.AST) -> list[ast.Call]:
    return [
        n for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "createDataFrame"
    ]


def _local_frame_def() -> ast.FunctionDef:
    tree = ast.parse((REPO / "nerzo_spark" / "session.py").read_text())
    return next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "local_frame"
    )


def test_local_frame_calls_create_dataframe():
    # the walker must see the helper's own call, so the rule below is live
    assert len(_create_calls(_local_frame_def())) == 1


def test_frames_are_built_only_through_local_frame():
    allowed = {(c.lineno, c.col_offset) for c in _create_calls(_local_frame_def())}
    session_py = REPO / "nerzo_spark" / "session.py"
    files = [f for p in PROGRAM for f in (sorted(p.rglob("*.py")) if p.is_dir() else [p])]
    assert session_py in files
    found = [
        f"{path.relative_to(REPO)}:{c.lineno} .createDataFrame("
        for path in files
        for c in _create_calls(ast.parse(path.read_text(), filename=str(path)))
        if not (path == session_py and (c.lineno, c.col_offset) in allowed)
    ]
    assert found == []


_POOL_PROBE = r"""
import json, os, sys

from nerzo_spark.fixtures.corpus import generate
from nerzo_spark.fixtures.spark_io import corpus_df
from nerzo_spark.operators.canonicalize import canonical_overrides
from nerzo_spark.operators.topk import knn_self_join
from nerzo_spark.pipeline.incremental import run_incremental
from nerzo_spark.session import get_spark, local_frame, warm_python_workers

spark = get_spark("pool-probe")
warm_python_workers(spark)
fx = generate(n_files=40)
run_incremental(spark, corpus_df(spark, fx), fx.anchors, sys.argv[1])
no_collision = local_frame(
    spark, [("person", "Ada Lovelace"), ("organization", "Acme Corp")],
    "fine_type string, surface string",
)
assert canonical_overrides(no_collision).collect() == []
no_vectors = local_frame(spark, [], "vec_id long, embedding array<float>, label int")
assert knn_self_join(no_vectors, k=3).collect() == []


def children(pid):
    out = []
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:  # exited while we looked
            continue
        if ppid == pid and b"pyspark.daemon" in cmd:
            out.append(int(p))
    return out


daemons = children(spark.sparkContext._gateway.proc.pid)
print(json.dumps({
    "daemons": len(daemons),
    "workers": sum(len(children(d)) for d in daemons),
    "cores": spark.sparkContext.defaultParallelism,
}))
"""


def test_one_python_worker_pool_per_session(tmp_path):
    """A fresh process (a fresh JVM, as a ``jobs/run_kg.py`` run has) runs
    the frames that used to be pickled RDDs on empty input.  Its JVM must
    have started exactly one daemon: the Arrow-UDF pool, no larger than
    one worker per core."""
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[4]", PYTHONPATH=str(REPO))
    res = subprocess.run(
        [sys.executable, "-c", _POOL_PROBE, str(tmp_path / "kg")],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    pool = json.loads([ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1])
    assert pool["daemons"] == 1, pool
    assert 1 <= pool["workers"] <= pool["cores"], pool


def test_missing_manifest_reads_empty(spark, tmp_path):
    from nerzo_spark.pipeline.manifest import ManifestStore

    got = ManifestStore(spark, str(tmp_path)).read()
    assert got.schema == StructType([
        StructField("stage", StringType()),
        StructField("partition_key", StringType()),
        StructField("run_id", StringType()),
        StructField("committed_at", DoubleType()),
    ])
    assert got.count() == 0


def test_zero_collision_overrides_are_empty(spark):
    from nerzo_spark.operators.canonicalize import canonical_overrides

    surfaces = local_frame(
        spark, [("person", "Ada Lovelace"), ("organization", "Acme Corp")],
        "fine_type string, surface string",
    )
    got = canonical_overrides(surfaces)
    assert got.schema == StructType([
        StructField("fine_type", StringType()),
        StructField("surface", StringType()),
        StructField("canonical", StringType()),
    ])
    assert got.count() == 0


def test_zero_row_knn_keeps_declared_schema(spark):
    from nerzo_spark.operators.topk import knn_self_join

    vectors = local_frame(
        spark, [], StructType([
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(FloatType())),
            StructField("label", IntegerType()),
        ]),
    )
    got = knn_self_join(vectors, k=3)
    assert got.schema == StructType([
        StructField("query_id", LongType()),
        StructField("neighbor_id", LongType()),
        StructField("score", DoubleType()),
        StructField("rank", IntegerType()),
        StructField("query_label", IntegerType()),
        StructField("neighbor_label", IntegerType()),
    ])
    assert got.count() == 0
