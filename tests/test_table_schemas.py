"""The declared table schemas match the parquet footers.

``plans/catalog.py`` reads every driver table with the schema declared in
``catalog.SCHEMAS``, so no read runs Spark's schema inference.  A declared
schema that drifts from the files would read wrong or fail at run time, so
each table's declared schema is held against the one Spark infers from its
footer: the same column names, types and order.  Every table of every
scale factor the tests and the benchmark read is covered, and a table with
no declared schema fails by name."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import DataType

from __spark_entry__ import SF_DIR
from nerzo_spark.plans import catalog
from perfbench.inputs import CATALOG_DIR

DATA_DIRS = [
    *(os.path.join(os.path.dirname(SF_DIR), sf) for sf in ("sf0.001", "sf0.01", "sf0.1")),
    CATALOG_DIR,
]
TABLES = [
    (d, f) for d in DATA_DIRS if os.path.isdir(d)
    for f in sorted(os.listdir(d)) if f.endswith(".parquet")
]


def _columns(struct) -> list[tuple[str, str]]:
    return [(f.name, f.dataType.simpleString()) for f in struct.fields]


def test_every_data_dir_has_tables():
    found = {d for d, _ in TABLES}
    assert found == set(DATA_DIRS), f"no parquet tables under {set(DATA_DIRS) - found}"


@pytest.mark.parametrize(
    ("data_dir", "file"), TABLES,
    ids=[f"{'perfbench-' if d == CATALOG_DIR else ''}{os.path.basename(d)}/{f}" for d, f in TABLES],
)
def test_declared_schema_matches_footer(spark, data_dir, file):
    name = file.removesuffix(".parquet")
    assert name in catalog.SCHEMAS, f"table {name!r} has no declared schema in catalog.SCHEMAS"
    inferred = spark.read.parquet(os.path.join(data_dir, file)).schema
    declared = DataType.fromDDL(catalog.SCHEMAS[name])
    assert _columns(declared) == _columns(inferred), name
