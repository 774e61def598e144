"""Tripwire: a repeat run compiles no generated code.

Spark caches the classes it generates (whole-stage and expression codegen)
in a JVM-wide LRU keyed on the generated source.  A repeat of a query whose
plan and source are unchanged must hit that cache: zero Janino compiles,
read from Spark's own ``CodegenMetrics`` counter.  This fails when the cache
is smaller than the working set (every class evicted before its reuse) or
when a plan inlines a per-run value (a wall time as a double literal) into
the generated source."""

from __future__ import annotations

import pytest

# importing the entry module registers every catalog entry
from __spark_entry__ import SF_DIR
from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df
from nerzo_spark.plans import catalog

# distinct generated classes of one JVM that ran both benchmark workloads,
# every oracle query at sf0.01 and sf0.001, and the KG runs below
# (ARCHITECTURE.md, "JVM-side fixed costs")
WORKING_SET = 894


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _repeat_compiles(spark, run) -> int:
    """Janino compiles of the second of two back-to-back calls of ``run``."""
    run()
    before = _compiles(spark)
    run()
    return _compiles(spark) - before


def test_get_spark_sizes_the_codegen_cache(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= WORKING_SET


@pytest.mark.parametrize("name", sorted(catalog.oracle_sql().keys()))
def test_oracle_query_repeat_compiles_nothing(spark, name):
    fn = catalog.queries()[name]
    assert _repeat_compiles(spark, lambda: fn(spark, SF_DIR).toPandas()) == 0


def test_kg_pipeline_repeat_compiles_nothing(spark, fixture_small):
    from nerzo_spark.pipeline.kg import run_kg_pipeline

    def run():
        with run_kg_pipeline(
            spark,
            corpus_df(spark, fixture_small),
            anchors_df(spark, fixture_small),
            repartition_to=8,
        ) as res:
            res.triples_count.collect()
            res.lineage.collect()

    assert _repeat_compiles(spark, run) == 0


def test_run_incremental_repeat_compiles_nothing(spark, fixture_small, tmp_path):
    from nerzo_spark.pipeline.incremental import run_incremental

    dirs = iter(("first", "second"))

    def run():
        run_incremental(
            spark, corpus_df(spark, fixture_small), fixture_small.anchors,
            str(tmp_path / next(dirs)),
        )

    assert _repeat_compiles(spark, run) == 0
