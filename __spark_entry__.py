"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)`` — flagship: full KG-construction pipeline (detect ->
  embed -> link -> canonicalize -> triples) over the deterministic fixture
  corpus UNIONed with a corpus derived from the sf0.001 ``documents`` table.
- ``queries()`` / ``oracle_sql()`` — operator inventory from SURVEY.md §2,
  each Spark implementation paired with a DuckDB oracle (see
  nerzo_spark/plans/catalog*.py).  KG-pipeline entries are non-SQL-
  expressible (iterative CC, pandas-UDF embedder) and ship without oracles.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# importing registers every catalog entry
from nerzo_spark.plans import catalog as _catalog
from nerzo_spark.plans import catalog_ivf as _catalog_ivf  # noqa: F401
from nerzo_spark.plans import catalog_kg as _catalog_kg  # noqa: F401
from nerzo_spark.plans import catalog_more as _catalog_more  # noqa: F401
from nerzo_spark.plans import catalog_text as _catalog_text  # noqa: F401
from nerzo_spark.plans import catalog_vec as _catalog_vec  # noqa: F401

SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from nerzo_spark.fixtures.corpus import generate
    from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df
    from nerzo_spark.pipeline.kg import run_kg_pipeline

    fx = generate(n_files=120)
    planted = corpus_df(spark, fx)

    docs = _catalog.T(spark, SF_DIR, "documents")
    derived = docs.select(
        F.concat(F.lit("docsrc/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/"), F.col("doc_id").cast("string"), F.lit(".txt")).alias("path"),
        F.sha1(F.col("text")).alias("commit"),
        F.col("lang"),
        F.col("text").alias("content"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )

    corpus = planted.unionByName(derived)
    # the triples are checkpointed before the pipeline's caches are
    # released, so the caller's actions read them, not a re-extraction
    with run_kg_pipeline(spark, corpus, anchors_df(spark, fx), repartition_to=8) as res:
        return res.triples.localCheckpoint()


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _catalog.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle for each SQL-expressible query."""
    return _catalog.oracle_sql()
