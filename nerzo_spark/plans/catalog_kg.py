"""KG-pipeline queries for the driver contract.

These run the full north-star pipeline (detect -> embed -> link ->
canonicalize -> triples) over the deterministic fixture corpus (seed 42).
The pipeline itself is non-SQL-expressible (iterative connected components,
pandas-UDF embedder), so the DuckDB oracles read the COMMITTED INDEPENDENT
GOLD (pure-Python union-find canonicalization over the same generator,
fixtures/corpus.py + jobs/make_gold.py — regenerate with
``python jobs/make_gold.py``).  The driver therefore checks the north rule
(triples == gold, P = R = 1.0) as a hard row-count + schema + value-hash
signal, not just the pytest golden test.
"""

from __future__ import annotations

import os
from functools import lru_cache

from pyspark.sql import functions as F

from nerzo_spark.plans.catalog import register

_GOLD = os.path.abspath(
    os.path.join(os.path.dirname(__file__), "..", "fixtures", "gold")
)


def _gold_sql(name: str, cols: str) -> str:
    return f"SELECT {cols} FROM read_parquet('{_GOLD}/{name}.parquet')"


@lru_cache(maxsize=1)
def _fixture():
    from nerzo_spark.fixtures.corpus import generate

    return generate(n_files=120)


_run_cache: dict[str, tuple[object, object]] = {}


def _run(spark):
    """One pipeline execution per SparkSession: the 4 kg_* driver queries
    share the same KGResult (cached mentions), so the driver pays the
    extract+link stage once, not four times.  The memoized result is never
    closed: its caches live as long as the session.  Keyed by applicationId, not
    id(spark): a dead session's id() can be recycled by the allocator in a
    long-lived process and would serve stale results.  Entries whose
    SparkContext has stopped are evicted on the next call (ADVICE r3), so a
    long-lived process cycling sessions does not accumulate dead
    persisted-DataFrame/session references."""
    def _stopped(s) -> bool:
        try:
            return s.sparkContext._jsc is None or s.sparkContext._jsc.sc().isStopped()
        except Exception:
            return True

    for k in [k for k, (s, _) in _run_cache.items() if _stopped(s)]:
        del _run_cache[k]
    key = spark.sparkContext.applicationId
    if key not in _run_cache:
        from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df
        from nerzo_spark.pipeline.kg import run_kg_pipeline

        fx = _fixture()
        _run_cache[key] = (
            spark,
            run_kg_pipeline(
                spark, corpus_df(spark, fx), anchors_df(spark, fx), repartition_to=8
            ),
        )
    return _run_cache[key][1]


@register("kg_triples", _gold_sql("triples", "subj, pred, obj, repo, path, commit"))
def kg_triples(spark, sf_dir):
    """North star end-to-end: (subj, pred, obj, provenance) triples."""
    return _run(spark).triples


@register("kg_entities", _gold_sql("entities", "fine_type, surface, canonical, entity_id"))
def kg_entities(spark, sf_dir):
    """Canonical entity table after iterative surface-form clustering."""
    return _run(spark).entities


@register(
    "kg_mentions",
    _gold_sql(
        "mentions",
        "mention_id, repo, path, commit, span_start, span_end, surface, sha_ok",
    ),
)
def kg_mentions(spark, sf_dir):
    """Detected mention spans with offsets + sha256 invariant flags."""
    m = _run(spark).mentions
    return m.select(
        "mention_id", "repo", "path", "commit",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        "surface", "sha_ok",
    )


@register("kg_lineage", _gold_sql("lineage", "repo, rows_out, sha_ok, files, stage"))
def kg_lineage(spark, sf_dir):
    """Per-partition lineage rows (rows_out, sha_ok, files per repo)."""
    return _run(spark).lineage.select(
        "repo", "rows_out", "sha_ok", "files", "stage"
    )
