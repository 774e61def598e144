"""Incremental / resumable KG construction (north rule: checkpoint/resume).

Split of work on resume:
- **extraction+linking is incremental**: corpus partitions (repos) already in
  the manifest are anti-joined away; new mention rows are APPENDED.  This is
  the expensive, mention-scale stage — exactly the work a resume must skip.
- **canonicalization + triples are recomputed globally** from the accumulated
  mention table: clustering is a global fixpoint — a new surface variant can
  bridge two previously-separate entities, so per-increment canonicalization
  would freeze wrong entity ids (classic incremental-connected-components
  pitfall).  The input to this stage is the distinct-surface table — orders
  of magnitude smaller than the corpus — so recomputation is cheap relative
  to extraction.  That back half is :func:`nerzo_spark.pipeline.kg.assemble_kg`,
  the same assembly the in-memory ``run_kg_pipeline`` runs; this module
  keeps only the resumable sink: manifest anti-join, mention partition
  writes, manifest commit, and the entities/triples/lineage writes.

Result: kill + re-run converges to byte-identical triples
(tests/test_resume_and_io.py), the ``cache_executed_step`` semantics of the
reference's DAG (pipeline_controller.py:38,48) without a workflow engine.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# canonical_overrides is unused here but must stay resolvable on this module:
# perfbench/trace.py wraps both names by attribute.
from nerzo_spark.operators.canonicalize import canonical_overrides  # noqa: F401
from nerzo_spark.operators.extract_link import extract_and_link
from nerzo_spark.pipeline.kg import assemble_kg, build_label_catalog
from nerzo_spark.pipeline.manifest import ManifestStore

STAGE_EXTRACT = "extract"


def run_incremental(
    spark: SparkSession,
    corpus: DataFrame,
    anchors: list[dict] | DataFrame,
    out_dir: str,
    repartition_to: int | None = None,
    run_id: str | None = None,
) -> dict:
    run_id = run_id or uuid.uuid4().hex
    t0 = time.time()
    store = ManifestStore(spark, out_dir)
    mentions_path = os.path.join(out_dir, "mentions")
    triples_path = os.path.join(out_dir, "triples")
    entities_path = os.path.join(out_dir, "entities")
    lineage_path = os.path.join(out_dir, "lineage")

    catalog = build_label_catalog(anchors)

    todo = store.filter_uncommitted(corpus, STAGE_EXTRACT, "repo")
    todo_repos = [r["repo"] for r in todo.select("repo").distinct().collect()]
    extracted = 0
    t_extract0 = time.time()
    if todo_repos:
        typed_new = extract_and_link(todo, catalog, repartition_to=repartition_to)
        # dynamic partition overwrite by repo: a crash BETWEEN this write
        # and the manifest commit leaves orphan partitions, and the next
        # run re-extracts those repos OVERWRITING the same partitions —
        # exactly-once mention rows at every kill point, not just commit
        # boundaries (plain append would duplicate them)
        from nerzo_spark.sources.iceberg import write_overwrite_dynamic

        write_overwrite_dynamic(typed_new, "nerzo.mentions", "repo", mentions_path)
        # manifest row only AFTER the data write succeeded
        store.commit(STAGE_EXTRACT, todo_repos, run_id)
        extracted = len(todo_repos)

    extract_wall_ms = (time.time() - t_extract0) * 1000.0

    # the mention table read back from parquet no longer carries extraction's
    # file contiguity, so the defined_in dedup must shuffle
    t_canon0 = time.time()
    kg = assemble_kg(spark.read.parquet(mentions_path), catalog, file_local_dedup=False)
    try:
        kg.entities.write.mode("overwrite").parquet(entities_path)
        n_entities = spark.read.parquet(entities_path).count()
        canon_wall_ms = (time.time() - t_canon0) * 1000.0

        t_triples0 = time.time()
        kg.triples.write.mode("overwrite").partitionBy("pred").parquet(triples_path)
        n_triples = spark.read.parquet(triples_path).count()
        triples_wall_ms = (time.time() - t_triples0) * 1000.0
    finally:
        kg.surface_counts.unpersist()

    # O3 lineage, per stage (VERDICT r3 #5): per-repo rows for the
    # incremental extract stage (rows/files/sha-invariant per partition) +
    # one summary row per downstream stage with its REAL wall (each stage
    # above ends in a materializing write, so the walls are measured around
    # work that runs anyway — no extra serialized actions).  Stage rows use
    # repo='__all__' (global fixpoint stages have no repo partition) and the
    # repo-wide files=-1 sentinel; sha_ok on stage rows propagates the
    # extraction invariant check's scope (True — the invariant is checked at
    # extraction, per-repo rows carry the per-partition result).
    import pandas as pd

    stage_rows = spark.createDataFrame(
        pd.DataFrame(
            [
                ("__all__", n_entities, True, -1, "canonicalize", run_id, canon_wall_ms),
                ("__all__", n_triples, True, -1, "triples", run_id, triples_wall_ms),
            ],
            columns=["repo", "rows_out", "sha_ok", "files", "stage", "run_id", "wall_ms"],
        ),
        schema="repo string, rows_out long, sha_ok boolean, files long, "
        "stage string, run_id string, wall_ms double",
    )
    (
        kg.repo_lineage
        .withColumn("stage", F.lit(STAGE_EXTRACT))
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_ms", F.lit(extract_wall_ms))
        .unionByName(stage_rows)
        .write.mode("append")
        .parquet(lineage_path)
    )
    return {
        "run_id": run_id,
        "repos_extracted": extracted,
        "triples_total": n_triples,
        "sec": round(time.time() - t0, 2),
    }
