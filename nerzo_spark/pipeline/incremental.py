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

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# canonical_overrides is unused here but must stay resolvable on this module:
# perfbench/trace.py wraps both names by attribute.
from nerzo_spark.operators.canonicalize import canonical_overrides  # noqa: F401
from nerzo_spark.operators.extract_link import LINKED_SCHEMA, extract_and_link
from nerzo_spark.pipeline.kg import assemble_kg, build_label_catalog, stamp_lineage
from nerzo_spark.pipeline.manifest import ManifestStore
from nerzo_spark.session import local_frame

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

    # read with its known schema: no schema-inference job (``repo``, the
    # partition column, still comes from the directory names).  A snapshot
    # with no mention ever written (an empty corpus into a fresh directory)
    # is an empty mention table, as in the in-memory sink.
    t_canon0 = time.time()
    if os.path.exists(mentions_path):
        mentions = spark.read.schema(LINKED_SCHEMA).parquet(mentions_path)
    else:
        mentions = local_frame(spark, [], LINKED_SCHEMA)
    # each count is observed during its table's write, not read back
    count = F.count(F.lit(1)).alias("n")
    entities_obs, triples_obs = Observation(), Observation()
    with assemble_kg(mentions, catalog) as kg:
        kg.entities.observe(entities_obs, count).write.mode("overwrite").parquet(entities_path)
        canon_wall_ms = (time.time() - t_canon0) * 1000.0

        t_triples0 = time.time()
        kg.triples.observe(triples_obs, count).write.mode("overwrite").partitionBy(
            "pred"
        ).parquet(triples_path)
        triples_wall_ms = (time.time() - t_triples0) * 1000.0
    n_entities, n_triples = entities_obs.get["n"], triples_obs.get["n"]

    # O3 lineage, per stage: per-repo rows for the incremental extract
    # stage (rows/files/sha-invariant per partition) +
    # one summary row per downstream stage with its REAL wall (each stage
    # above ends in a materializing write, so the walls are measured around
    # work that runs anyway — no extra serialized actions).  Stage rows use
    # repo='__all__' (global fixpoint stages have no repo partition) and the
    # repo-wide files=-1 sentinel; sha_ok on stage rows propagates the
    # extraction invariant check's scope (True — the invariant is checked at
    # extraction, per-repo rows carry the per-partition result).
    stage_rows = local_frame(
        spark,
        [
            ("__all__", n_entities, True, -1, "canonicalize"),
            ("__all__", n_triples, True, -1, "triples"),
        ],
        "repo string, rows_out long, sha_ok boolean, files long, stage string",
    )
    stamp_lineage(
        kg.repo_lineage.withColumn("stage", F.lit(STAGE_EXTRACT)).unionByName(stage_rows),
        run_id,
        {STAGE_EXTRACT: extract_wall_ms, "canonicalize": canon_wall_ms,
         "triples": triples_wall_ms},
    ).write.mode("append").parquet(lineage_path)
    return {
        "run_id": run_id,
        "repos_extracted": extracted,
        "triples_total": n_triples,
        "sec": round(time.time() - t0, 2),
    }
