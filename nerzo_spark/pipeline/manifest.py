"""Committed-partition manifest — the checkpoint/resume primitive (north rule;
SURVEY.md §2.11 O1, §2.1 S8).

The reference gets idempotent re-runs from content-hash upserts
(``doc_as_upsert`` keyed by sha1 id — /root/reference/clearml_pipelines/
fewnerd_pipeline/step_index_to_database.py:36-49) and cached pipeline steps
(``cache_executed_step=True`` — pipeline_controller.py:38,48).  The Spark
analog: a ``manifest(stage, partition_key, run_id, committed_at)`` table; a
stage ANTI-JOINs its input on committed keys before doing work, and appends
manifest rows only after its output partition is durably written.  Re-runs
converge to identical output (tested in tests/test_resume.py).

In production this is an Iceberg table written in the same transaction as the
data (or MERGE on the hash id); in tests it's an append-only parquet dir.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nerzo_spark.session import local_frame

MANIFEST_SCHEMA = "stage string, partition_key string, run_id string, committed_at double"


class ManifestStore:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.path = os.path.join(root, "manifest")

    def read(self) -> DataFrame:
        if os.path.exists(self.path):
            return self.spark.read.schema(MANIFEST_SCHEMA).parquet(self.path)
        return local_frame(self.spark, [], MANIFEST_SCHEMA)

    def filter_uncommitted(self, df: DataFrame, stage: str, key_col: str) -> DataFrame:
        """Anti-join the stage input on already-committed partition keys —
        the ``cache_executed_step`` analog.  Broadcast the (small) manifest.
        A key committed twice needs no dedup (and no shuffle job) first: a
        duplicate on the right side of an anti-join cannot change its result."""
        committed = self.read().filter(F.col("stage") == stage).select(
            F.col("partition_key").alias(key_col)
        )
        return df.join(F.broadcast(committed), key_col, "left_anti")

    def commit(self, stage: str, keys: list[str], run_id: str | None = None) -> None:
        if not keys:
            return
        run_id = run_id or uuid.uuid4().hex
        now = time.time()
        rows = [(stage, k, run_id, now) for k in sorted(set(keys))]
        local_frame(self.spark, rows, MANIFEST_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(self.path)
