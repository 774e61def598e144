"""Source/sink helpers (SURVEY.md §2.1 S4/S6/S8/S11/S12).

Test/sandbox implementations are parquet-based; each function documents the
Iceberg form used in production (the writer stays behind this interface so
real ``MERGE INTO`` drops in — SURVEY.md §7.3).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nerzo_spark.session import local_frame


def read_tsv(spark: SparkSession, path: str, schema: str | None = None) -> DataFrame:
    """S12 — TSV source with header (pocs/poc_manual_labeling.py:69-72)."""
    r = spark.read.option("sep", "\t").option("header", True)
    if schema:
        r = r.schema(schema)
    return r.csv(path)


def write_tsv(df: DataFrame, path: str) -> None:
    """S11 — TSV export (pocs/csv_export.py:91-105)."""
    df.write.option("sep", "\t").option("header", True).mode("overwrite").csv(path)


def write_json(df: DataFrame, path: str) -> None:
    """S4 — JSON sink (step_process_to_document.py:127-141 wrote one array;
    distributed form is JSON-lines, the scalable equivalent)."""
    df.write.mode("overwrite").json(path)


def ensure_table(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """S6 — create-if-absent (dataset_provider.py:160-162).  Production:
    ``CREATE TABLE IF NOT EXISTS ... USING iceberg PARTITIONED BY (...)``."""
    if not os.path.exists(path):
        local_frame(spark, [], schema).write.parquet(path)
    return spark.read.schema(schema).parquet(path)


def upsert_by_key(
    spark: SparkSession, incoming: DataFrame, path: str, key: str
) -> DataFrame:
    """S8 — idempotent content-hash upsert (doc_as_upsert,
    step_index_to_database.py:42-49): re-runs converge to the same table.

    Production: ``MERGE INTO t USING s ON t.key = s.key WHEN MATCHED THEN
    UPDATE * WHEN NOT MATCHED THEN INSERT *`` (Iceberg).  Sandbox emulation:
    anti-join existing + union + atomic-ish overwrite; incoming rows win.
    """
    import shutil

    tmp = path + ".tmp"
    old = path + ".old"
    # crash recovery: a previous run may have died mid-swap.  If the live
    # path is missing but .old exists, the crash happened between
    # rename(path -> old) and rename(tmp -> path): restore .old as the live
    # table so prior data is never silently dropped.  Any surviving .old
    # alongside a live path is a fully superseded copy — remove it so the
    # rename below can't fail on an existing dir.  .tmp is always stale.
    if os.path.exists(old) and not os.path.exists(path):
        os.rename(old, path)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    if os.path.exists(path):
        existing = spark.read.parquet(path)
        keep = existing.join(incoming.select(key).distinct(), key, "left_anti")
        merged = keep.unionByName(incoming.dropDuplicates([key]))
    else:
        merged = incoming.dropDuplicates([key])
    # write to tmp, then swap: each rename is a metadata op, and the
    # recovery preamble above makes the sequence crash-safe at every point —
    # a crash leaves the old table (possibly parked at .old) or the new one,
    # never nothing (Iceberg gives this via snapshot commit; parquet
    # emulation uses posix renames + the .old recovery rule)
    merged.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(tmp, path)
    if os.path.exists(old):
        shutil.rmtree(old)
    return spark.read.parquet(path)
