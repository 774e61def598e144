"""Iceberg table adapter (north rule: 'materializes as Iceberg triple
tables ... over an Iceberg table of source-code repositories').

This sandbox has no Iceberg runtime jars, so every function degrades to the
parquet emulation used throughout the repo — but the PRODUCTION statement
each call maps to is explicit here, and the adapter probes the real catalog
first, so dropping `iceberg-spark-runtime` on the classpath and setting

    spark.sql.catalog.nerzo = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.nerzo.type = hadoop   # or hive/rest
    spark.sql.catalog.nerzo.warehouse = <path>

upgrades the whole pipeline without touching call sites:

| adapter call            | Iceberg form                                   |
|-------------------------|------------------------------------------------|
| write_overwrite_dynamic | INSERT OVERWRITE (snapshot-isolated dynamic
|                         |   partition overwrite)                         |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession, catalog: str = "nerzo") -> bool:
    """True iff an Iceberg catalog is configured AND its classes load."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if not impl:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # noqa: SLF001
        return True
    except Exception:
        return False


def write_overwrite_dynamic(
    df: DataFrame, name: str, partition_col: str, path: str, catalog: str = "nerzo"
) -> None:
    """Snapshot-isolated dynamic partition overwrite — the exactly-once
    resume primitive (incremental.py writes mentions this way)."""
    spark = df.sparkSession
    if iceberg_available(spark, catalog):
        df.writeTo(f"{catalog}.{name}").overwritePartitions()
        return
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )
