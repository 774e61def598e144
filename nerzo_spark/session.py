"""SparkSession factory tuned for the KG-construction workload.

Scale posture (the point, even though tests run on ``local[N]``):

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  at 100 TB the static plan is always wrong somewhere.
- shuffle partitions sized for the local core count; on a real cluster
  this is set per-job (``~2-3x total cores``) or left to AQE's
  ``advisoryPartitionSizeInBytes`` coalescing.
- Arrow enabled: every Python-side operator in this repo is an
  Arrow-batched pandas UDF (no row-at-a-time Python anywhere).
- broadcast threshold raised: the label/type catalog and anchor fixtures
  are tiny dimension tables and must never shuffle-join.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "nerzo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # Pin BLAS to one thread per Python worker: N workers x N OpenBLAS
    # threads oversubscribes N^2 threads and *anti-scales* with core count
    # (measured 2x slower at local[32] vs local[8] before pinning).
    # Parallelism belongs to Spark tasks, not to the library inside a task.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    cores = default_parallelism()
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    # Shuffle/spill on tmpfs when available: local-mode shuffles are
    # otherwise bound by shared-disk bandwidth, which does not scale with
    # cores (on a real cluster this is NVMe-per-executor / push-based
    # shuffle territory).
    local_dir = None
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        local_dir = "/dev/shm/nerzo-spark-local"
        os.makedirs(local_dir, exist_ok=True)
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory when `content` is large
        # (the reference caps context at 512 tokens, llm_interface.py:122 —
        # same motivation).
        # 64k-row Arrow batches: at 8192 the per-batch handoff (socket
        # roundtrip + pandas assembly) cost ~20% of the extraction stage at
        # 16 cores (measured 24.9s -> 21.0s at 800k files); mention/doc rows
        # are small so 64k rows stay ~10-30 MB per batch in flight.  Byte-
        # bounded payloads (multimodal) size partitions separately via
        # repartition_for_payloads.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # default (10MB) broadcast threshold: bigger thresholds make AQE
        # convert iterative-loop joins to broadcasts, paying a driver
        # collect+rebroadcast per join per iteration (measured 75s vs 5s on
        # the canonicalization loop); intended broadcasts are explicit
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "2g")
        # local mode = single JVM: the default 1g heap GC-thrashes with 32
        # concurrent task threads; only applies if the JVM isn't started yet
        .config("spark.driver.memory", os.environ.get("NERZO_DRIVER_MEM", "24g"))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def warm_python_workers(spark: SparkSession, depth: int = 1) -> None:
    """Pre-spawn a MINIMAL Python UDF worker pool: exactly one Arrow worker
    per task slot (pandas/pyarrow imports are ~1-2 s per worker, so
    benchmarks warm once to measure steady state, not cold start).

    Round-4 lesson (BENCH.md): the previous warm ran a chain of FOUR Python
    operators in one stage plus a plain-RDD pass — ~4.5 pooled workers per
    slot (72 daemons at 4x4-core executors).  Tasks then ROTATE over the
    oversized pool, so each worker's lru embedder caches stay cold and
    memory multiplies; measured at 3.2M files / 16 slots this cost ~80 s of
    extraction wall (211-241 s with the bloated pool vs 131.5 s with none).
    The hot path is ONE fused mapInPandas, so the correct pool is ONE
    worker per slot: a single-operator pass over exactly `cores`
    partitions."""
    import pandas as pd  # noqa: F401

    cores = spark.sparkContext.defaultParallelism

    def _id(batches):
        for b in batches:
            yield b

    for _ in range(max(depth, 1)):
        spark.range(0, cores, numPartitions=cores).mapInPandas(
            _id, schema="id long"
        ).count()
