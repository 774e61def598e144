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
- generated-code cache sized to the repo's working set, and stage ids kept
  out of generated class names, so a repeat query reuses its compiled code
  instead of re-running Janino and the JIT (ARCHITECTURE.md, "JVM-side
  fixed costs").
- one way to hold a cache: :func:`cached` persists a frame for the length
  of a ``with`` block and releases it on every exit path (ARCHITECTURE.md,
  "Cache lifetime").
- partition discovery lists on the driver in local mode, where a listing
  job's tasks would run in the same JVM.
- a local driver JVM runs the C1 compiler only and takes half the host's
  memory as heap (ARCHITECTURE.md, "JVM-side fixed costs").
- one Python worker pool per session: driver-built frames go through
  :func:`local_frame`, which never starts a Python worker, so the Arrow-UDF
  pool :func:`warm_python_workers` starts is the only one.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType
from pyspark.storagelevel import StorageLevel


def default_parallelism() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return int(cpus) if cpus else len(os.sched_getaffinity(0))


@contextmanager
def cached(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` (in-memory columnar cache, spilling to disk) for the
    length of the ``with`` block and unpersist it when the block exits,
    exceptions included.  Persisting is lazy: the block's first action
    builds the cache.  A plan that must outlive the block has to be
    materialized inside it (``localCheckpoint(eager=True)``, ``toPandas``,
    a write).

    Dropping the holder of a block that never exited (an unclosed
    :class:`~nerzo_spark.pipeline.kg.KGResult` being garbage-collected,
    or the interpreter shutting down) is not an exit: the cache stays
    until the session's ``clearCache()``, as an unmanaged persist would."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield df
    except GeneratorExit:
        # abandoned, not exited (see above)
        raise
    except BaseException:
        df.unpersist()
        raise
    df.unpersist()


def local_frame(
    spark: SparkSession, rows: Iterable[tuple | dict], schema: str | StructType
) -> DataFrame:
    """A frame of driver-side ``rows``, typed by ``schema`` (a DDL string or
    a ``StructType``; nullability is kept).  A tuple row is read by position,
    a dict row by field name.

    The rows reach Spark as a ``pyarrow.Table``, which the driver serializes
    and the JVM reads as a local relation, empty or not: no Python worker
    starts.  A plain list would go through a pickled Python RDD, whose
    worker environment differs from the Arrow UDFs', so it starts a second
    ``pyspark.daemon`` with one worker per core that stays for the rest of
    the session.  A pandas frame is no way round it: PySpark takes the
    Arrow path only when ``len(data) > 0``, so an empty one is pickled too.
    Every driver-built frame in this repo goes through here
    (tests/test_local_frame.py)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    table = pa.Table.from_pylist(
        [r if isinstance(r, dict) else dict(zip(arrow.names, r, strict=True)) for r in rows],
        schema=arrow,
    )
    return spark.createDataFrame(table, struct)


def default_driver_memory() -> str:
    """Half of the host's memory (``MemTotal``), in whole GiB, at least 1g:
    the local driver JVM is the whole engine, and the other half is left to
    the Python workers and the OS page cache."""
    with open("/proc/meminfo") as fh:
        kib = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{max(kib // 2 // 2**20, 1)}g"


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
        # are small so 64k rows stay ~10-30 MB per batch in flight.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # default (10MB) broadcast threshold: bigger thresholds make AQE
        # convert iterative-loop joins to broadcasts, paying a driver
        # collect+rebroadcast per join per iteration (measured 75s vs 5s on
        # the canonicalization loop); intended broadcasts are explicit
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.maxResultSize", "2g")
        # Generated-code cache (JVM-wide LRU of compiled whole-stage and
        # expression classes; static, so it must be set before the first
        # session).  The default of 100 entries is smaller than one catalog
        # pass or one KG op, so every class was evicted before its reuse and
        # each repeat query re-ran Janino and the JIT.  Measured working set:
        # 894 distinct classes in one JVM that ran both benchmark workloads,
        # every catalog oracle query at sf0.01 and sf0.001 and the test
        # suite's KG runs.  2048 is the next power of two above twice that.
        .config("spark.sql.codegen.cache.maxEntries", "2048")
        # The cache is keyed on the generated source.  AQE numbers codegen
        # stages in the order its query stages finish, so with the stage id
        # in the class name one plan yields a different source from run to
        # run whenever two stages race (j4_token_overlap_score does).
        .config("spark.sql.codegen.useIdInClassName", "false")
        # local mode = single JVM: the default 1g heap GC-thrashes with
        # concurrent task threads; only applies if the JVM isn't started yet
        .config("spark.driver.memory", default_driver_memory())
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master == "local" or master.startswith("local["):
        # Partition discovery over more directories than the threshold
        # (default 32) lists them in a Spark job; a resume's mention table
        # has one directory per repo, so each read paid a listing job with
        # one task per repo.  In local mode that job's tasks run in this JVM
        # anyway, so list on the driver and skip the job's fixed cost.
        builder = builder.config(
            "spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1)
        )
        # C1 only: a local JVM lives for one benchmark run, test session or
        # job, too short for C2's optimizing compiles to pay back.  Measured
        # on 4 cores (CompilationMXBean, per timed perfbench op): the
        # kg_build_resume op compiled for 13-16 s inside ~24 CPU s, 2.3 s
        # with C1 only, and its CPU fell 44%; catalog_mix 17-18 s -> 2 s.
        # The trade: at 400k files the extraction's JVM side runs C1 code,
        # so bench.py's kg_pipeline is ~9% slower (ARCHITECTURE.md,
        # "JVM-side fixed costs").  defaultJavaOptions, not
        # extraJavaOptions: a caller's extraJavaOptions (perfbench sets
        # java.io.tmpdir there) replaces that whole key, and the launcher
        # puts defaultJavaOptions before it.  Like spark.driver.memory, it
        # applies only when this call launches the JVM.
        builder = builder.config("spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1")
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
    partitions.

    This is the session's only pool: driver-built frames go through
    :func:`local_frame`, which starts no worker, where a pickled Python RDD
    would start a second, idle daemon with one worker per core
    (tests/test_local_frame.py counts the daemons)."""
    import pandas as pd  # noqa: F401

    cores = spark.sparkContext.defaultParallelism

    def _id(batches):
        for b in batches:
            yield b

    for _ in range(max(depth, 1)):
        spark.range(0, cores, numPartitions=cores).mapInPandas(
            _id, schema="id long"
        ).count()
