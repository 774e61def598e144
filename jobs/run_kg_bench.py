"""spark-submit payload for the scaling benchmark (north rule: run via
``spark-submit --py-files`` at N and 4N executors, same input, report
throughput at both).

Submitted against the standalone cluster (jobs/cluster.py) or local[C]; the
master comes from spark-submit.  The corpus parquet must be pre-materialized
(jobs/bench_cluster.py does it) — generation is never in the timed region.

Prints ONE JSON line: cores, executors, per-stage seconds, triples, tps.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True, help="pre-materialized parquet")
    ap.add_argument("--files", type=int, required=True,
                    help="fixture n_files the corpus was generated with "
                         "(anchors must match, FIXTURES.md)")
    ap.add_argument("--stage", default="full", choices=["full", "extract", "detail"])
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # SAME plan at every cluster size (BENCH.md protocol v2): fixed scan
    # splits, fixed shuffle partitions; only executor count varies.
    builder = (
        SparkSession.builder.appName("nerzo-kg-bench")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "1m")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "VECLIB_MAXIMUM_THREADS", "NUMEXPR_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
    import os as _os

    if _os.environ.get("NERZO_CACHE_ENTRIES"):
        # embedder vocabulary-cliff knob (embed/embedder.py): must reach the
        # executor Python workers, which read it at import time — validate
        # HERE so a typo fails on the driver, not as a worker import crash
        # mid-campaign
        int(_os.environ["NERZO_CACHE_ENTRIES"])
        builder = builder.config(
            "spark.executorEnv.NERZO_CACHE_ENTRIES",
            _os.environ["NERZO_CACHE_ENTRIES"],
        )
    # experiment hook: NERZO_EXTRA_CONF="k=v;k=v" adds configs for one-off
    # A/B samples (e.g. inMemoryColumnarStorage knobs) without touching the
    # protocol defaults; unset → identical behavior
    for kv in filter(None, _os.environ.get("NERZO_EXTRA_CONF", "").split(";")):
        k, _, v = kv.partition("=")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from nerzo_spark.fixtures.corpus import anchor_rows_for
    from nerzo_spark.pipeline.kg import build_label_catalog, run_kg_pipeline
    from nerzo_spark.operators.extract_link import extract_and_link
    from nerzo_spark.session import warm_python_workers

    # NERZO_SKIP_WARM=1: A/B hook — skip pre-spawning the python worker
    # pool to test whether pool-size-driven cache fragmentation (tasks
    # rotating over ~18 pooled workers per executor, each with cold lru
    # caches) explains the super-linear 3.2M extraction
    if not _os.environ.get("NERZO_SKIP_WARM"):
        warm_python_workers(spark)
    sc = spark.sparkContext
    n_exec = max(1, len([e for e in sc._jsc.sc().statusTracker().getExecutorInfos()]) - 1)
    corpus = spark.read.parquet(args.corpus)
    anchors = anchor_rows_for(args.files)

    stages: dict[str, float] = {}
    t0 = time.time()
    if args.stage == "extract":
        catalog = build_label_catalog(anchors)
        n = extract_and_link(corpus, catalog).count()
        unit = "mentions"
        stages["extract"] = round(time.time() - t0, 2)
    elif args.stage == "detail":
        # diagnostic decomposition of the post-extract phase (NOT the
        # official protocol — the per-arm counts re-execute arms that the
        # production plan shares, so the sum exceeds --stage full's wall):
        # where does the multi-executor tax live — overrides (iterative
        # small stages), surfaces distinct (cross-executor shuffle), or the
        # mention-scale triples arms?
        from pyspark.storagelevel import StorageLevel
        from pyspark.sql import functions as Fn
        from nerzo_spark.operators.canonicalize import canonical_overrides
        from nerzo_spark.pipeline.kg import _partition_local_dedup, build_triples

        catalog = build_label_catalog(anchors)
        # A/B the cache-materialization overhead in ONE JVM and window:
        # plain count (no cache) vs persist+count (columnar cache build)
        t = time.time()
        extract_and_link(corpus, catalog).count()
        stages["extract_nopersist"] = round(time.time() - t, 2)
        t = time.time()
        typed = extract_and_link(corpus, catalog).persist(StorageLevel.MEMORY_AND_DISK)
        typed.count()
        stages["extract_persist"] = round(time.time() - t, 2)
        stages["extract_link_persist"] = round(time.time() - t0, 2)
        t = time.time()
        surfaces = (
            typed.select("fine_type", "surface").distinct().persist(StorageLevel.MEMORY_AND_DISK)
        )
        surfaces.count()
        stages["surfaces_distinct"] = round(time.time() - t, 2)
        t = time.time()
        overrides = canonical_overrides(surfaces, already_distinct=True)
        overrides.count()
        stages["canonical_overrides"] = round(time.time() - t, 2)
        t = time.time()
        triples = build_triples(typed, overrides, catalog, surfaces=surfaces, file_local_dedup=True)
        stages["triples_plan"] = round(time.time() - t, 2)
        t = time.time()
        n_links = typed.count()
        stages["links_scan"] = round(time.time() - t, 2)
        t = time.time()
        # approximation of the defined_in arm (surface stands in for the
        # override-joined entity id): isolates the partition-local dedup scan
        n_def = (
            typed.select(Fn.col("surface").alias("subj"), "repo", "path", "commit")
            .mapInPandas(_partition_local_dedup, schema="subj string, repo string, path string, commit string")
            .count()
        )
        stages["defined_in_dedup_scan"] = round(time.time() - t, 2)
        t = time.time()
        n = triples.count()
        stages["full_triples_count"] = round(time.time() - t, 2)
        unit = "triples"
    else:
        res = run_kg_pipeline(spark, corpus, anchors)
        stages["extract_link_persist"] = round(time.time() - t0, 2)
        t1 = time.time()
        # headline count: the lazy one-row count over the triples union.
        # Equality with triples.count() is pinned by
        # tests/test_kg_e2e.py::test_triples_count_plan_equals_union_count.
        n = res.triples_count.collect()[0]["n_triples"]
        stages["triples_build_count"] = round(time.time() - t1, 2)
        unit = "triples"
    dt = time.time() - t0
    print(json.dumps({
        "master": sc.master, "executors": n_exec,
        "cores": sc.defaultParallelism, "files": args.files,
        "stage": args.stage, "sec": round(dt, 2), "stages": stages,
        unit: n, "tps": round(n / dt, 1),
    }))
    sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
