"""Benchmark harness — one JSON line with per-query wall times at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Headline queries: the KG-construction pipeline (the north-star metric,
triples/sec) plus representative operators from each family (agg, window
islands, cosine top-k, minhash LSH, recall@k).

Min-of-k protocol (VERDICT r5 task 6): the default invocation runs
``--samples 3`` FRESH-PROCESS samples (fresh JVM each — a fresh local JVM
runs C1 only (``session.get_spark``) and compiles for 4-5 s during the
400k-file ``kg_pipeline``, 44-52 s with C2 on, and this shared host's
neighbor load varies identical runs 2-4x), each lightly loadavg-gated, and
emits ONE pooled JSON line whose ``queries`` are per-query minima; every raw sample
rides along in ``samples`` with its window's loadavg, so round-over-round
comparison needs no weather adjudication.  ``--as-sample`` is the internal
single-run mode (the pre-r6 behavior).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import subprocess
import sys
import time


def _wait_quiet(gate: float, timeout_s: float) -> float:
    t0 = time.time()
    while True:
        la = os.getloadavg()[0]
        if la < gate or time.time() - t0 > timeout_s:
            return la
        time.sleep(10)


def _pooled(args) -> None:
    """Parent mode: k fresh-process samples -> one pooled min-of-k line."""
    here = os.path.abspath(__file__)
    samples: list[dict] = []
    for i in range(args.samples):
        la = _wait_quiet(args.loadavg_gate, args.gate_timeout)
        cmd = [
            sys.executable, here, "--as-sample",
            "--sf-dir", args.sf_dir, "--cores", str(args.cores),
            "--kg-files", str(args.kg_files),
        ]
        out = subprocess.run(
            cmd, capture_output=True, text=True, cwd=os.path.dirname(here)
        )
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            samples.append({"err": (out.stderr or "no output")[-400:],
                            "gate_loadavg": round(la, 2)})
            continue
        s = json.loads(lines[-1])
        s["gate_loadavg"] = round(la, 2)
        samples.append(s)
    ok = [s for s in samples if "queries" in s]
    if not ok:
        print(json.dumps({"metric": "total_bench_sec", "value": -1,
                          "unit": "sec", "queries": {}, "samples": samples}))
        raise SystemExit(1)
    qmin = {
        q: min(s["queries"][q] for s in ok if q in s["queries"])
        for q in ok[0]["queries"]
    }
    total = round(sum(qmin.values()), 3)
    kg_n = max(s.get("kg_triples", 0) for s in ok)
    print(json.dumps({
        "metric": "total_bench_sec",
        "value": total,  # sum of per-query minima (machine capability)
        "unit": "sec",
        "queries": qmin,
        "sf": ok[0].get("sf"),
        "cores": args.cores,
        "kg_triples": kg_n,
        "kg_triples_per_sec": round(kg_n / qmin["kg_pipeline"], 1)
        if qmin.get("kg_pipeline") else 0,
        "min": min(s["value"] for s in ok),  # best single-sample total
        "samples": [
            {k: s.get(k) for k in
             ("value", "queries", "loadavg_1m_start_end", "gate_loadavg", "err")
             if k in s}
            for s in samples
        ],
        "protocol": f"min-of-{len(ok)} fresh-process samples, "
                    f"loadavg-gate {args.loadavg_gate} "
                    f"(timeout {args.gate_timeout}s)",
    }))


def main() -> None:
    from nerzo_spark.session import default_parallelism

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cores", type=int, default=default_parallelism())
    # 400k files: at 100k the pipeline's fixed costs dominated the
    # triples/sec headline (same operators, ~4x lower apparent throughput)
    ap.add_argument("--kg-files", type=int, default=int(os.environ.get("NERZO_BENCH_KG_FILES", "400000")))
    ap.add_argument("--samples", type=int, default=int(os.environ.get("NERZO_BENCH_SAMPLES", "3")))
    ap.add_argument("--loadavg-gate", type=float, default=3.0)
    ap.add_argument("--gate-timeout", type=float, default=240.0,
                    help="max seconds to wait for a quiet window per sample")
    ap.add_argument("--as-sample", action="store_true",
                    help="internal: run ONE in-process sample and exit")
    args = ap.parse_args()

    if not args.as_sample:
        _pooled(args)
        return

    from nerzo_spark.session import get_spark, warm_python_workers

    spark = get_spark(
        "nerzo-bench",
        master=f"local[{args.cores}]",
        shuffle_partitions=max(args.cores, 8),
        # small scan splits so the tmpfs corpus parquet (and sf0.1 tables)
        # fan out across all cores instead of packing into ~4 partitions
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "2m",
            "spark.sql.files.openCostInBytes": "1m",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)  # steady-state timing, not worker cold start

    import nerzo_spark.fixtures.corpus as fixture_corpus
    import nerzo_spark.fixtures.distributed as fixture_distributed
    import nerzo_spark.fixtures.labels as fixture_labels
    from nerzo_spark.fixtures.corpus import anchor_rows_for
    from nerzo_spark.fixtures.distributed import corpus_df_distributed
    from nerzo_spark.pipeline.kg import run_kg_pipeline
    from nerzo_spark.plans import catalog
    import nerzo_spark.plans.catalog_text  # noqa: F401
    import nerzo_spark.plans.catalog_vec  # noqa: F401

    sf_label = os.path.basename(args.sf_dir.rstrip("/")).replace("sf", "")
    qs = catalog.queries()
    times: dict[str, float] = {}
    # run conditions per query window (VERDICT r3 #6): this shared host's
    # neighbor load varies identical runs 2-4x — recording start/end 1-min
    # loadavg lets the next round tell code from weather without re-deriving
    load: dict[str, list[float]] = {}

    def timed(name: str, fn) -> float:
        la0 = os.getloadavg()[0]
        t0 = time.time()
        fn()
        dt = time.time() - t0
        times[name] = round(dt, 3)
        load[name] = [round(la0, 2), round(os.getloadavg()[0], 2)]
        return dt

    # KG pipeline (north star): triples/sec over the fixture corpus.
    # Corpus generated DISTRIBUTED (no driver bottleneck) and materialized
    # via localCheckpoint so generation is excluded from pipeline timing.
    # Anchors are dimension-sized: a small driver-side generate() suffices.
    # The cached corpus is keyed by the generator's source as well as its
    # size, so an edited generator is never benchmarked on a stale corpus.
    gen_src = hashlib.sha256()
    for mod in (fixture_corpus, fixture_distributed, fixture_labels):
        with open(mod.__file__, "rb") as f:
            gen_src.update(f.read())
    corpus_path = f"/dev/shm/nerzo_corpus_{args.kg_files}_{gen_src.hexdigest()[:16]}"
    if not os.path.exists(corpus_path):
        corpus_df_distributed(spark, args.kg_files, partitions=64).write.mode(
            "overwrite"
        ).parquet(corpus_path + ".tmp")
        os.rename(corpus_path + ".tmp", corpus_path)
    corpus = spark.read.parquet(corpus_path)
    # anchors are pinned per-type gold mentions of the SAME corpus (mention
    # ids depend on n_files); driver-side scan of the first 1000 files only
    anchors = anchor_rows_for(args.kg_files)
    n_triples = {}

    def run_kg():
        with run_kg_pipeline(spark, corpus, anchors, repartition_to=4 * args.cores) as res:
            # lazy one-row count over the triples union (== triples.count(),
            # test-pinned), run here over the cached mention table
            n_triples["n"] = res.triples_count.collect()[0]["n_triples"]

    timed("kg_pipeline", run_kg)

    headline = [
        "a2_filter_agg_q1",
        "a4_top_hits_per_bucket",
        "w7_islands_run_merge",
        "j5_lookup_join",
        "j1_cosine_topk",
        "dedup_minhash_lsh_pairs",
        "dedup_simhash16",
        "e1_recall_at_k",
        "doc_fingerprint",
    ]
    for name in headline:
        fn = qs[name]
        timed(name, lambda f=fn: f(spark, args.sf_dir).count())

    total = round(sum(times.values()), 3)
    kg_thr = round(n_triples.get("n", 0) / times["kg_pipeline"], 1)
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf_label,
                "cores": args.cores,
                "kg_triples": n_triples.get("n", 0),
                "kg_triples_per_sec": kg_thr,
                "loadavg_1m_start_end": load,
            }
        )
    )


if __name__ == "__main__":
    main()
