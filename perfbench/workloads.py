"""The benchmark's workloads.  Each is a closed loop: one client thread, one
op at a time, the next op submitted only after the previous one finished.

Every workload implements

- ``setup(ctx)``: make the inputs and bind them to the current session;
  runs once per set-up (a run sets up several times);
- ``warm_up(ctx)``: one untimed rep after the last set-up (JIT, Python
  workers, compiled plans), so the timed ops run warm;
- ``attach(ctx)``: bind the inputs to a restarted session;
- ``op(ctx, i)``: one timed operation; returns a dict with its wall ``s``
  and the workload's own figures;
- ``check(ctx, res)``: output checks, run outside the timed region, that
  also release what the op left behind;
- ``report(results)``: the workload's named end-to-end figures.
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os
import pickle
import random
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import inputs

# KG corpus sizes: "full" is what the benchmark measures, "toy" what the
# smoke test runs.  Chosen so one run, set-up included, stays under about a
# minute on a 4-core host; see README.md.  catalog_mix always reads the
# sf0.01 tables.
SIZES = {"full": {"kg_files": 100}, "toy": {"kg_files": 60}}

VEC_QUERIES = ["j1_cosine_topk", "e1_recall_at_k", "e2_rprecision"]
TEXT_QUERIES = ["dedup_minhash_lsh_pairs", "dedup_simhash16",
                "ngram_jaccard_top_pairs", "doc_fingerprint"]
SQL_QUERIES = ["a2_filter_agg_q1", "a4_top_hits_per_bucket",
               "w7_islands_run_merge", "j5_lookup_join"]
CATALOG_QUERIES = VEC_QUERIES + TEXT_QUERIES + SQL_QUERIES


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _storage_mb(spark) -> float:
    """Memory plus disk held by persisted RDDs/tables right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[p] = os.path.getsize(p)
    return out


class KGBuildResume:
    """The seeded corpus' KG, built in memory and through the resumable sink.

    The warm-up makes the resumable base: ``run_incremental`` into an empty
    directory over the corpus minus one seeded org's repos (the full build,
    timed once, as a fresh ``jobs/run_kg.py`` job runs it).  One op is
    ``run_kg_pipeline`` plus the ``triples_count`` collect, then the delta
    resume: ``run_incremental`` over the whole corpus into a fresh copy of
    the base."""

    name = "kg_build_resume"

    def setup(self, ctx) -> None:
        from nerzo_spark.fixtures.corpus import anchor_rows_for

        n = ctx.size["kg_files"]
        self.org = inputs.held_out_org(ctx.seed)
        ctx.info.update(corpus_files=n, held_out=self.org + "*")
        with ctx.phase("fixtures"):
            fx = inputs.write_kg_corpus(os.path.join(ctx.work, "corpus"), n, ctx.seed)
            self.anchors = anchor_rows_for(n, seed=ctx.seed)
        self.attach(ctx)
        if not hasattr(self, "gold_n"):
            with ctx.checking():
                self.gold_n, self.gold_h = inputs.gold_hash(fx)
            repos = sorted({r["repo"] for r in fx.corpus})
            self.held = sorted(r for r in repos if r.startswith(self.org))
            self.base_repos = sorted(set(repos) - set(self.held))
            ctx.info.update(gold_triples=self.gold_n, held_out_repos=len(self.held))

    def warm_up(self, ctx) -> None:
        from nerzo_spark.pipeline.incremental import run_incremental

        self.base_dir = os.path.join(ctx.work, "resume_base")
        t0 = time.perf_counter()
        run_incremental(ctx.spark, self.base, self.anchors, self.base_dir,
                        repartition_to=ctx.cores, run_id="full")
        self.full_s = time.perf_counter() - t0
        self.base_files = _dir_files(self.base_dir)
        with ctx.checking():
            ctx.expect_setup(_manifest_keys(ctx.spark, self.base_dir, "full") == self.base_repos,
                             "full build extracted the base repos")
        ctx.spark.catalog.clearCache()

    def attach(self, ctx) -> None:
        """(Re)bind the input DataFrames to the current session."""
        from pyspark.sql import functions as F

        self.corpus = ctx.spark.read.parquet(os.path.join(ctx.work, "corpus"))
        self.base = self.corpus.filter(~F.col("repo").startswith(self.org))

    def op(self, ctx, i: int) -> dict:
        from nerzo_spark.pipeline.incremental import run_incremental
        from nerzo_spark.pipeline.kg import run_kg_pipeline

        t0 = time.perf_counter()
        with ctx.tracer.span("pipeline.kg.run_kg_pipeline"):
            res = run_kg_pipeline(ctx.spark, self.corpus, self.anchors,
                                  repartition_to=ctx.cores)
        with ctx.tracer.span("pipeline.kg.triples_count"):
            n = res.triples_count.collect()[0]["n_triples"]
        build_s = time.perf_counter() - t0
        cache_mb = _storage_mb(ctx.spark)

        out = os.path.join(ctx.work, f"resume_{i}")
        shutil.copytree(self.base_dir, out)
        t1 = time.perf_counter()
        with ctx.tracer.span("pipeline.incremental.run_incremental"):
            delta = run_incremental(ctx.spark, self.corpus, self.anchors, out,
                                    repartition_to=ctx.cores, run_id=f"delta{i}")
        delta_s = time.perf_counter() - t1
        # Spark names every output file afresh, so new paths are new writes.
        copied = {os.path.join(out, os.path.relpath(p, self.base_dir)) for p in self.base_files}
        written = sum(self.base_files.values()) + sum(
            size for p, size in _dir_files(out).items() if p not in copied)
        return {"s": build_s + delta_s, "build_s": build_s, "delta_s": delta_s,
                "build_rows": n, "cache_mb": cache_mb,
                "written_mb": written / 1e6, "result": res, "out": out, "delta": delta,
                "run_id": f"delta{i}"}

    def check(self, ctx, res: dict) -> bool:
        """The in-memory build's triples equal gold; the resumed triples
        equal the in-memory build's; the delta extracted exactly the
        held-out repos."""
        spark = ctx.spark
        out = res.pop("out")
        resumed = spark.read.parquet(os.path.join(out, "triples"))
        # three small independent jobs, side by side
        with ThreadPoolExecutor(max_workers=3) as pool:
            one_shot = pool.submit(inputs.spark_rows_hash, res.pop("result").triples,
                                   inputs.TRIPLE_COLS)
            resumed_h = pool.submit(inputs.spark_rows_hash, resumed, inputs.TRIPLE_COLS)
            keys = pool.submit(_manifest_keys, spark, out, res["run_id"])
            one_shot, resumed_h, keys = one_shot.result(), resumed_h.result(), keys.result()
        ok = (one_shot == (self.gold_n, self.gold_h) and res["build_rows"] == self.gold_n
              and resumed_h == one_shot and keys == self.held
              and res.pop("delta")["repos_extracted"] == len(self.held))
        spark.catalog.clearCache()
        shutil.rmtree(out, ignore_errors=True)
        return ok

    def report(self, results: list[dict]) -> dict:
        return {
            "kg_triples_per_s": (_median([r["build_rows"] / r["build_s"] for r in results]),
                                 "triples/s"),
            "kg_cache_mb": (_median([r["cache_mb"] for r in results]), "MB"),
            "resume_full_s": (self.full_s, "s"),
            "resume_delta_s": (_median([r["delta_s"] for r in results]), "s"),
            "resume_written_mb": (_median([r["written_mb"] for r in results]), "MB"),
        }


def _manifest_keys(spark, out_dir: str, run_id: str) -> list[str]:
    from pyspark.sql import functions as F

    manifest = spark.read.parquet(os.path.join(out_dir, "manifest"))
    return sorted(r["partition_key"] for r in manifest.filter(
        F.col("run_id") == run_id).select("partition_key").collect())


class CatalogMix:
    """Passes over eleven catalog queries on the sf0.01 tables, in a seeded
    order per pass.  Each query's result is collected into this process, which
    evaluates every column, and is held against its DuckDB oracle outside
    the timed region."""

    name = "catalog_mix"

    def setup(self, ctx) -> None:
        import nerzo_spark.plans.catalog_text  # noqa: F401  (registers queries)
        import nerzo_spark.plans.catalog_vec  # noqa: F401
        from nerzo_spark.plans import catalog

        self.fns = catalog.queries()
        ctx.info["tables"] = "sf0.01"
        if not hasattr(self, "oracle"):
            sql = catalog.oracle_sql()
            with ctx.checking(), ThreadPoolExecutor(max_workers=ctx.cores) as pool:
                self.oracle = dict(zip(CATALOG_QUERIES, pool.map(
                    lambda q: _oracle_rows(sql[q], ctx.oracle_cache), CATALOG_QUERIES)))

    def warm_up(self, ctx) -> None:
        # the queries side by side, so their cold plans compile in parallel
        with ThreadPoolExecutor(max_workers=ctx.cores) as pool:
            list(pool.map(lambda q: self._collect(ctx, q), CATALOG_QUERIES))
        ctx.spark.catalog.clearCache()

    def attach(self, ctx) -> None:
        """Queries read their tables by path on every call."""

    def _collect(self, ctx, q: str):
        return self.fns[q](ctx.spark, inputs.CATALOG_DIR).toPandas()

    def op(self, ctx, i: int) -> dict:
        order = list(CATALOG_QUERIES)
        random.Random(ctx.seed * 1_000_003 + i).shuffle(order)
        times, results = {}, {}
        for q in order:
            t0 = time.perf_counter()
            with ctx.tracer.span(f"plans.{q}"):
                results[q] = self._collect(ctx, q)
            times[q] = time.perf_counter() - t0
        return {"s": sum(times.values()), "times": times, "results": results}

    def check(self, ctx, res: dict) -> bool:
        ctx.spark.catalog.clearCache()
        results = res.pop("results")
        bad = [q for q in CATALOG_QUERIES if not _matches(results[q], self.oracle[q])]
        if bad:
            print(f"[perfbench] results differ from the oracle: {bad}", file=sys.stderr)
        return not bad

    def report(self, results: list[dict]) -> dict:
        def fam(qs):
            return (_median([sum(r["times"][q] for q in qs) for r in results]), "s/pass")

        return {"catalog_vec_s": fam(VEC_QUERIES), "catalog_text_s": fam(TEXT_QUERIES),
                "catalog_sql_s": fam(SQL_QUERIES)}


def _oracle_rows(sql: str, cache_dir: str) -> tuple[list[str], list[tuple]]:
    """Column names and rows of the query's DuckDB oracle on the sf0.01
    tables.  The oracle takes up to 15 s a query, so its rows are kept
    under ``cache_dir``, keyed by the SQL text and the tables' bytes."""
    import duckdb

    key = hashlib.sha256(sql.encode())
    for t in inputs.CATALOG_TABLES:
        with open(os.path.join(inputs.CATALOG_DIR, f"{t}.parquet"), "rb") as fh:
            key.update(fh.read())
    path = os.path.join(cache_dir, key.hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    con = duckdb.connect(config={"threads": 1})
    try:
        for t in inputs.CATALOG_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs.CATALOG_DIR, t)}.parquet')")
        res = con.execute(sql)
        out = [d[0].lower() for d in res.description], res.fetchall()
    finally:
        con.close()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "wb") as fh:
        pickle.dump(out, fh)
    os.replace(path + ".tmp", path)
    return out


def _matches(pdf, oracle: tuple[list[str], list[tuple]], atol: float = 1e-6) -> bool:
    """Spark result vs the oracle: same columns, same row count, same rows
    as a multiset (floats within ``atol``)."""
    d_cols, d_rows = oracle
    s_cols = [c.lower() for c in pdf.columns]
    if sorted(s_cols) != sorted(d_cols) or len(pdf) != len(d_rows):
        return False
    cols = sorted(s_cols)
    s_rows = [tuple(r[s_cols.index(c)] for c in cols)
              for r in pdf.itertuples(index=False, name=None)]
    d_rows = [tuple(r[d_cols.index(c)] for c in cols) for r in d_rows]

    def norm(row):
        return tuple(_norm_cell(v) for v in row)

    def key(row):
        return tuple(f"{v:.3f}" if isinstance(v, float) else str(v) for v in row)

    for a, b in zip(sorted(map(norm, s_rows), key=key), sorted(map(norm, d_rows), key=key)):
        for x, y in zip(a, b):
            if isinstance(x, float) and isinstance(y, float):
                if not (abs(x - y) <= atol or (math.isnan(x) and math.isnan(y))):
                    return False
            elif x != y:
                return False
    return True


def _norm_cell(v):
    if isinstance(v, (np.generic, np.ndarray)):
        v = v.tolist()
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return v + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    return v


WORKLOADS = {w.name: w for w in (KGBuildResume, CatalogMix)}
