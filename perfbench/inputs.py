"""Inputs for the benchmark workloads.

The benchmark hands the program only these inputs:

- the KG corpus comes from the repo's own fixture generator
  (``nerzo_spark.fixtures``), called with the workload seed;
- the catalog tables are the repo's sf0.01 test tables (``documents``,
  ``embeddings``, ``events``, ``lineitem``, ``orders``, ``customer``,
  ``nation``), copied unchanged into ``perfbench/data/sf0.01`` so a run
  reads nothing outside its checkout.  The seed sets only the query order.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
CATALOG_TABLES = ("documents", "embeddings", "events", "lineitem", "orders",
                  "customer", "nation")


def held_out_org(seed: int) -> str:
    """The org whose repos the kg_resume base build leaves out.  org0 also
    holds the mega-repo, so the choice is among org1..org6."""
    return f"org{1 + seed % 6}/"


def row_hash(*fields) -> int:
    """Order-insensitive multiset hash term of one row: the first 60 bits
    of md5 over the 0x1f-joined fields, NULL as 0x00.  ``spark_rows_hash``
    computes the same value inside Spark."""
    s = "\x1f".join("\x00" if f is None else str(f) for f in fields)
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def spark_rows_hash(df, cols: list[str]) -> tuple[int, int]:
    """(row count, sum of :func:`row_hash`) of a Spark DataFrame."""
    from pyspark.sql import functions as F

    key = F.concat_ws("\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in cols])
    term = F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(term).alias("h")).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


TRIPLE_COLS = ["subj", "pred", "obj", "repo", "path", "commit"]


def write_kg_corpus(path: str, n_files: int, seed: int):
    """Write the seeded fixture corpus (``fixtures.corpus.generate``, the
    same rows ``corpus_df_distributed`` makes) as one parquet file; return
    the fixture, which also holds the independent gold triples."""
    from nerzo_spark.fixtures.corpus import generate

    fx = generate(n_files=n_files, seed=seed)
    cols = ["repo", "path", "commit", "lang", "content", "content_sha256"]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table({c: [r[c] for r in fx.corpus] for c in cols}),
                   os.path.join(path, "part-0.parquet"))
    return fx


def gold_hash(fx) -> tuple[int, int]:
    """(count, multiset hash) of the fixture's gold triples."""
    return len(fx.triples), sum(row_hash(*(t[c] for c in TRIPLE_COLS)) for t in fx.triples)
