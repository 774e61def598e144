"""Unit tests for the partition-local defined_in dedup generator
(pipeline/kg.py) — pure pandas, no SparkSession: the generator consumes an
iterator of pandas batches exactly as mapInPandas feeds them, so batch
boundaries and file runs spanning batches are exercisable directly and
cheaply here (the Spark-level equivalence with the
shuffle dedup is pinned separately in test_kg_e2e.py)."""

from __future__ import annotations

import pandas as pd

from nerzo_spark.pipeline.kg import _partition_local_dedup


def _rows(*specs):
    """spec: (subj, repo, path, commit) tuples, in stream order."""
    return [
        {"subj": s, "repo": r, "path": p, "commit": c} for s, r, p, c in specs
    ]


def _batches(rows, sizes):
    out, i = [], 0
    for n in sizes:
        out.append(pd.DataFrame(rows[i : i + n]))
        i += n
    assert i == len(rows)
    return out


def _expected(rows):
    return (
        pd.DataFrame(rows)
        .drop_duplicates(subset=["subj", "repo", "path", "commit"])
        .reset_index(drop=True)
    )


BASE = _rows(
    # file A: dup inside one batch
    ("e1", "r1", "a.py", "c1"),
    ("e1", "r1", "a.py", "c1"),
    ("e2", "r1", "a.py", "c1"),
    # file B spans the 4|3 batch boundary with a cross-batch dup
    ("e1", "r1", "b.py", "c1"),
    ("e1", "r1", "b.py", "c1"),
    ("e3", "r1", "b.py", "c1"),
    # file C: same subj as file A (distinct key), then a 3-batch-spanning
    # run with dups in every batch
    ("e1", "r2", "c.py", "c2"),
    ("e4", "r2", "c.py", "c2"),
    ("e4", "r2", "c.py", "c2"),
    ("e4", "r2", "c.py", "c2"),
    ("e5", "r2", "c.py", "c2"),
)


def _check_sizes(rows, sizes):
    got = pd.concat(
        list(_partition_local_dedup(iter(_batches(rows, sizes)))),
        ignore_index=True,
    )
    exp = _expected(rows)
    assert sorted(map(tuple, got.itertuples(index=False))) == sorted(
        map(tuple, exp.itertuples(index=False))
    )


def test_dedup_single_batch():
    _check_sizes(BASE, [len(BASE)])


def test_dedup_boundary_spans():
    # boundaries inside file B's run and twice inside file C's run
    _check_sizes(BASE, [4, 3, 2, 2])


def test_dedup_every_row_its_own_batch():
    _check_sizes(BASE, [1] * len(BASE))


def test_dedup_empty_batches():
    batches = [pd.DataFrame(columns=["subj", "repo", "path", "commit"])]
    assert list(_partition_local_dedup(iter(batches))) == []

