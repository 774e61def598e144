"""E2E test of the user-facing CLI surface (VERDICT r3 #7): run
``jobs/run_kg.py`` in a FRESH process on a corpus parquet with an external
``--anchors`` parquet, then check the written triples bit-exact against the
committed independent gold and the per-stage O3 lineage (VERDICT r3 #5).

This covers the path a real user runs (``spark-submit jobs/run_kg.py
--corpus ... --anchors ... --output``; plain ``python`` is the same
entrypoint, SparkSession bootstrap included).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GOLD = os.path.join(REPO, "nerzo_spark", "fixtures", "gold")


def _run_kg_cli(spark, fixture_small, tmp_path, corpus):
    """Write ``corpus`` and the fixture's anchors as parquet, then run
    ``jobs/run_kg.py`` on them in a fresh process."""
    from nerzo_spark.fixtures.spark_io import anchors_df

    corpus_path = str(tmp_path / "corpus")
    anchors_path = str(tmp_path / "anchors")
    corpus.write.parquet(corpus_path)
    anchors_df(spark, fixture_small).write.parquet(anchors_path)

    # plain `python jobs/run_kg.py` puts jobs/ (not the repo root) on
    # sys.path; spark-submit --py-files provides the package instead —
    # PYTHONPATH here stands in for the zip
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[4]", PYTHONPATH=REPO)
    return subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_kg.py"),
            "--corpus", corpus_path, "--anchors", anchors_path,
            "--output", str(tmp_path / "out"), "--partitions", "8",
        ],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )


def test_run_kg_cli_end_to_end(tmp_path, spark, fixture_small):
    from nerzo_spark.fixtures.spark_io import corpus_df

    out = str(tmp_path / "out")
    res = _run_kg_cli(spark, fixture_small, tmp_path, corpus_df(spark, fixture_small))
    assert res.returncode == 0, res.stderr[-3000:]
    stats = json.loads(
        [ln for ln in res.stdout.splitlines() if ln.startswith("{")][-1]
    )
    assert stats["repos_extracted"] > 0
    assert stats["triples_per_sec"] > 0

    con = duckdb.connect()
    got = con.sql(
        f"SELECT subj, pred, obj FROM read_parquet('{out}/triples/*/*.parquet', "
        "hive_partitioning=1)"
    ).fetchall()
    gold = con.sql(
        f"SELECT subj, pred, obj FROM read_parquet('{GOLD}/triples.parquet')"
    ).fetchall()
    assert stats["triples_total"] == len(gold)
    assert sorted(got) == sorted(gold)

    # O3 lineage depth: per-repo extract rows + canonicalize + triples stage
    # rows, each with a real measured wall
    lin = con.sql(
        f"SELECT stage, rows_out, wall_ms FROM read_parquet('{out}/lineage/*.parquet')"
    ).fetchall()
    stages = {r[0] for r in lin}
    assert {"extract", "canonicalize", "triples"} <= stages
    by_stage = {r[0]: r for r in lin if r[0] != "extract"}
    assert by_stage["triples"][1] == len(gold)
    assert all(r[2] > 0 for r in lin)


def test_run_kg_cli_refuses_duplicate_corpus_rows(tmp_path, spark, fixture_small):
    """A file on two corpus rows would be extracted twice, doubling its
    mentions and links_to triples: the job exits non-zero, names the
    file, and writes no triples."""
    from nerzo_spark.fixtures.spark_io import corpus_df

    corpus = corpus_df(spark, fixture_small)
    first = min(fixture_small.corpus, key=lambda c: (c["repo"], c["path"], c["commit"]))
    dup = corpus.filter(
        (corpus.repo == first["repo"]) & (corpus.path == first["path"])
        & (corpus.commit == first["commit"])
    )
    res = _run_kg_cli(spark, fixture_small, tmp_path, corpus.unionByName(dup))
    assert res.returncode != 0
    assert f"{first['repo']} {first['path']} {first['commit']} (2 rows)" in res.stderr
    assert not os.path.exists(tmp_path / "out" / "triples")
