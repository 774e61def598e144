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


def test_run_kg_cli_end_to_end(tmp_path, spark, fixture_small):
    from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df

    corpus_path = str(tmp_path / "corpus")
    anchors_path = str(tmp_path / "anchors")
    out = str(tmp_path / "out")
    corpus_df(spark, fixture_small).write.parquet(corpus_path)
    anchors_df(spark, fixture_small).write.parquet(anchors_path)

    # plain `python jobs/run_kg.py` puts jobs/ (not the repo root) on
    # sys.path; spark-submit --py-files provides the package instead —
    # PYTHONPATH here stands in for the zip
    env = dict(os.environ, SPARK_GRAFT_MASTER="local[4]", PYTHONPATH=REPO)
    res = subprocess.run(
        [
            sys.executable, os.path.join(REPO, "jobs", "run_kg.py"),
            "--corpus", corpus_path, "--anchors", anchors_path,
            "--output", out, "--partitions", "8",
        ],
        capture_output=True, text=True, cwd=REPO, env=env, timeout=600,
    )
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
