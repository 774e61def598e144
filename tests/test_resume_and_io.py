"""Checkpoint/resume (manifest anti-join) + upsert idempotence + TSV round-trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df
from nerzo_spark.pipeline.kg import run_kg_pipeline
from nerzo_spark.pipeline.manifest import ManifestStore
from nerzo_spark.sources.io import read_tsv, upsert_by_key, write_tsv


def test_kill_and_resume_produces_identical_triples(spark, fixture_small, tmp_path):
    """North rule: identical triples after kill + re-run.  Simulates a crash
    after only half the repos were extracted+committed, then resumes.
    Extraction is incremental (manifest anti-join); canonicalization+triples
    recompute globally — see pipeline/incremental.py."""
    from nerzo_spark.pipeline.incremental import run_incremental

    fx = fixture_small
    corpus = corpus_df(spark, fx)
    anchors = fx.anchors
    repos = sorted({c["repo"] for c in fx.corpus})
    first_half = repos[: len(repos) // 2]

    # run 1: "crashes" after extracting half the repos
    out = str(tmp_path / "kg")
    run_incremental(spark, corpus.filter(F.col("repo").isin(first_half)), anchors, out)

    # run 2: resume over the FULL corpus — committed repos must be skipped
    store = ManifestStore(spark, out)
    assert store.filter_uncommitted(
        corpus.filter(F.col("repo").isin(first_half)), "extract", "repo"
    ).count() == 0
    stats = run_incremental(spark, corpus, anchors, out)
    assert stats["repos_extracted"] == len(repos) - len(first_half)

    # run 3: pure re-run — nothing to extract, triples unchanged
    stats3 = run_incremental(spark, corpus, anchors, out)
    assert stats3["repos_extracted"] == 0
    assert stats3["triples_total"] == stats["triples_total"]

    resumed = spark.read.parquet(out + "/triples").select("subj", "pred", "obj").distinct()
    oneshot_out = str(tmp_path / "kg_oneshot")
    run_incremental(spark, corpus, anchors, oneshot_out)
    oneshot = spark.read.parquet(oneshot_out + "/triples").select("subj", "pred", "obj").distinct()
    assert resumed.exceptAll(oneshot).count() == 0
    assert oneshot.exceptAll(resumed).count() == 0


def test_upsert_idempotent(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    upsert_by_key(spark, df1, path, "k")
    upsert_by_key(spark, df2, path, "k")
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "B", 3: "c"}
    # re-running the same upsert converges (idempotence, S8)
    upsert_by_key(spark, df2, path, "k")
    got2 = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got2 == got


def test_tsv_roundtrip(spark, tmp_path):
    p = str(tmp_path / "tsv")
    df = spark.createDataFrame(
        [("person", "Alice", "yes", "Alice went home")],
        "entity_type string, entity_text string, ground_truth_answer string, content string",
    )
    write_tsv(df, p)
    back = read_tsv(spark, p)
    assert [r.asDict() for r in back.collect()] == [r.asDict() for r in df.collect()]


def test_torn_crash_no_duplicate_mentions(spark, fixture_small, tmp_path):
    """Exactly-once at EVERY kill point: simulate a crash BETWEEN the
    mentions partition write and the manifest commit (the at-least-once gap
    flagged in round 1) — the resumed run re-extracts the orphan repos and
    must OVERWRITE their partitions, not append duplicates."""
    from nerzo_spark.pipeline.incremental import run_incremental
    from nerzo_spark.pipeline.kg import build_label_catalog
    from nerzo_spark.operators.extract_link import extract_and_link

    fx = fixture_small
    corpus = corpus_df(spark, fx)
    out = str(tmp_path / "kg_torn")

    # torn write: extract TWO repos, write their partitions, DON'T commit
    repos = sorted({c["repo"] for c in fx.corpus})[:2]
    catalog = build_label_catalog(fx.anchors)
    typed = extract_and_link(corpus.filter(F.col("repo").isin(repos)), catalog)
    (
        typed.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("repo")
        .parquet(out + "/mentions")
    )
    orphan_rows = spark.read.parquet(out + "/mentions").count()
    assert orphan_rows > 0

    # full run over the whole corpus: the orphan repos are uncommitted, so
    # they re-extract — row counts must equal a clean one-shot run
    run_incremental(spark, corpus, fx.anchors, out)
    mentions = spark.read.parquet(out + "/mentions")
    assert mentions.count() == mentions.dropDuplicates(["mention_id"]).count()

    clean = str(tmp_path / "kg_clean")
    run_incremental(spark, corpus, fx.anchors, clean)
    assert mentions.count() == spark.read.parquet(clean + "/mentions").count()
    t_a = spark.read.parquet(out + "/triples").select("subj", "pred", "obj")
    t_b = spark.read.parquet(clean + "/triples").select("subj", "pred", "obj")
    assert t_a.count() == t_b.count()
    assert t_a.exceptAll(t_b).count() == 0


def test_upsert_no_tmp_leak(spark, tmp_path):
    import os

    path = str(tmp_path / "tbl2")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    upsert_by_key(spark, df, path, "k")
    upsert_by_key(spark, df, path, "k")
    assert not os.path.exists(path + ".tmp")
    assert not os.path.exists(path + ".old")


def test_iceberg_adapter_fallback(spark, tmp_path):
    """No Iceberg runtime in this container: the adapter must detect that
    and degrade to the parquet emulation with identical semantics."""
    from nerzo_spark.sources import iceberg as ice

    assert ice.iceberg_available(spark) is False
    p = str(tmp_path / "ice_tbl")
    ice.ensure_table(spark, "db.t", "k long, v string", None, p)
    assert spark.read.parquet(p).count() == 0
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    df2 = spark.createDataFrame([(2, "B")], "k long, v string")
    ice.upsert(spark, df1, "db.t", "k", p)
    ice.upsert(spark, df2, "db.t", "k", p)
    got = {r["k"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "a", 2: "B"}
    pp = str(tmp_path / "ice_part")
    ice.write_overwrite_dynamic(df1.withColumn("part", df1.k % 2), "db.p", "part", pp)
    assert spark.read.parquet(pp).count() == 2


def test_upsert_recovers_torn_swap(spark, tmp_path):
    """Crash between rename(path -> .old) and rename(.tmp -> path) leaves no
    live dir; the next upsert must restore .old (never rebuild from incoming
    alone and then delete the only surviving copy of prior data)."""
    import os

    path = str(tmp_path / "tbl3")
    upsert_by_key(spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), path, "k")
    # simulate the torn state
    os.rename(path, path + ".old")
    out = upsert_by_key(spark, spark.createDataFrame([(3, "c")], "k long, v string"), path, "k")
    got = {(r["k"], r["v"]) for r in out.collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    assert not os.path.exists(path + ".old") and not os.path.exists(path + ".tmp")


def test_upsert_clears_stale_old_and_tmp(spark, tmp_path):
    """A stale .old next to a live table (crash after the final rename) and
    a stale .tmp must both be cleared, not crash the swap or leak."""
    import os

    path = str(tmp_path / "tbl4")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    upsert_by_key(spark, df, path, "k")
    os.makedirs(path + ".old/x")  # non-empty stale .old
    os.makedirs(path + ".tmp")
    out = upsert_by_key(spark, spark.createDataFrame([(2, "b")], "k long, v string"), path, "k")
    assert {r["k"] for r in out.collect()} == {1, 2}
    assert not os.path.exists(path + ".old") and not os.path.exists(path + ".tmp")


def test_iceberg_production_statements(spark, monkeypatch, tmp_path):
    """The Iceberg branches are dead code in this sandbox (no runtime jars);
    lock the EXACT production statements they would issue by mocking
    iceberg_available and capturing spark.sql / writeTo."""
    from nerzo_spark.sources import iceberg as ice

    monkeypatch.setattr(ice, "iceberg_available", lambda *a, **k: True)
    issued = []
    monkeypatch.setattr(spark, "sql", lambda q, *a, **k: issued.append(" ".join(q.split())))

    ice.ensure_table(spark, "db.triples", "subj string, pred string", "pred", "/unused")
    ice.add_column(spark, "db.docs", "emb", "array<float>", "/unused")
    inc = spark.createDataFrame([(1, "a")], "k long, v string")
    ice.upsert(spark, inc, "db.docs", "k", "/unused")
    assert issued == [
        "CREATE TABLE IF NOT EXISTS nerzo.db.triples (subj string, pred string) "
        "USING iceberg PARTITIONED BY (pred)",
        "ALTER TABLE nerzo.db.docs ADD COLUMN emb array<float>",
        "MERGE INTO nerzo.db.docs t USING _nerzo_upsert_src s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
    ]

    class _W:  # records the writeTo(...).overwritePartitions() chain
        def __init__(self, rec):
            self.rec = rec

        def overwritePartitions(self):
            self.rec.append("overwritePartitions")

    class _FakeDF:
        def __init__(self, sess, rec):
            self.sparkSession = sess
            self.rec = rec

        def writeTo(self, name):
            self.rec.append(f"writeTo:{name}")
            return _W(self.rec)

    rec = []
    ice.write_overwrite_dynamic(_FakeDF(spark, rec), "db.mentions", "repo", "/unused")
    assert rec == ["writeTo:nerzo.db.mentions", "overwritePartitions"]


def test_resumable_sink_equals_in_memory(spark, fixture_small, kg_result, tmp_path):
    """Both sinks run one KG assembly: the resumable output's triples,
    entities and lineage counts equal the in-memory pipeline's."""
    from nerzo_spark.pipeline.incremental import run_incremental

    fx = fixture_small
    out = str(tmp_path / "kg")
    run_incremental(spark, corpus_df(spark, fx), fx.anchors, out)

    def same_rows(a, b, cols):
        a, b = a.select(*cols), b.select(*cols)
        assert a.count() == b.count()
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0

    same_rows(
        spark.read.parquet(out + "/triples"), kg_result.triples,
        ["subj", "pred", "obj", "repo", "path", "commit"],
    )
    same_rows(
        spark.read.parquet(out + "/entities"), kg_result.entities,
        ["fine_type", "surface", "canonical", "entity_id"],
    )
    lineage = spark.read.parquet(out + "/lineage")
    same_rows(
        lineage.filter(F.col("stage") == "extract"),
        kg_result.lineage.filter(F.col("stage") == "extract+link"),
        ["repo", "rows_out", "files", "sha_ok"],
    )
    same_rows(
        lineage.filter(F.col("repo") == "__all__"),
        kg_result.lineage.filter(F.col("repo") == "__all__"),
        ["stage", "rows_out"],
    )


def test_failed_build_releases_caches(spark, fixture_small, tmp_path, monkeypatch):
    """A build that fails inside canonicalization, before or after the
    edge table is released, leaves no entry behind in Spark's cache manager,
    on either sink."""
    import pytest

    import nerzo_spark.operators.canonicalize as canon
    from nerzo_spark.pipeline.incremental import run_incremental

    def boom(*args, **kwargs):
        raise RuntimeError("injected")

    fx = fixture_small
    # a repo subset: its plans must not match the session's cached kg_result
    repos = sorted({c["repo"] for c in fx.corpus})[:4]
    corpus = corpus_df(spark, fx).filter(F.col("repo").isin(repos))
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    builds = {
        "in_memory": lambda out: run_kg_pipeline(spark, corpus, fx.anchors),
        "resumable": lambda out: run_incremental(spark, corpus, fx.anchors, out),
    }
    for target in ("_collision_semi_join", "_driver_union_find"):
        with monkeypatch.context() as m:
            m.setattr(canon, target, boom)
            for sink, build in builds.items():
                with pytest.raises(RuntimeError, match="injected"):
                    build(str(tmp_path / f"{target}_{sink}"))
                assert cache.numCachedEntries() == before, (target, sink)
