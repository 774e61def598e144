"""Checkpoint/resume (manifest anti-join), the resume's partition-overwrite
sink, and the cache lifetimes of both KG sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df
from nerzo_spark.pipeline.kg import run_kg_pipeline
from nerzo_spark.pipeline.manifest import ManifestStore


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


def test_resume_skips_a_key_committed_twice(spark, fixture_small, tmp_path):
    """The manifest is append-only, so a key can be committed twice (a
    commit retried after a crash).  Such a repo is skipped, and each other
    repo is extracted and committed exactly once."""
    import glob

    from nerzo_spark.pipeline.incremental import run_incremental

    fx = fixture_small
    corpus = corpus_df(spark, fx)
    repos = sorted({c["repo"] for c in fx.corpus})
    twice, rest = repos[0], repos[1:]
    out = str(tmp_path / "kg")
    run_incremental(spark, corpus.filter(F.col("repo") == twice), fx.anchors, out)
    store = ManifestStore(spark, out)
    store.commit("extract", [twice])
    keys = store.read().filter(F.col("partition_key") == twice).count()
    assert keys == 2
    twice_files = set(glob.glob(out + "/mentions/*/*.parquet"))

    stats = run_incremental(spark, corpus, fx.anchors, out, run_id="resume")
    assert stats["repos_extracted"] == len(rest)
    resumed = store.read().filter(F.col("run_id") == "resume").collect()
    assert sorted(r["partition_key"] for r in resumed) == rest
    # the skipped repo's partition was not rewritten
    assert twice_files <= set(glob.glob(out + "/mentions/*/*.parquet"))
    mentions = spark.read.parquet(out + "/mentions")
    assert mentions.count() == mentions.dropDuplicates(["mention_id"]).count()


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


def test_iceberg_adapter_fallback(spark, tmp_path):
    """No Iceberg runtime in this session: the adapter must detect that
    and degrade to a parquet dynamic partition overwrite."""
    from nerzo_spark.sources import iceberg as ice

    assert ice.iceberg_available(spark) is False
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    pp = str(tmp_path / "ice_part")
    ice.write_overwrite_dynamic(df1.withColumn("part", df1.k % 2), "db.p", "part", pp)
    assert spark.read.parquet(pp).count() == 2


def test_iceberg_production_statements(spark, monkeypatch, tmp_path):
    """The Iceberg branch does not run without the runtime jars; lock the
    EXACT production call it would make by mocking iceberg_available and
    capturing the writeTo chain."""
    from nerzo_spark.sources import iceberg as ice

    monkeypatch.setattr(ice, "iceberg_available", lambda *a, **k: True)

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
    entities and lineage counts equal the in-memory pipeline's.  The
    lineage and manifest schemas, nullability included, are the ones both
    sinks have always produced (their per-run frames are driver-built)."""
    import glob
    import json

    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        BooleanType, DoubleType, LongType, StringType, StructField, StructType,
    )

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

    def written_schema(table):
        f = sorted(glob.glob(f"{out}/{table}/*.parquet"))[0]
        meta = pq.read_schema(f).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        return StructType.fromJson(json.loads(meta))

    def lineage_schema(nullable):
        return StructType([
            StructField("repo", StringType()),
            StructField("rows_out", LongType(), nullable),
            StructField("sha_ok", BooleanType()),
            StructField("files", LongType(), nullable),
            StructField("stage", StringType(), nullable),
            StructField("run_id", StringType(), nullable),
            StructField("wall_ms", DoubleType(), nullable),
        ])

    assert kg_result.lineage.schema == lineage_schema(nullable=False)
    assert written_schema("lineage") == lineage_schema(nullable=True)
    assert written_schema("manifest") == StructType([
        StructField("stage", StringType()),
        StructField("partition_key", StringType()),
        StructField("run_id", StringType()),
        StructField("committed_at", DoubleType()),
    ])


def test_empty_snapshot_sinks_agree(spark, fixture_small, tmp_path):
    """A zero-row corpus into a fresh directory commits no mention table;
    the resumable sink reads it as empty, as the in-memory sink builds it,
    and both count 0 triples."""
    from nerzo_spark.pipeline.incremental import run_incremental

    fx = fixture_small
    empty = corpus_df(spark, fx).limit(0)
    with run_kg_pipeline(spark, empty, anchors_df(spark, fx)) as res:
        assert res.triples_count.collect()[0]["n_triples"] == 0
    out = str(tmp_path / "kg")
    stats = run_incremental(spark, empty, fx.anchors, out)
    assert (stats["repos_extracted"], stats["triples_total"]) == (0, 0)
    stages = spark.read.parquet(out + "/lineage").select("stage", "rows_out").collect()
    assert sorted(stages) == [("canonicalize", 0), ("triples", 0)]


def test_resume_leaves_no_observation_entry(spark, fixture_small, tmp_path):
    """run_incremental counts entities and triples with observed metrics
    during their writes.  Those writes always run, so Spark's
    ObservationManager holds as many entries afterwards as before (only an
    observed plan that is built and never run leaves one)."""
    from nerzo_spark.pipeline.incremental import run_incremental

    fx = fixture_small
    repos = sorted({c["repo"] for c in fx.corpus})[:4]
    corpus = corpus_df(spark, fx).filter(F.col("repo").isin(repos))
    manager = spark._jsparkSession.observationManager()
    field = manager.getClass().getDeclaredField("observations")
    field.setAccessible(True)
    before = field.get(manager).size()
    stats = run_incremental(spark, corpus, fx.anchors, str(tmp_path / "kg"))
    assert stats["triples_total"] > 0
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    assert field.get(manager).size() == before


def test_failed_build_releases_caches(spark, fixture_small, tmp_path, monkeypatch):
    """A build that fails inside canonicalization, while building the
    collision plan or after its bounded collect, leaves no entry behind in
    Spark's cache manager, on either sink."""
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
    for target in ("squash_key", "_driver_union_find"):
        with monkeypatch.context() as m:
            m.setattr(canon, target, boom)
            for sink, build in builds.items():
                with pytest.raises(RuntimeError, match="injected"):
                    build(str(tmp_path / f"{target}_{sink}"))
                assert cache.numCachedEntries() == before, (target, sink)


def test_closed_kg_result_releases_caches(spark, fixture_small):
    """Leaving ``with run_kg_pipeline(...)`` releases every cache the build
    holds (the mention table, the surface aggregate and the triples count),
    after the caller has collected from them."""
    fx = fixture_small
    # a repo subset: its plans must not match the session's cached kg_result
    repos = sorted({c["repo"] for c in fx.corpus})[:4]
    corpus = corpus_df(spark, fx).filter(F.col("repo").isin(repos))
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    with run_kg_pipeline(spark, corpus, fx.anchors) as res:
        assert res.triples_count.collect()[0]["n_triples"] > 0
        assert res.lineage.collect()
        assert cache.numCachedEntries() > before
    assert cache.numCachedEntries() == before


@pytest.mark.parametrize("op", ["minhash_lsh_pairs_rowform", "_ngram_jaccard_pairs"])
def test_near_dup_plans_hold_no_cache(spark, op):
    """Building and collecting a near-dup plan whose skew guard fires
    leaves the session's cache entries as they were."""
    from nerzo_spark.operators.dedup import minhash_lsh_pairs_rowform
    from nerzo_spark.plans.catalog_text import (
        _doc_shingle_arrays,
        _explode_shingles,
        _ngram_jaccard_pairs,
    )

    base = "the quick value of a stream is computed from rows and batches near"
    docs = spark.createDataFrame(
        [(i, base, "src") for i in range(70)], "doc_id long, text string, source string"
    )
    builds = {
        "minhash_lsh_pairs_rowform": lambda: minhash_lsh_pairs_rowform(
            _doc_shingle_arrays(docs),
            lambda ids: _explode_shingles(docs.join(F.broadcast(ids), "doc_id", "left_semi")),
        ),
        "_ngram_jaccard_pairs": lambda: _ngram_jaccard_pairs(docs, df_cap=8),
    }
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    plan = builds[op]()
    assert cache.numCachedEntries() == before
    plan.collect()
    assert cache.numCachedEntries() == before
