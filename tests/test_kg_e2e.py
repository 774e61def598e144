"""Golden end-to-end test: pipeline triples vs independently-computed gold
triples, P and R >= 0.95 (BASELINE.json north rule; SURVEY.md §2.9 E7)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nerzo_spark.fixtures.spark_io import anchors_df, corpus_df, gold_triples_df
from nerzo_spark.pipeline.kg import run_kg_pipeline


def triple_pr(pred_df, gold_df) -> tuple[float, float]:
    p = pred_df.select("subj", "pred", "obj").distinct()
    g = gold_df.select("subj", "pred", "obj").distinct()
    matched = p.join(g, ["subj", "pred", "obj"]).count()
    n_pred, n_gold = p.count(), g.count()
    return matched / max(n_pred, 1), matched / max(n_gold, 1)


def test_kg_pipeline_triple_pr(spark, fixture_small, kg_result):
    fx = fixture_small
    result = kg_result
    precision, recall = triple_pr(result.triples, gold_triples_df(spark, fx))
    assert precision >= 0.95, f"triple precision {precision:.4f} < 0.95"
    assert recall >= 0.95, f"triple recall {recall:.4f} < 0.95"


def test_mention_offsets_invariant(spark, fixture_small, kg_result):
    """Reference invariant all_text[start:end] == phrase
    (step_process_to_document.py:110) + per-row sha256(content) equality."""
    fx = fixture_small
    result = kg_result
    m = result.mentions
    assert m.filter(~F.col("sha_ok")).count() == 0
    # offsets: re-join mentions to corpus content and check substring equality
    joined = m.join(corpus_df(spark, fx), ["repo", "path", "commit"]).select(
        F.expr("substring(content, span_start + 1, span_end - span_start)").alias("cut"),
        "surface",
    )
    assert joined.filter(F.col("cut") != F.col("surface")).count() == 0


def test_lineage_rows(spark, fixture_small, kg_result):
    result = kg_result
    lin = result.lineage.collect()
    assert len(lin) >= 1
    assert all(r["sha_ok"] for r in lin)
    extract = [r for r in lin if r["stage"] == "extract+link"]
    assert sum(r["rows_out"] for r in extract) == result.mentions.count()
    # per-stage O3 rows on the LIBRARY path (round 5): >=3 distinct stages,
    # stage summary rows carry exact cardinalities + the -1 files sentinel
    stages = {r["stage"] for r in lin}
    assert {"extract+link", "canonicalize", "triples"} <= stages
    by_stage = {r["stage"]: r for r in lin if r["repo"] == "__all__"}
    assert by_stage["canonicalize"]["rows_out"] == result.entities.count()
    assert by_stage["triples"]["rows_out"] == result.triples.count()
    assert by_stage["canonicalize"]["files"] == -1
    # canonicalize wall is measured (eager clustering); triples wall is a
    # documented -1.0 sentinel on the library path
    assert by_stage["canonicalize"]["wall_ms"] > 0
    assert by_stage["triples"]["wall_ms"] == -1.0


def test_triples_count_plan_equals_union_count(spark, fixture_small, kg_result):
    """KGResult.triples_count (the bench headline count) must equal
    triples.count() exactly, and n_mentions the mention count."""
    n_plan = kg_result.triples_count.collect()[0]["n_triples"]
    assert n_plan == kg_result.triples.count()
    assert kg_result.n_mentions == kg_result.mentions.count()


def test_canonical_variant_chain(spark, fixture_small, kg_result):
    """Variant chains (Snake_Case ~ snake_case ~ squashed ~ CamelCase) must
    collapse to ONE entity_id — requires >=2 propagation rounds."""
    fx = fixture_small
    result = kg_result
    ents = {
        (r["fine_type"], r["surface"]): r["entity_id"]
        for r in result.entities.collect()
    }
    # find a planted chain: 4 surface forms sharing a squashed key
    from nerzo_spark.fixtures.corpus import generate, squash

    by_squash: dict[str, set[str]] = {}
    for m in fx.mentions:
        if m["fine_type"] == "function":
            by_squash.setdefault(squash(m["surface"]), set()).add(m["surface"])
    chains = [v for v in by_squash.values() if len(v) >= 3]
    assert chains, "fixture should contain >=3-variant chains"
    for chain in chains:
        ids = {ents[("function", s)] for s in chain if ("function", s) in ents}
        assert len(ids) == 1, f"chain {chain} did not canonicalize: {ids}"


def test_file_local_dedup_equals_shuffle_dedup(spark, fixture_small, kg_result):
    """The no-shuffle partition-local defined_in dedup (file_local_dedup=True,
    the run_kg_pipeline hot path) must emit EXACTLY the rows of the shuffle
    dropDuplicates — including surface variants that canonicalize into one
    entity within a single file (the case a naive first-occurrence flag at
    extraction would over-count)."""
    from nerzo_spark.operators.canonicalize import canonical_overrides
    from nerzo_spark.pipeline.kg import build_label_catalog, build_triples

    typed = kg_result.mentions  # narrow chain from extraction (persisted)
    surfaces = typed.select("fine_type", "surface").distinct()
    overrides = canonical_overrides(surfaces).localCheckpoint()
    catalog = kg_result.label_catalog

    local = build_triples(
        typed, overrides, catalog, surfaces=surfaces, file_local_dedup=True
    ).filter(F.col("pred") == "defined_in")
    shuffled = build_triples(
        typed, overrides, catalog, surfaces=surfaces, file_local_dedup=False
    ).filter(F.col("pred") == "defined_in")
    l_rows = sorted(map(tuple, local.collect()))
    s_rows = sorted(map(tuple, shuffled.collect()))
    assert l_rows == s_rows
    # the repartition(8) fixture spread + megarepo skew means multiple
    # batches/partitions were exercised, not a single-partition trivial pass
    assert len(l_rows) > 0


def test_file_local_dedup_tripwire(spark, fixture_small, kg_result, tmp_path):
    """The narrow-chain tripwire must reject inputs whose file contiguity is
    broken — INCLUDING a shuffle hidden inside a cached plan (caller does
    repartition THEN persist: the Exchange sits below the InMemoryTableScan
    line in the plan string; ADVICE r4 found the old prefix-only scan
    false-passed this), and a parquet round-trip (no extraction MapInPandas
    in the plan at all) — while accepting the legit persisted chain."""
    import pytest
    from pyspark.storagelevel import StorageLevel

    from nerzo_spark.pipeline.kg import _assert_narrow_from_extraction

    typed = kg_result.mentions
    # legit: cache directly over the extraction mapInPandas
    _assert_narrow_from_extraction(typed)

    # hazard 1 (ADVICE r4): shuffle below the cache boundary
    reshuffled = typed.repartition(8).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        reshuffled.count()
        with pytest.raises(ValueError, match="narrow"):
            _assert_narrow_from_extraction(reshuffled)
    finally:
        reshuffled.unpersist()

    # hazard 2: parquet round-trip (incremental.py's shape) — no MapInPandas
    p = str(tmp_path / "typed_roundtrip")
    typed.write.mode("overwrite").parquet(p)
    with pytest.raises(ValueError, match="no extraction boundary"):
        _assert_narrow_from_extraction(spark.read.parquet(p))

    # hazard 3 (ADVICE r5 residue): a CALLER's own mapInPandas sitting above
    # a hidden shuffle — a first-MapInPandas-line scan would stop at the
    # caller's UDF and never see the Exchange; the name-anchored boundary
    # must still catch it
    def _caller_passthrough(batches):
        yield from batches

    masked = typed.repartition(8).mapInPandas(
        _caller_passthrough, schema=typed.schema
    )
    with pytest.raises(ValueError, match="narrow"):
        _assert_narrow_from_extraction(masked)

    # and the same caller mapInPandas WITHOUT a shuffle is narrow -> legit
    _assert_narrow_from_extraction(
        typed.mapInPandas(_caller_passthrough, schema=typed.schema)
    )

    # hazard 4 (ADVICE r5): a caller UDF whose __name__ merely CONTAINS the
    # extraction token, above a hidden shuffle — a substring-of-name match
    # would take the caller's line as the boundary and mask the Exchange;
    # the exact-rendered-form anchor ("MapInPandas _nerzo_extract_link(")
    # must not be fooled by either a prefixed or a suffixed name
    def my_nerzo_extract_link_passthrough(batches):
        yield from batches

    def _nerzo_extract_link_wrapper(batches):
        yield from batches

    for impostor in (my_nerzo_extract_link_passthrough,
                     _nerzo_extract_link_wrapper):
        masked2 = typed.repartition(8).mapInPandas(impostor, schema=typed.schema)
        with pytest.raises(ValueError, match="narrow"):
            _assert_narrow_from_extraction(masked2)


def test_corpus_duplicate_files_checker(spark, fixture_small):
    """The opt-in uniqueness checker (ADVICE r4/r5): clean fixture corpus ->
    empty; an injected duplicate corpus row -> exactly that key flagged with
    its row count."""
    from nerzo_spark.pipeline.kg import corpus_duplicate_files

    corpus = corpus_df(spark, fixture_small)
    assert corpus_duplicate_files(corpus).count() == 0

    dup = corpus.unionAll(corpus.limit(1))
    flagged = corpus_duplicate_files(dup).collect()
    assert len(flagged) == 1
    assert flagged[0]["n_rows"] == 2

