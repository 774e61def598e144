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


def test_corpus_duplicate_files_checker(spark, fixture_small):
    """The corpus uniqueness checker: clean fixture corpus -> empty; an
    injected duplicate corpus row -> exactly that key flagged with its row
    count."""
    from nerzo_spark.pipeline.kg import corpus_duplicate_files

    corpus = corpus_df(spark, fixture_small)
    assert corpus_duplicate_files(corpus).count() == 0

    dup = corpus.unionAll(corpus.limit(1))
    flagged = corpus_duplicate_files(dup).collect()
    assert len(flagged) == 1
    assert flagged[0]["n_rows"] == 2

