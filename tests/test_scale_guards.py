"""Scale-guard regression tests: LSH band-size cap, blocked kNN, U5/U6
projection heads, S7 schema evolution, F2 token offsets."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nerzo_spark.plans.catalog_text import _doc_shingle_arrays

SF_SMALL = "/root/testdata/sf0.001"


# --- MinHash-LSH skew guard ---------------------------------------------------
#
# The independent reference is the DuckDB oracle registered for
# dedup_minhash_lsh_pairs (band cap 64, threshold 0.5), run over each test's
# own rows registered as `documents`.  The guard's record is held against
# the same band sizes counted in DuckDB.

def _records(spark, df):
    """The guard records of ``df`` after its action: the metrics reach the
    driver through the listener bus, so drain it first."""
    from nerzo_spark.operators.skew import guard_records

    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return guard_records(df)


def _oracle_matches(pairs, con):
    from nerzo_spark.plans import catalog
    from tests.oracle_harness import compare

    ok, msg = compare(pairs, con, catalog.oracle_sql()["dedup_minhash_lsh_pairs"])
    assert ok, msg


def _docs_con(rows, cols=("doc_id", "text")):
    import duckdb
    import pandas as pd

    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=list(cols)))
    return con


def _minhash_pairs(docs):
    """The near-dup pairs of ``docs`` (doc_id, text), with candidate shingles
    exploded the way the catalog query explodes them."""
    from nerzo_spark.operators.dedup import minhash_lsh_pairs_rowform
    from nerzo_spark.plans.catalog_text import _explode_shingles

    def exploder(ids_df):
        return _explode_shingles(docs.join(F.broadcast(ids_df), "doc_id", "left_semi"))

    return minhash_lsh_pairs_rowform(_doc_shingle_arrays(docs), exploder)


def _duck_band_record(con, cap=64):
    """GuardRecord of the band guard, from band sizes counted in DuckDB."""
    from nerzo_spark.operators.skew import GuardRecord
    from nerzo_spark.plans.catalog_text import _mh_duck

    dropped, worst = con.execute(
        f"""WITH sig AS (
              SELECT doc_id, {_mh_duck(0)} AS mh0, {_mh_duck(1)} AS mh1,
                     {_mh_duck(2)} AS mh2, {_mh_duck(3)} AS mh3
              FROM documents),
            bands AS (
              SELECT md5(mh0 || mh1) AS band FROM sig
              UNION ALL SELECT md5(mh2 || mh3) FROM sig),
            sizes AS (SELECT band, count(*) AS c FROM bands GROUP BY band)
            SELECT count(*) FILTER (WHERE c > {cap}), max(c) FROM sizes"""
    ).fetchone()
    return GuardRecord("minhash_lsh_pairs_rowform", dropped, cap, worst)


def test_lsh_degenerate_band_capped(spark):
    """300 identical docs share every band: without the guard the candidate
    join emits ~45k pairs from one bucket; with cap=64 both of their bands
    are dropped, the record says so, and distinct near-dup pairs still come
    through."""
    from nerzo_spark.operators.skew import GuardRecord

    base = "the quick value of a stream is computed from rows and batches near"
    rows = [(i, base) for i in range(300)]
    # two genuinely-near docs in their own small band
    rows += [(1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa x")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = _docs_con(rows)
    pairs = _minhash_pairs(docs)
    assert _records(spark, pairs) == []  # nothing has run yet
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    record = GuardRecord("minhash_lsh_pairs_rowform", dropped=2, cap=64, worst=300)
    assert _records(spark, pairs) == [record] == [_duck_band_record(con)]
    # the degenerate 300-doc clique is excluded (covered by exact dedup)
    assert all(a >= 1000 for a, _ in got), got
    assert (1000, 1001) in got
    _oracle_matches(pairs, con)


def test_lsh_guard_noop_below_cap(spark):
    """With no oversized band the guard changes nothing: the sf0.001 pairs
    equal the oracle's, and the record shows no drop."""
    from tests.oracle_harness import duck_con

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
    con = duck_con(SF_SMALL)
    pairs = _minhash_pairs(docs)
    _oracle_matches(pairs, con)
    (record,) = _records(spark, pairs)
    assert record == _duck_band_record(con)
    assert record.dropped == 0 and 2 <= record.worst <= 64  # sf0.001 has no 64-doc band


def test_minhash_rowform_band_cap_equals_oracle(spark):
    """Under an active band cap drop (70 identical docs, cap 64) the pair
    set and jaccard values equal the oracle's, and the record shows the two
    dropped bands."""
    from nerzo_spark.operators.skew import GuardRecord

    base = "the quick value of a stream is computed from rows and batches near"
    rows = [(i, base) for i in range(70)]  # one shared band, above cap=64
    rows += [(1000, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
             (1001, "alpha beta gamma delta epsilon zeta eta theta iota kappa x"),
             (1002, "one two three four five six seven eight nine ten eleven"),
             (1003, "one two three four five six seven eight nine ten twelve")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    con = _docs_con(rows)
    record = GuardRecord("minhash_lsh_pairs_rowform", dropped=2, cap=64, worst=70)
    assert _duck_band_record(con) == record

    pairs = _minhash_pairs(docs)
    # non-degenerate: the small near-dup pairs survive
    assert {(1000, 1001), (1002, 1003)} <= {(r.id_a, r.id_b) for r in pairs.collect()}
    assert _records(spark, pairs) == [record]
    _oracle_matches(pairs, con)


# --- blocked kNN --------------------------------------------------------------

def test_knn_blocked_equals_single_chunk(spark):
    """Chunked broadcast kNN must equal the single-broadcast exact result:
    same neighbor sets, same scores (GEMM per pair is chunk-invariant)."""
    from nerzo_spark.operators.topk import knn_self_join

    vecs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = cache.numCachedEntries()
    one = knn_self_join(vecs, k=5, chunk_rows=10**9)
    many = knn_self_join(vecs, k=5, chunk_rows=97)  # forces several chunks

    def key(df):
        return {
            (r.query_id, r.neighbor_id, round(r.score, 9))
            for r in df.collect()
        }

    assert key(one) == key(many)
    # neither path leaves a cache entry behind once its result is collected
    assert cache.numCachedEntries() == before
    # every query keeps exactly k rows with ranks 1..k
    per_q = many.groupBy("query_id").agg(
        F.count("*").alias("c"), F.max("rank").alias("mx"), F.min("rank").alias("mn")
    )
    bad = per_q.filter((F.col("c") != 5) | (F.col("mx") != 5) | (F.col("mn") != 1)).count()
    assert bad == 0


# --- U5 projection head + S7 schema evolution ----------------------------------

def test_projection_head_matches_numpy(spark):
    from nerzo_spark.operators.projection import det_weights, project_head

    vecs = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").limit(50)
    rows = vecs.collect()
    d_in = len(rows[0].embedding)
    w, b = det_weights(d_in, 4)
    got = {
        r.vec_id: np.array(r.proj)
        for r in vecs.withColumn("proj", project_head("embedding", w, b)).collect()
    }
    for r in rows:
        want = w @ np.asarray(r.embedding, dtype=np.float64) + b
        assert np.allclose(got[r.vec_id], want, atol=1e-12)


def test_pair_detector_probability_range(spark):
    from nerzo_spark.operators.projection import det_pair_weights, pair_detector_prob

    e = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
    d_in = len(e.first().embedding)
    wa, wb, bias = det_pair_weights(d_in)
    a, b = e.alias("a"), e.alias("b")
    pairs = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        pair_detector_prob(F.col("a.embedding"), F.col("b.embedding"), wa, wb, bias).alias("p")
    )
    mn, mx = pairs.agg(F.min("p"), F.max("p")).first()
    assert 0.0 < mn and mx < 1.0


# --- F2 token offsets -----------------------------------------------------------

def test_token_offsets_substring_invariant(spark):
    """content[char_start:char_end] == token for every produced offset (the
    reference invariant step_process_to_document.py:110 shape, applied to
    the whitespace tokenizer of llm_interface.py:124-211)."""
    from nerzo_spark.functions.text import token_offsets

    d = spark.read.parquet(f"{SF_SMALL}/documents.parquet").limit(200)
    tok = d.select(
        "text", F.posexplode(token_offsets("text")).alias("pos", "t")
    ).select(
        F.expr("substring(text, t.char_start + 1, t.char_end - t.char_start)").alias("cut"),
        F.col("t.token").alias("token"),
    )
    assert tok.filter(F.col("cut") != F.col("token")).count() == 0


# --- n-gram Jaccard boilerplate-shingle guard ----------------------------------

def _duck_ngram_record(con, cap):
    """GuardRecord of the shingle-df guard, from (s, source) groups counted
    in DuckDB over the same rows."""
    from nerzo_spark.operators.skew import GuardRecord
    from nerzo_spark.plans.catalog_text import _SHINGLE_DUCK

    dropped, worst = con.execute(
        f"""WITH sh AS (
              SELECT source, unnest(list_distinct({_SHINGLE_DUCK})) AS s FROM documents),
            sdf AS (SELECT s, source, count(*) AS df FROM sh GROUP BY s, source)
            SELECT count(*) FILTER (WHERE df > {cap}), max(df) FROM sdf"""
    ).fetchone()
    return GuardRecord("ngram_jaccard_top_pairs", dropped, cap, worst)


def test_ngram_boilerplate_shingle_capped(spark):
    """100 docs of one source share a boilerplate license line: without the
    DF cap the shingle self-join emits ~5k intermediate rows from that one
    shingle.  With the cap the boilerplate shingles are dropped (the record
    counts all 7 of them) and only genuinely-similar docs pair."""
    from nerzo_spark.operators.skew import GuardRecord
    from nerzo_spark.plans.catalog_text import _ngram_jaccard_pairs

    boiler = "licensed under the apache license version two point zero"
    rows = [(i, f"{boiler} unique{i} token{i} word{i} item{i}", "src") for i in range(100)]
    # two genuinely near-dup docs: shared NON-boilerplate shingles (DF=2)
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta", "src"),
        (1001, "alpha beta gamma delta epsilon eta", "src"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")

    top = _ngram_jaccard_pairs(d, df_cap=8)
    out = top.collect()
    record = GuardRecord("ngram_jaccard_top_pairs", dropped=7, cap=8, worst=100)
    assert _records(spark, top) == [record]
    assert _duck_ngram_record(_docs_con(rows, ("doc_id", "text", "source")), 8) == record
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert (1000, 1001) in pairs
    # boilerplate-only docs share nothing after the cap: no pair among them
    assert not any(a < 1000 and b < 1000 for a, b in pairs)


def test_ngram_guard_noop_without_boilerplate(spark):
    """Below the cap the guard changes nothing, and its record shows no
    drop."""
    from nerzo_spark.operators.skew import GuardRecord
    from nerzo_spark.plans.catalog_text import _ngram_jaccard_pairs

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "src"),
        (2, "alpha beta gamma delta epsilon eta", "src"),
        (3, "totally different words here now", "src"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    capped_df = _ngram_jaccard_pairs(d, df_cap=64)
    uncapped_df = _ngram_jaccard_pairs(d, df_cap=10**9)
    capped, uncapped = capped_df.collect(), uncapped_df.collect()
    # the shared shingles of docs 1 and 2 are the most frequent: df 2
    assert _records(spark, capped_df) == [GuardRecord("ngram_jaccard_top_pairs", 0, 64, 2)]
    assert _records(spark, uncapped_df) == [GuardRecord("ngram_jaccard_top_pairs", 0, 10**9, 2)]
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))


def test_ngram_cap_firing_equals_oracle(spark):
    """At NGRAM_DF_CAP, with more than 64 docs of one source sharing a
    boilerplate line, the top pairs equal the registered DuckDB oracle and
    the record's drop count equals DuckDB's count of (s, source) groups over
    the cap.  64 of the docs also share a phrase whose shingles sit exactly
    at the cap and are kept."""
    from nerzo_spark.plans import catalog
    from nerzo_spark.plans.catalog_text import NGRAM_DF_CAP, _ngram_jaccard_pairs
    from tests.oracle_harness import compare

    boiler = "licensed under the apache license version two point zero"
    rows = [
        (i, f"{boiler} {'common mid words now' if i < 64 else 'other'} "
            f"x{i % 9} y{i % 4} z{i}", "a")
        for i in range(70)
    ]
    rows += [
        (1000, "alpha beta gamma delta epsilon zeta", "b"),
        (1001, "alpha beta gamma delta epsilon eta", "b"),
        (1002, "alpha beta gamma delta", "a"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    con = _docs_con(rows, ("doc_id", "text", "source"))

    top = _ngram_jaccard_pairs(d, df_cap=NGRAM_DF_CAP)
    ok, msg = compare(top, con, catalog.oracle_sql()["ngram_jaccard_top_pairs"])
    assert ok, msg
    (record,) = _records(spark, top)
    assert record == _duck_ngram_record(con, NGRAM_DF_CAP)
    assert record.dropped == 7 and record.worst == 70


# --- embedding near-dup label-partition guard ----------------------------------

def test_neardup_label_cap_raises(spark):
    """An oversized label partition must fail loudly (pointing at the ANN
    path), never quietly go quadratic."""
    from nerzo_spark.plans.catalog_more import embedding_neardup_pairs

    rows = [(i, [1.0, 0.0, 0.0, 0.0], 7) for i in range(30)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    with pytest.raises(ValueError, match="ann_lsh_bucketed"):
        embedding_neardup_pairs(e, label_cap=10)
    # within the cap it runs: all 30 are identical vectors -> 435 pairs
    assert embedding_neardup_pairs(e, label_cap=50).count() == 30 * 29 // 2


# --- blocked kNN id-robustness --------------------------------------------------

def test_knn_blocked_handles_negative_and_patterned_ids(spark):
    """Chunking is by pmod(hash(id)): negative ids must not vanish and
    ids that are all multiples of n_chunks must not collapse into one
    chunk.  Blocked result must equal the single-chunk exact path."""
    from nerzo_spark.operators.topk import knn_self_join

    rng = np.random.default_rng(7)
    ids = [(-4 + 4 * i) for i in range(12)]  # negatives + all multiples of 4
    rows = [(int(i), [float(x) for x in rng.normal(size=8)]) for i in ids]
    v = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    blocked = knn_self_join(v, k=3, label_col=None, chunk_rows=3)
    single = knn_self_join(v, k=3, label_col=None, chunk_rows=10**6)
    b = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in blocked.collect())
    s = sorted((r["query_id"], r["rank"], r["neighbor_id"]) for r in single.collect())
    assert b == s
    assert len({q for q, _, _ in b}) == 12  # every query (incl. negatives) present
