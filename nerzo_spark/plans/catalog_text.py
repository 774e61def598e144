"""Text-analysis + deduplication operator catalog (training-data pipeline ops)
over the `documents` table, each with a DuckDB oracle.

Families: F6/F7 parse/normalize chains, F9 prefix grouping, F10 membership
scoring, language-ID, quality scoring, token counting, fingerprinting, exact
dedup, MinHash signatures + LSH candidate pairs, SimHash, n-gram Jaccard.

Portability rules: md5-only hashing; integer-ratio floats (exact across
engines) preferred; regexp_replace with 'g' in DuckDB (Spark replaces all by
default); concat_ws for shingles (both engines skip NULLs).
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from nerzo_spark.functions.hashing import md5_i64_duckdb, md5_i64_sql
from nerzo_spark.operators.skew import capped_keys, watch
from nerzo_spark.plans.catalog import T, T_par, register

_TOK = r"\s+"


def _tk(col="text"):
    return F.split(F.col(col), _TOK)


def _docs_par(spark, sf_dir):
    """`documents` via :func:`T_par` — see catalog.py (guide §2.5)."""
    return T_par(spark, sf_dir, "documents")


# --- F6 parse chain ---------------------------------------------------------

@register(
    "f5_f6_prompt_parse",
    """SELECT doc_id,
              'In the following sentence, specify if the word or word phrase '''
              || lang || ''' represent a ' || replace('language_tag', '_', ' ')
              || ': ' || substr(text, 1, 40)
              || ' Please answer ''yes'' or ''no''.' AS prompt,
              trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(
                     '1. - ' || substr(text, 1, 30) || '  "end"',
                   '- ', '', 'g'), '``', '', 'g'), '''''', '', 'g'), '"', '', 'g'),
                   '  ', ' ', 'g'), '^\\d+\\.', '', 'g')) AS parsed
       FROM documents""",
)
def f5_f6_prompt_parse(spark, sf_dir):
    """F5 prompt templating (entity_classifier.py:1-5) + F6 LLM answer
    parsing chain (poc_fewnerd_extraction.py:11-33) in one driver slot
    (50-query cap): render the classification prompt, and strip list
    markers / quotes / numbering, collapse doubles, trim."""
    from nerzo_spark.functions.text import classification_prompt, parse_answer_item

    d = T(spark, sf_dir, "documents")
    raw = F.concat(F.lit("1. - "), F.substring("text", 1, 30), F.lit('  "end"'))
    return d.select(
        "doc_id",
        classification_prompt(
            F.lit("language_tag"), F.col("lang"), F.substring("text", 1, 40)
        ).alias("prompt"),
        parse_answer_item(raw).alias("parsed"),
    )


# --- F9 prefix grouping -----------------------------------------------------

@register(
    "f9_prefix_group",
    """SELECT p_partkey,
              split_part(p_type, ' ', 1) AS group_key,
              dense_rank() OVER (ORDER BY split_part(p_type, ' ', 1)) AS grp
       FROM part""",
)
def f9_prefix_group(spark, sf_dir):
    """F9 — dotted-path prefix-tree grouping (group_layers.py:4-50) as
    depth-1 prefix bucketing + dense_rank."""
    p = T(spark, sf_dir, "part")
    key = F.substring_index(F.col("p_type"), " ", 1)
    return p.select(
        "p_partkey",
        key.alias("group_key"),
        F.dense_rank().over(Window.orderBy(key)).alias("grp"),
    )


# --- F10 membership scoring -------------------------------------------------

@register(
    "f10_membership_scoring",
    """SELECT doc_id,
              list_contains(string_split_regex(text, '\\s+'), 'spark') AS has_exact,
              len(list_filter(string_split_regex(text, '\\s+'),
                              t -> contains(t, 'park'))) > 0 AS has_substr
       FROM documents""",
)
def f10_membership_scoring(spark, sf_dir):
    """F10 — gold-phrase-in-extracted-list scoring: exact membership +
    substring variant (poc_fewnerd_extraction.py:71-93,
    poc_manual_labeling.py:56-61)."""
    d = T(spark, sf_dir, "documents")
    tk = _tk()
    return d.select(
        "doc_id",
        F.array_contains(tk, "spark").alias("has_exact"),
        F.exists(tk, lambda t: F.instr(t, "park") > 0).alias("has_substr"),
    )


# --- language-ID + confusion matrix ------------------------------------------

_LANG_MARKERS: dict[str, list[str]] = {
    "de": ["data", "group"],
    "en": ["the", "a"],
    "es": ["value", "stream"],
    "fr": ["merge", "sort"],
    "zh": ["batch", "scan"],
}


def _lang_hits_sql_duck() -> str:
    parts = []
    for lang, words in sorted(_LANG_MARKERS.items()):
        inlist = ", ".join(f"'{w}'" for w in words)
        parts.append(
            f"SELECT doc_id, lang, '{lang}' AS plang, "
            f"len(list_filter(string_split_regex(text, '\\s+'), t -> t IN ({inlist}))) AS hits "
            f"FROM documents"
        )
    return " UNION ALL ".join(parts)


@register(
    "e6_confusion_langid",
    f"""WITH cand AS ({_lang_hits_sql_duck()}),
        best AS (
          SELECT doc_id, lang, plang,
                 row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rn
          FROM cand)
        SELECT lang AS actual, plang AS predicted, count(*) AS cnt
        FROM best WHERE rn = 1 GROUP BY lang, plang""",
)
def e6_confusion_langid(spark, sf_dir):
    """E6 + language-ID: stopword-marker n-gram heuristic -> predicted lang,
    confusion matrix vs actual (poc_fewnerd_extraction.py:185-195 shape).
    Deterministic tie-break: hits desc, lang name asc."""
    # ONE scan + stack instead of |langs| unioned scans: the union form
    # re-read and re-tokenized `documents` once per language (5 scans, each
    # single-task on a one-row-group input); per-(doc, lang) hit values are
    # the identical expression, so the row multiset is unchanged.
    d = _docs_par(spark, sf_dir)
    tk = _tk()
    langs = sorted(_LANG_MARKERS.items())
    def _hits(words):
        # closure (not a default arg): F.filter reads the lambda's arity, so
        # a second parameter would be bound to the element INDEX column
        return F.size(F.filter(tk, lambda t: t.isin(words)))

    hit_cols = [
        _hits(words).alias(f"h_{i}") for i, (_, words) in enumerate(langs)
    ]
    stack_args = ", ".join(f"'{lang}', h_{i}" for i, (lang, _) in enumerate(langs))
    cands = d.select("doc_id", "lang", *hit_cols).select(
        "doc_id", "lang",
        F.expr(f"stack({len(langs)}, {stack_args}) AS (plang, hits)"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("hits"), "plang")
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("lang").alias("actual"), F.col("plang").alias("predicted"))
        .agg(F.count("*").alias("cnt"))
    )


# --- quality scoring ----------------------------------------------------------

@register(
    "text_quality_scores",
    """SELECT doc_id,
              len(string_split_regex(text, '\\s+')) AS n_tokens,
              round(list_aggregate(list_transform(string_split_regex(text, '\\s+'),
                    t -> length(t)), 'sum') * 1.0
                    / len(string_split_regex(text, '\\s+')), 6) AS avg_token_len,
              round(len(list_filter(string_split_regex(text, '\\s+'),
                    t -> t IN ('the', 'a', 'of'))) * 1.0
                    / len(string_split_regex(text, '\\s+')), 6) AS stopword_ratio
       FROM documents""",
)
def text_quality_scores(spark, sf_dir):
    """Quality scoring: token count, mean token length, stopword ratio —
    integer-ratio floats (bit-exact across engines)."""
    d = T(spark, sf_dir, "documents")
    tk = _tk()
    n = F.size(tk)
    tot_len = F.aggregate(tk, F.lit(0), lambda acc, t: acc + F.length(t))
    stop = F.size(F.filter(tk, lambda t: t.isin("the", "a", "of")))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(tot_len * 1.0 / n, 6).alias("avg_token_len"),
        F.round(stop * 1.0 / n, 6).alias("stopword_ratio"),
    )


@register(
    "token_count_totals",
    """SELECT source,
              CAST(sum(len(string_split_regex(text, '\\s+'))) AS BIGINT) AS ws_tokens,
              CAST(sum(len(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT) AS re_tokens
       FROM documents GROUP BY source""",
)
def token_count_totals(spark, sf_dir):
    """Token counting per source: whitespace + regex tokenizer (BPE-ish
    pre-tokenization shape)."""
    d = T(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(_tk())).alias("ws_tokens"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0))).alias("re_tokens"),
    )


# --- fingerprinting -----------------------------------------------------------

@register(
    "doc_fingerprint",
    """SELECT doc_id,
              list_aggregate(list_transform(
                  generate_series(1, greatest(length(text) - 7, 1)),
                  i -> md5(substr(text, i, 8))), 'min') AS fingerprint
       FROM documents""",
)
def doc_fingerprint(spark, sf_dir):
    """Document fingerprinting: min-hash over rolling char-8-gram shingles
    (winnowing-lite, content-defined).

    Hashed in one Arrow-batched Python pass (:func:`_min_md5_char8`): Spark
    runs a ``transform`` lambda interpreted, about 5 µs per shingle (0.8 s
    of CPU for the 145k shingles of sf0.01 on a 4-core host), where
    ``hashlib`` takes under 1 µs (0.4 s, the Python task's fixed cost
    included)."""
    d = T(spark, sf_dir, "documents")
    fingerprint = F.pandas_udf(_min_md5_char8, "string")
    return d.select("doc_id", fingerprint("text").alias("fingerprint"))


def _min_md5_char8(text: pd.Series) -> pd.Series:
    """Per text, the least md5 hex of its char-8-grams, as the oracle's
    ``min(md5(substr(text, i, 8)))`` for i in 1..max(length - 7, 1): a text
    shorter than 8 chars is its own one gram, and NULL stays NULL.  Chars
    are code points on both sides, and md5 hashes their UTF-8 bytes."""

    def one(t):
        if t is None:
            return None
        return min(hashlib.md5(t[i : i + 8].encode()).hexdigest() for i in range(max(len(t) - 7, 1)))

    return text.map(one)


# --- dedup family ---------------------------------------------------------------

@register(
    "dedup_exact_groups",
    """SELECT md5(text) AS fp, count(*) AS cnt, min(doc_id) AS keeper
       FROM documents GROUP BY md5(text)""",
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup: content-hash groupBy, keeper = min id (the reference's
    content-hash upsert semantics, step_index_to_database.py:36-49)."""
    d = T(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("keeper"))
    )


_SHINGLE_DUCK = (
    "list_transform(generate_series(1, greatest(len(string_split_regex(text, '\\s+')) - 2, 1)),"
    " i -> concat_ws(' ', string_split_regex(text, '\\s+')[i],"
    " string_split_regex(text, '\\s+')[i+1], string_split_regex(text, '\\s+')[i+2]))"
)


def _mh_duck(j: int) -> str:
    return f"list_aggregate(list_transform({_SHINGLE_DUCK}, s -> md5('{j}|' || s)), 'min')"


def _doc_shingle_arrays(d):
    """(doc table) -> (doc_id, sh ARRAY<STRING>) — one row per doc with its
    DISTINCT word-3-gram shingles (r7 row form; guide §2.3: ship arrays, not
    an exploded corpus-scale table, when downstream work is per-doc).

    The token array is materialized ONCE per row in its own Project —
    inlining `split(text)` into the transform lambda re-evaluated it per
    shingle index (O(tokens^2) per doc; measured ~3x the stage time)."""
    return d.select("doc_id", F.split(F.col("text"), _TOK).alias("toks")).select(
        "doc_id", F.array_distinct(F.expr(_SHINGLE_FROM_TOKS)).alias("sh")
    )


_SHINGLE_FROM_TOKS = (
    "transform(sequence(1, greatest(size(toks) - 2, 1)),"
    " i -> concat_ws(' ', element_at(toks, i),"
    " try_element_at(toks, i + 1), try_element_at(toks, i + 2)))"
)


def _explode_shingles(d, *carry: str):
    """(doc table) -> (doc_id[, carry...], s) exploded distinct shingles.

    PLAN-SHAPE CRITICAL (r7 regression found by measurement): the explode
    must sit DIRECTLY over the two-step token projection.  Routing it over
    an aliased `sh` array column lets CollapseProject inline the whole
    shingle expression — including `split(text)` — into the Generate, where
    `toks` is re-evaluated per shingle index: measured 54 s vs 1.6 s for
    the identical result at sf1.0.  `toks` survives as its own Project here
    because the shingle transform references it multiple times."""
    return d.select("doc_id", *carry, F.split(F.col("text"), _TOK).alias("toks")).select(
        "doc_id", *carry, F.explode(F.array_distinct(F.expr(_SHINGLE_FROM_TOKS))).alias("s")
    )


def _shingles_exploded(spark, sf_dir):
    """(doc_id, s) distinct word-3-gram shingles — exploded form (min over
    distinct == min over all, so one table can feed signatures, bands and
    Jaccard verification)."""
    return _explode_shingles(_docs_par(spark, sf_dir))


def _signatures(sh):
    """One-pass hash-aggregate: 4 minhashes per doc from the exploded
    shingle table (map-side partial min -> single shuffle on doc_id)."""
    return sh.groupBy("doc_id").agg(
        *[F.min(F.md5(F.concat(F.lit(f"{j}|"), F.col("s")))).alias(f"mh{j}") for j in range(4)]
    )


@register(
    "dedup_minhash_signatures",
    f"""SELECT doc_id, {_mh_duck(0)} AS mh0, {_mh_duck(1)} AS mh1,
               {_mh_duck(2)} AS mh2, {_mh_duck(3)} AS mh3
        FROM documents""",
)
def dedup_minhash_signatures(spark, sf_dir):
    """MinHash signatures (k=4) over word-3-gram shingles; md5-based so the
    signature is engine-portable."""
    return _signatures(_shingles_exploded(spark, sf_dir))


@register(
    "dedup_minhash_lsh_pairs",
    f"""WITH sig AS (
          SELECT doc_id, {_mh_duck(0)} AS mh0, {_mh_duck(1)} AS mh1,
                 {_mh_duck(2)} AS mh2, {_mh_duck(3)} AS mh3
          FROM documents),
        bands AS (
          SELECT doc_id, md5(mh0 || mh1) AS band FROM sig
          UNION ALL
          SELECT doc_id, md5(mh2 || mh3) AS band FROM sig),
        band_sizes AS (SELECT band, count(*) AS bcnt FROM bands GROUP BY band),
        kept AS (
          SELECT b.doc_id, b.band FROM bands b
          JOIN band_sizes s ON s.band = b.band AND s.bcnt <= 64),
        cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM kept a JOIN kept b ON a.band = b.band AND a.doc_id < b.doc_id),
        sh AS (
          SELECT doc_id, unnest(list_distinct({_SHINGLE_DUCK})) AS s FROM documents),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT c.id_a, c.id_b, count(*) AS i
          FROM cand c JOIN sh x ON x.doc_id = c.id_a
                      JOIN sh y ON y.doc_id = c.id_b AND y.s = x.s
          GROUP BY c.id_a, c.id_b)
        SELECT i.id_a, i.id_b,
               round(i.i * 1.0 / (na.n + nb.n - i.i), 6) AS jaccard
        FROM inter i JOIN sizes na ON na.doc_id = i.id_a
                     JOIN sizes nb ON nb.doc_id = i.id_b
        WHERE round(i.i * 1.0 / (na.n + nb.n - i.i), 6) >= 0.5""",
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH near-dup pairs: band -> bucket-join candidates -> exact
    Jaccard verify (>= 0.5).  Scale: candidates come from the band
    equi-join (shuffle on band key), never an all-pairs product; the verify
    join touches candidate docs only; bands larger than 64 docs are
    excluded (quadratic skew guard, operators/dedup.py — the oracle mirrors
    the same cap).

    Built by operators/dedup.py minhash_lsh_pairs_rowform: signatures and
    sizes are per-row array expressions, and shingles are exploded only for
    candidate docs, so no shingle table is exploded, cached or shuffled
    corpus-wide."""
    from nerzo_spark.operators.dedup import minhash_lsh_pairs_rowform

    def _cand_exploder(ids_df):
        # the candidate docs straight from the scan: over T_par's exchange,
        # the semi-join would be pushed below it and shuffle the table a
        # second time (a Spark job) for a candidate-scale explode
        docs = T(spark, sf_dir, "documents")
        return _explode_shingles(docs.join(F.broadcast(ids_df), "doc_id", "left_semi"))

    return minhash_lsh_pairs_rowform(
        _doc_shingle_arrays(_docs_par(spark, sf_dir)), _cand_exploder
    )


@register(
    "dedup_simhash16",
    f"""WITH tok AS (
          SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\\s+'))) AS t
          FROM documents),
        h AS (SELECT doc_id, {md5_i64_duckdb('t')} AS hv FROM tok),
        bits AS (
          SELECT doc_id, g.b,
                 sum(CASE WHEN (hv >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h, generate_series(0, 15) AS g(b)
          GROUP BY doc_id, g.b)
        SELECT doc_id,
               CAST(sum(CASE WHEN s >= 0 THEN CAST(round(pow(2, b)) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id""",
)
def dedup_simhash16(spark, sf_dir):
    """SimHash (16-bit) per document from distinct tokens; md5-derived bit
    votes so both engines agree bit-for-bit."""
    d = _docs_par(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(_tk())).alias("t")
    ).withColumn("hv", F.expr(md5_i64_sql("t")))
    bits = (
        tok.select("doc_id", "hv", F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"))
        .withColumn(
            "contrib",
            F.when(F.expr("(shiftright(hv, b) & 1) = 1"), F.lit(1)).otherwise(F.lit(-1)),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("contrib").alias("s"))
    )
    return (
        bits.withColumn(
            "bitval",
            F.when(F.col("s") >= 0, F.expr("CAST(round(pow(2, b)) AS BIGINT)")).otherwise(F.lit(0)),
        )
        .groupBy("doc_id")
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )


NGRAM_DF_CAP = 64


@register(
    "ngram_jaccard_top_pairs",
    f"""WITH sh0 AS (
          SELECT doc_id, source, unnest(list_distinct({_SHINGLE_DUCK})) AS s
          FROM documents),
        sdf AS (SELECT s, source, count(*) AS df FROM sh0 GROUP BY s, source),
        sh AS (
          SELECT sh0.doc_id, sh0.source, sh0.s FROM sh0
          JOIN sdf ON sdf.s = sh0.s AND sdf.source = sh0.source
          WHERE sdf.df <= {NGRAM_DF_CAP}),
        sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.source = b.source AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT id_a, id_b, round(i.i * 1.0 / (na.n + nb.n - i.i), 6) AS jaccard
        FROM inter i JOIN sizes na ON na.doc_id = id_a
                     JOIN sizes nb ON nb.doc_id = id_b
        ORDER BY jaccard DESC, id_a, id_b LIMIT 20""",
)
def ngram_jaccard_top_pairs(spark, sf_dir):
    """n-gram Jaccard near-dup: top-20 most similar doc pairs within a
    source partition, over stop-shingle-filtered shingle sets.

    Scale: the shingle equi-join is bounded by the source partition, but a
    BOILERPLATE shingle (license header / template text) shared by M docs of
    one source would still emit M^2 intermediate rows — real output volume,
    not partition imbalance, so no AQE split can fix it.  Guard: drop
    shingles with per-source document frequency > NGRAM_DF_CAP before the
    join (same posture as the LSH band cap, operators/dedup.py) and report
    the drop as a record (operators/skew.py).  Jaccard is then computed
    over the KEPT (informative) shingles on both sides — numerator and
    denominator — which is standard stop-feature removal; the DuckDB oracle
    mirrors the identical cap so results stay bit-exact.  Ties broken by
    ids."""
    return _ngram_jaccard_pairs(_docs_par(spark, sf_dir), df_cap=NGRAM_DF_CAP)


def _ngram_jaccard_pairs(d, df_cap: int = NGRAM_DF_CAP):
    """Top-20 n-gram Jaccard pairs per source, as one lazy plan: building
    it runs nothing and holds no cache.

    The df cap is a window count over (s, source) (operators/skew.py): its
    exchange is the one the shingle self-join reads on both sides, and the
    per-doc kept-shingle sizes read it a third time.  The drop is observed
    in-plan; read it with :func:`~nerzo_spark.operators.skew.guard_records`
    on the returned frame (``guard="ngram_jaccard_top_pairs"``) once an
    action has run it.  Shingles come from the two-step token projection
    (:func:`_explode_shingles`), built once per doc."""
    observed, kept, guard = capped_keys(
        _explode_shingles(d, "source"), ["s", "source"], df_cap, "ngram_jaccard_top_pairs"
    )
    sizes = kept.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        observed.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count("*").alias("i"))
    )
    pairs = (
        inter.join(sizes.alias("na"), F.col("na.doc_id") == F.col("id_a"))
        .join(sizes.alias("nb"), F.col("nb.doc_id") == F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(F.col("i") * 1.0 / (F.col("na.n") + F.col("nb.n") - F.col("i")), 6).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "id_a", "id_b")
        .limit(20)
    )
    return watch(pairs, guard)


# --- F2 offset -> token-index mapping ----------------------------------------

@register(
    "f2_token_offsets",
    """WITH t AS (
         SELECT doc_id,
                unnest(string_split(text, ' ')) AS token,
                unnest(generate_series(1, len(string_split(text, ' ')))) AS idx
         FROM documents),
       off AS (
         SELECT doc_id, idx - 1 AS pos, token,
                CAST(coalesce(sum(length(token) + 1) OVER (
                   PARTITION BY doc_id ORDER BY idx
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                  AS char_start
         FROM t)
       SELECT doc_id, pos, token, char_start,
              char_start + length(token) AS char_end,
              char_start <= 25 AND char_start + length(token) > 25 AS covers_25
       FROM off WHERE pos < 24""",
)
def f2_token_offsets(spark, sf_dir):
    """F2 — offset -> token-index map (llm_interface.py:124-211,
    llama3_tokenizer.py:56-79): whitespace tokenizer + cumulative-length
    char offsets, built as one shuffle-free array fold
    (functions/text.py token_offsets) then exploded.  `covers_25` is the
    map applied at char offset 25: the covering token is the row where
    char_start <= o < char_end."""
    from nerzo_spark.functions.text import token_offsets

    d = _docs_par(spark, sf_dir)
    tok = d.select(
        "doc_id", F.posexplode(token_offsets("text")).alias("pos", "t")
    ).filter(F.col("pos") < 24)
    return tok.select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("t.token").alias("token"),
        F.col("t.char_start").alias("char_start"),
        F.col("t.char_end").alias("char_end"),
        ((F.col("t.char_start") <= 25) & (F.col("t.char_end") > 25)).alias("covers_25"),
    )
