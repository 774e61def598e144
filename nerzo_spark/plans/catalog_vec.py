"""Vector similarity + evaluation operator catalog over `embeddings`
(SURVEY.md §2.3 J1/J2, §2.5 W8, §2.7 F11/F12, §2.9 E1/E2/E4) and the
similarity-search family (brute-force and LSH-bucketed ANN).

Floats: cosine/dot computed in DOUBLE on both engines with sequential
accumulation; only ranks / integer ratios / rounded values are emitted.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nerzo_spark.plans.catalog import T, T_par, register

# explicit double-precision cosine, both dialects (sequential fold)
_COS_SPARK = (
    "aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
    " (x, y) -> x * y), 0D, (s, x) -> s + x)"
    " / (sqrt(aggregate(CAST({a} AS ARRAY<DOUBLE>), 0D, (s, x) -> s + x * x))"
    " * sqrt(aggregate(CAST({b} AS ARRAY<DOUBLE>), 0D, (s, x) -> s + x * x)))"
)

# Factored pieces of the SAME cosine (guide §1.2 per-task work): higher-order
# array expressions are interpreted (no codegen), so per-PAIR scoring paths
# precompute each side's norm ONCE per row and divide the dot product by the
# norm product — the identical scalar op sequence as _COS_SPARK (dot fold,
# sqrt(sum-of-squares fold) per side, one multiply, one divide), so results
# are bit-identical while the per-pair work drops from 3 array folds to 1.
_DOT_SPARK = (
    "aggregate(zip_with(CAST({a} AS ARRAY<DOUBLE>), CAST({b} AS ARRAY<DOUBLE>),"
    " (x, y) -> x * y), 0D, (s, x) -> s + x)"
)
_NORM_SPARK = "sqrt(aggregate(CAST({v} AS ARRAY<DOUBLE>), 0D, (s, x) -> s + x * x))"

_COS_DUCK = (
    "list_aggregate(list_transform(generate_series(1, len({a})),"
    " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
    " / (sqrt(list_aggregate(list_transform(generate_series(1, len({a})),"
    " i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE), 'sum'))"
    " * sqrt(list_aggregate(list_transform(generate_series(1, len({b})),"
    " i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')))"
)


@register(
    "j1_cosine_topk",
    f"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        scored AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 {_COS_DUCK.format(a='q.embedding', b='e.embedding')} AS s
          FROM q JOIN embeddings e ON e.vec_id <> q.vec_id)
        SELECT query_id, neighbor_id, rank FROM (
          SELECT query_id, neighbor_id,
                 row_number() OVER (PARTITION BY query_id ORDER BY s DESC, neighbor_id) AS rank
          FROM scored) WHERE rank <= 5""",
)
def j1_cosine_topk(spark, sf_dir):
    """J1/W8/P10 — the reference's entity-linking query: score every vector
    by cosine against each query, keep top-k, exclude self, deterministic
    tie-break (queries.py:218-230; fewnerd_retrieve_eval.py:65-92).

    Declarative variant: broadcast the (tiny) query side, cross-join + cosine
    expression + per-query row_number window.  Catalyst keeps the big side
    un-shuffled until the single top-k window shuffle on query_id.

    r7: T_par (single-row-group scan skew) + factored-norm cosine (each
    side's norm computed once per ROW instead of once per PAIR; bit-identical
    op sequence — see _DOT_SPARK/_NORM_SPARK)."""
    norm = F.expr(_NORM_SPARK.format(v="embedding"))
    e = T_par(spark, sf_dir, "embeddings").withColumn("n_e", norm)
    # the query side reads the table directly: over T_par's exchange, its
    # filter would be pushed below the exchange and shuffle the table a
    # second time (a Spark job), only to feed a broadcast of 5 rows
    q = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm.alias("n_q"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn(
            "s",
            F.expr(_DOT_SPARK.format(a="q_emb", b="embedding"))
            / (F.col("n_q") * F.col("n_e")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "rank")
    )


@register(
    "e1_recall_at_k",
    f"""WITH scored AS (
          SELECT a.vec_id AS qid, a.label AS qlab, b.label AS nlab,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     {_COS_DUCK.format(a='a.embedding', b='b.embedding')} DESC, b.vec_id) AS rn
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        per_q AS (
          SELECT qid, qlab, avg(CASE WHEN nlab = qlab THEN 1.0 ELSE 0.0 END) AS hit
          FROM scored WHERE rn <= 10 GROUP BY qid, qlab)
        SELECT qlab AS label, round(avg(hit), 6) AS recall_at_10
        FROM per_q GROUP BY qlab""",
)
def e1_recall_at_k(spark, sf_dir):
    """E1 — recall@k per type (fewnerd_retrieve_eval.py:40-63): exact kNN
    self-join (J2, GEMM path) -> top-10 label-hit fraction -> macro per label."""
    from nerzo_spark.operators.topk import knn_self_join

    e = T(spark, sf_dir, "embeddings")
    knn = knn_self_join(e, k=10)
    per_q = knn.groupBy("query_id", "query_label").agg(
        F.avg((F.col("neighbor_label") == F.col("query_label")).cast("double")).alias("hit")
    )
    return per_q.groupBy(F.col("query_label").alias("label")).agg(
        F.round(F.avg("hit"), 6).alias("recall_at_10")
    )


@register(
    "e2_rprecision",
    f"""WITH sizes AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
        scored AS (
          SELECT a.vec_id AS qid, a.label AS qlab, b.label AS nlab,
                 row_number() OVER (PARTITION BY a.vec_id ORDER BY
                     {_COS_DUCK.format(a='a.embedding', b='b.embedding')} DESC, b.vec_id) AS rn
          FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
        per_q AS (
          SELECT s.qid, s.qlab,
                 avg(CASE WHEN s.nlab = s.qlab THEN 1.0 ELSE 0.0 END) AS frac
          FROM scored s JOIN sizes z ON z.label = s.qlab
          WHERE s.rn <= z.n - 1 GROUP BY s.qid, s.qlab)
        SELECT qlab AS label, round(avg(frac), 6) AS r_precision
        FROM per_q GROUP BY qlab""",
)
def e2_rprecision(spark, sf_dir):
    """E2 — R-precision (fewnerd_single_vector_r_precision.py:26-51): per
    query, fraction of top (class_size - 1) neighbors sharing the label;
    macro-averaged per label.  The class sizes come from the labels the kNN
    relay brings to the driver, so no job of its own fetches them."""
    from collections import Counter

    from nerzo_spark.operators.topk import knn_self_join

    counts: Counter = Counter()

    def kmax(labels):
        counts.update(labels.tolist())
        return max(counts.values()) - 1

    knn = knn_self_join(T(spark, sf_dir, "embeddings"), k=kmax)
    # label -> class size as a map value, not a broadcast join: a broadcast
    # of a driver-built frame is a Spark job of its own.  A folded map
    # literal is a reference in the generated code, so other sizes compile
    # no new code.  A NULL label has no size, so its queries drop out, as
    # in the oracle's inner join on the sizes.
    sizes = F.create_map(*[F.lit(x) for kv in counts.items() if kv[0] is not None for x in kv])
    per_q = (
        knn.filter(F.col("rank") <= F.element_at(sizes, F.col("query_label")) - 1)
        .groupBy("query_id", "query_label")
        .agg(F.avg((F.col("neighbor_label") == F.col("query_label")).cast("double")).alias("frac"))
    )
    return per_q.groupBy(F.col("query_label").alias("label")).agg(
        F.round(F.avg("frac"), 6).alias("r_precision")
    )


@register(
    "e4_optimal_threshold",
    """WITH pts AS (
         SELECT value AS s,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS nn
         FROM events GROUP BY value),
       tot AS (SELECT sum(np) AS tp_all, sum(nn) AS tn_all FROM pts),
       cums AS (
         SELECT s,
                sum(np) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_p,
                sum(nn) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_n
         FROM pts)
       SELECT s AS best_threshold,
              round((cum_p + (tot.tn_all - cum_n)) * 1.0 / (tot.tp_all + tot.tn_all), 6) AS best_acc
       FROM cums, tot
       ORDER BY (cum_p + (tot.tn_all - cum_n)) * 1.0 / (tot.tp_all + tot.tn_all) DESC, s ASC
       LIMIT 1""",
)
def e4_optimal_threshold(spark, sf_dir):
    """E4/E5 — optimal-threshold search (contrastive/helper.py:2-37): scan
    sorted scores, accuracy-if-threshold-were-here via window cumsums; exact,
    O(n log n).  Pred positive iff score >= t; label = purchase."""
    ev = T(spark, sf_dir, "events")
    pts = ev.groupBy(F.col("value").alias("s")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("event_type") == "purchase", 0).otherwise(1)).alias("nn"),
    )
    w = Window.orderBy(F.desc("s")).rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cums = pts.select(
        "s",
        F.sum("np").over(w).alias("cum_p"),
        F.sum("nn").over(w).alias("cum_n"),
        F.sum("np").over(w_all).alias("tp_all"),
        F.sum("nn").over(w_all).alias("tn_all"),
    )
    acc = (F.col("cum_p") + (F.col("tn_all") - F.col("cum_n"))) * 1.0 / (
        F.col("tp_all") + F.col("tn_all")
    )
    return (
        cums.withColumn("acc", acc)
        .orderBy(F.desc("acc"), F.asc("s"))
        .limit(1)
        .select(F.col("s").alias("best_threshold"), F.round("acc", 6).alias("best_acc"))
    )


@register(
    "f11_f12_vector_reprs",
    f"""SELECT a.vec_id,
               round({_COS_DUCK.format(a='a.embedding', b='b.embedding')}, 6) AS cos_next,
               round(list_aggregate(list_transform(generate_series(1, len(a.embedding)),
                     i -> a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE), 'sum'), 6) AS diff_sum,
               len(a.embedding) + len(b.embedding) AS pair_dim
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""",
)
def f11_f12_vector_reprs(spark, sf_dir):
    """F11 cosine + F12 vector reprs (diff / start_end_pair,
    fewnerd_processor.py:108-117) as pure SQL array expressions."""
    e = T(spark, sf_dir, "embeddings")
    a = e.alias("a")
    b = e.select(
        (F.col("vec_id") - 1).alias("prev_id"), F.col("embedding").alias("b_emb")
    ).alias("b")
    j = a.join(b, F.col("a.vec_id") == F.col("prev_id"))
    diff_sum = F.expr(
        "aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>), CAST(b_emb AS ARRAY<DOUBLE>),"
        " (x, y) -> x - y), 0D, (s, x) -> s + x)"
    )
    return j.select(
        F.col("a.vec_id").alias("vec_id"),
        F.round(F.expr(_COS_SPARK.format(a="embedding", b="b_emb")), 6).alias("cos_next"),
        F.round(diff_sum, 6).alias("diff_sum"),
        (F.size("embedding") + F.size("b_emb")).alias("pair_dim"),
    )


# --- LSH-bucketed ANN (the scale path for similarity search) -----------------

def _plane_dot(engine: str, p: int, emb: str) -> str:
    """Deterministic md5-derived hyperplane p dotted with `emb` (DOUBLE)."""
    if engine == "spark":
        w = (
            f"((CAST(conv(substring(md5(concat('{p}_', CAST(i - 1 AS STRING))), 1, 15), 16, 10) AS BIGINT)"
            f" % 2001 - 1000) / 1000.0)"
        )
        return (
            f"aggregate(sequence(1, size({emb})), 0D,"
            f" (s, i) -> s + CAST(element_at({emb}, i) AS DOUBLE) * {w})"
        )
    w = (
        f"((CAST(('0x' || substr(md5('{p}_' || CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT)"
        f" % 2001 - 1000) / 1000.0)"
    )
    return (
        f"list_aggregate(list_transform(generate_series(1, len({emb})),"
        f" i -> {emb}[i]::DOUBLE * {w}), 'sum')"
    )


def _bucket_expr(engine: str, emb: str) -> str:
    terms = [
        f"(CASE WHEN {_plane_dot(engine, p, emb)} >= 0 THEN {1 << p} ELSE 0 END)"
        for p in range(4)
    ]
    return " + ".join(terms)


def _plane_weight_py(p: int, j: int) -> float:
    """Python twin of the md5-derived hyperplane weight in _plane_dot —
    identical integer arithmetic, so the double is bit-identical."""
    import hashlib

    h = int(hashlib.md5(f"{p}_{j}".encode()).hexdigest()[:15], 16)
    return (h % 2001 - 1000) / 1000.0


def _bucket_expr_spark_lit(dim: int, emb: str) -> str:
    """Spark bucket expression with the plane weights PRE-COMPUTED as array
    literals (guide §1.2 per-task work): the weight depends only on
    (plane, index), yet the _plane_dot form re-derived it with an md5 + conv
    per ELEMENT per ROW inside an interpreted fold (dim x 4 md5 calls per
    row).  The fold below adds the identical x_i * w_i terms in the identical
    order (zip_with -> sequential aggregate), so every dot — and therefore
    every bucket id — is bit-identical to _bucket_expr('spark', ...)."""
    terms = []
    for p in range(4):
        lits = ", ".join(repr(_plane_weight_py(p, j)) + "D" for j in range(dim))
        dot = (
            f"aggregate(zip_with(CAST({emb} AS ARRAY<DOUBLE>), array({lits}),"
            f" (x, w) -> x * w), 0D, (s, x) -> s + x)"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(terms)


@register(
    "ann_lsh_bucketed",
    f"""WITH bucketed AS (
          SELECT vec_id, label, embedding,
                 {_bucket_expr('duck', 'embedding')} AS bucket
          FROM embeddings),
        q AS (SELECT * FROM bucketed WHERE vec_id < 10),
        scored AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, q.bucket,
                 row_number() OVER (PARTITION BY q.vec_id ORDER BY
                     {_COS_DUCK.format(a='q.embedding', b='e.embedding')} DESC, e.vec_id) AS rank
          FROM q JOIN bucketed e ON e.bucket = q.bucket AND e.vec_id <> q.vec_id)
        SELECT query_id, neighbor_id, bucket, rank FROM scored WHERE rank <= 3""",
)
def ann_lsh_bucketed(spark, sf_dir):
    """Approximate NN, LSH-bucketed: 4 deterministic (md5-derived) random
    hyperplanes -> 16 sign buckets; candidates = same-bucket equi-join;
    exact cosine rank within bucket.

    Scale path vs brute force (j1): the candidate join shuffles on the
    bucket key instead of cross-joining the corpus; at 10^12 rows the bucket
    count grows (more planes) so each bucket stays executor-sized.

    r7: T_par (single-row-group scan skew), literal plane weights
    (_bucket_expr_spark_lit — drops dim x 4 md5/conv calls per row), and
    factored-norm scoring cosine; all three bit-identical by construction.
    The dim probe assumes a uniform embedding dim (the same contract
    u5_u6_mlp_heads already relies on).  An empty table, or a NULL first
    embedding (``size`` gives NULL or -1), falls back to the per-row md5
    expression, so the builder stays total and every non-NULL row still
    gets its exact bucket."""
    first = T(spark, sf_dir, "embeddings").select(
        F.size("embedding").alias("d")
    ).first()
    d = first["d"] if first is not None else None
    bucket_sql = (
        _bucket_expr_spark_lit(d, "embedding")
        if d is not None and d > 0
        else _bucket_expr("spark", "embedding")
    )
    e = T_par(spark, sf_dir, "embeddings").withColumn(
        "bucket", F.expr(bucket_sql)
    ).withColumn("n_e", F.expr(_NORM_SPARK.format(v="embedding")))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("bucket").alias("q_bucket"),
        F.col("n_e").alias("n_q"),
    )
    scored = (
        e.join(F.broadcast(q), (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("query_id")))
        .withColumn(
            "s",
            F.expr(_DOT_SPARK.format(a="q_emb", b="embedding"))
            / (F.col("n_q") * F.col("n_e")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("s"), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), F.col("q_bucket").alias("bucket"), "rank")
    )


@register(
    "f1_word_boundary_find",
    """SELECT doc_id,
              regexp_matches(text,
                '(^|[ (\\[{''"])spark($|[ .,!?:;)\\]}''"])') AS has_bounded
       FROM documents""",
)
def f1_word_boundary_find(spark, sf_dir):
    """F1 — word-boundary find with the reference's exact delimiter lists
    (llm_interface.py:13-39).  DuckDB twin uses alternation (RE2 has no
    lookbehind); boolean semantics identical."""
    from nerzo_spark.functions.text import word_boundary_regex

    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.col("text").rlike(word_boundary_regex("spark")).alias("has_bounded")
    )


# F5 prompt templating lives in catalog_text.py merged with F6
# (f5_f6_prompt_parse) — one driver slot under the 50-query cap.


def _proj_term_duck(o: int) -> str:
    return (
        f"round(list_aggregate(list_transform(generate_series(1, len(a.embedding)), "
        f"i -> ((({o}*31 + (i-1)*17) % 7) - 3) / 10.0 * a.embedding[i]::DOUBLE), 'sum') "
        f"+ (({o} % 5) - 2) / 10.0, 4) AS p{o}"
    )


_PAIR_PROB_DUCK = """round(1.0 / (1.0 + exp(-(
      list_aggregate(list_transform(generate_series(1, len(a.embedding)),
         i -> (((1000 + (i-1)*13) % 11) - 5) / 20.0 * a.embedding[i]::DOUBLE), 'sum')
    + list_aggregate(list_transform(generate_series(1, len(b.embedding)),
         i -> (((2000 + (i-1)*7) % 11) - 5) / 20.0 * b.embedding[i]::DOUBLE), 'sum')
    + 0.05))), 6) AS pair_prob"""


@register(
    "u5_u6_mlp_heads",
    f"""SELECT a.vec_id, {_proj_term_duck(0)}, {_proj_term_duck(1)},
               {_proj_term_duck(2)}, {_proj_term_duck(3)},
               {_PAIR_PROB_DUCK}
        FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""",
)
def u5_u6_mlp_heads(spark, sf_dir):
    """U5 MLP projection-head bulk apply (step_generate_ne_embedding.py:68-94,
    contrastive/mlp.py:6-57) + U6 Detector pair classifier (mlp.py:74-82) in
    one driver slot: deterministic integer-ratio weights so DuckDB re-derives
    them in SQL; Spark side is the production Arrow-batched GEMM
    (operators/projection.py) — broadcast weights, no shuffle."""
    from nerzo_spark.operators.projection import (
        det_pair_weights,
        det_weights,
        pair_detector_prob,
        project_head,
    )

    e = T(spark, sf_dir, "embeddings")
    d_in = e.select(F.size("embedding").alias("d")).first()["d"]
    w, bvec = det_weights(d_in, 4)
    wa, wb, bias = det_pair_weights(d_in)
    a = e.alias("a")
    b = e.alias("b")
    pairs = a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1).select(
        F.col("a.vec_id").alias("vec_id"),
        project_head(F.col("a.embedding"), w, bvec).alias("proj"),
        pair_detector_prob(F.col("a.embedding"), F.col("b.embedding"), wa, wb, bias).alias(
            "raw_prob"
        ),
    )
    return pairs.select(
        "vec_id",
        *[F.round(F.element_at("proj", o + 1), 4).alias(f"p{o}") for o in range(4)],
        F.round("raw_prob", 6).alias("pair_prob"),
    )
