"""Catalog batch 4: remaining operator families (SURVEY.md §2) —
E3 ROC-AUC (rank-sum form), E5 accuracy curve, P7 nested predicates,
S10 point lookup, W4 sorted-scan top-k, A3 composite agg, embedding
near-dup pairs, and the batch twin of the streaming windowed counts."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from nerzo_spark.plans.catalog import T, T_par, register
from nerzo_spark.plans.catalog_vec import _COS_DUCK, _DOT_SPARK, _NORM_SPARK


@register(
    "s10_point_lookup",
    "SELECT doc_id, lang, n_chars FROM documents WHERE doc_id = 42",
)
def s10_point_lookup(spark, sf_dir):
    """S10 — get-by-id (dataset_provider.py:175-177)."""
    return (
        T(spark, sf_dir, "documents")
        .where(F.col("doc_id") == F.lit(42))
        .select("doc_id", "lang", "n_chars")
    )


@register(
    "w4_sorted_scan_topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 50""",
)
def w4_sorted_scan_topk(spark, sf_dir):
    """W4 — search_after deep pagination (dataset_provider.py:92-110)
    becomes a plain sorted scan + limit: Spark's TakeOrderedAndProject does
    per-partition top-k then merges — no global sort materialized."""
    return (
        T(spark, sf_dir, "lineitem")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(50)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


@register(
    "a3_composite_agg",
    """SELECT event_type, user_id % 10 AS user_bucket, count(*) AS cnt,
              round(sum(value), 2) AS sum_value
       FROM events GROUP BY event_type, user_id % 10""",
)
def a3_composite_agg(spark, sf_dir):
    """A3 — composite agg with after_key paging (queries.py:165-177,
    dataset_provider.py:183-191): client-side pagination is moot — Spark's
    spillable hash aggregate streams all buckets in one shuffle."""
    e = T(spark, sf_dir, "events")
    return e.groupBy(
        "event_type", (F.col("user_id") % 10).alias("user_bucket")
    ).agg(F.count("*").alias("cnt"), F.round(F.sum("value"), 2).alias("sum_value"))


@register(
    "p7_nested_predicate",
    """SELECT user_id,
              len(list_filter(list(struct_pack(t := event_type, v := value)),
                              e -> e.t = 'error' AND e.v > 50)) > 0 AS has_big_error
       FROM events GROUP BY user_id""",
)
def p7_nested_predicate(spark, sf_dir):
    """P7 — predicate inside array-of-structs (nested query,
    evaluate_by_sentence.py:47-63): collect tagging-like nested records per
    parent, then `exists` over the struct array."""
    e = T(spark, sf_dir, "events")
    nested = e.groupBy("user_id").agg(
        F.collect_list(F.struct(F.col("event_type").alias("t"), F.col("value").alias("v"))).alias("tagging")
    )
    return nested.select(
        "user_id",
        F.exists("tagging", lambda x: (x.t == "error") & (x.v > 50)).alias("has_big_error"),
    )


@register(
    "e3_roc_auc_per_type",
    """WITH scored AS (
         SELECT CAST(user_id % 3 AS VARCHAR) AS grp, event_type, value FROM events
         UNION ALL
         SELECT '__all__' AS grp, event_type, value FROM events),
       ranked AS (
         SELECT grp, event_type = 'purchase' AS pos,
                avg(CAST(rn AS DOUBLE)) OVER (PARTITION BY grp, value) AS r
         FROM (SELECT grp, event_type, value,
                      row_number() OVER (PARTITION BY grp ORDER BY value) AS rn
               FROM scored)),
       agg AS (
         SELECT grp,
                sum(CASE WHEN pos THEN r ELSE 0 END) AS sum_rank_pos,
                sum(CASE WHEN pos THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nn
         FROM ranked GROUP BY grp)
       SELECT grp, round((sum_rank_pos - np * (np + 1) / 2.0) / (np * nn), 6) AS auc
       FROM agg""",
)
def e3_roc_auc_per_type(spark, sf_dir):
    """E3 — ROC-AUC (pocs/contrastive_ner.py:162-222) via the Mann-Whitney
    rank-sum identity: AUC = (R+ - n+(n+1)/2) / (n+ n-), with average ranks
    for tied scores — exact, no sklearn, one sort + one aggregate.  Per-type
    breakdown (the reference's main results table,
    contrastive_ner.py:173-182) as a grouped rank-sum, plus the '__all__'
    global row — one window shuffle per group key."""
    e = T(spark, sf_dir, "events").select("user_id", "event_type", "value")
    per = e.select((F.col("user_id") % 3).cast("string").alias("grp"), "event_type", "value")
    glob = e.select(F.lit("__all__").alias("grp"), "event_type", "value")
    scored = per.unionByName(glob)
    rn = F.row_number().over(Window.partitionBy("grp").orderBy("value"))
    ranked = scored.select(
        "grp", (F.col("event_type") == "purchase").alias("pos"), "value", rn.alias("rn")
    ).withColumn(
        "r", F.avg(F.col("rn").cast("double")).over(Window.partitionBy("grp", "value"))
    )
    agg = ranked.groupBy("grp").agg(
        F.sum(F.when(F.col("pos"), F.col("r")).otherwise(0.0)).alias("sum_rank_pos"),
        F.sum(F.col("pos").cast("int")).alias("np"),
        F.sum((~F.col("pos")).cast("int")).alias("nn"),
    )
    return agg.select(
        "grp",
        F.round(
            (F.col("sum_rank_pos") - F.col("np") * (F.col("np") + 1) / 2.0)
            / (F.col("np") * F.col("nn")),
            6,
        ).alias("auc"),
    )


@register(
    "e5_accuracy_curve",
    """WITH pts AS (
         SELECT value AS s,
                sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
                sum(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS nn
         FROM events GROUP BY value),
       cums AS (
         SELECT s,
                sum(np) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_p,
                sum(nn) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_n,
                sum(np) OVER () AS tp_all, sum(nn) OVER () AS tn_all
         FROM pts)
       SELECT s AS threshold,
              round((cum_p + tn_all - cum_n) * 1.0 / (tp_all + tn_all), 6) AS acc
       FROM cums
       ORDER BY acc DESC, s ASC LIMIT 5""",
)
def e5_accuracy_curve(spark, sf_dir):
    """E5 — accuracy-if-threshold-were-each-score, top-5 thresholds
    (fewnerd_processor.py:145-152)."""
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
    acc = (F.col("cum_p") + F.col("tn_all") - F.col("cum_n")) * 1.0 / (
        F.col("tp_all") + F.col("tn_all")
    )
    return (
        cums.withColumn("acc", F.round(acc, 6))
        .orderBy(F.desc("acc"), F.asc("s"))
        .limit(5)
        .select(F.col("s").alias("threshold"), "acc")
    )


NEARDUP_LABEL_CAP = 50_000


@register(
    "dedup_embedding_neardup",
    f"""SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE {_COS_DUCK.format(a='a.embedding', b='b.embedding')} >= 0.4""",
)
def dedup_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs within a label partition (the
    embedding face of the dedup family).  Candidate pairs are bounded by
    the label partition (equi-join key), never a global cross join — but
    the join is still QUADRATIC in the partition, so this is the
    labeled-eval-table form only.  Guard: the largest label partition is
    checked against NEARDUP_LABEL_CAP and the query fails loudly past it
    (pointing to ann_lsh_bucketed, the corpus-scale candidate generator)
    instead of quietly going quadratic at 100 TB."""
    return embedding_neardup_pairs(T_par(spark, sf_dir, "embeddings"))


def embedding_neardup_pairs(e, threshold: float = 0.4, label_cap: int = NEARDUP_LABEL_CAP):
    """All-pairs cosine >= threshold within label partitions, guarded by
    label_cap on the largest partition (see dedup_embedding_neardup).

    NOTE (ADVICE r3): the cap check is an EAGER action at plan-construction
    time — this builder is deliberately non-lazy and scans the input once
    before the pair join even below the cap.  That is the intended contract
    for an eval-table guard: failing at construction (with the
    ann_lsh_bucketed pointer) beats launching a quadratic job; callers
    needing a lazy plan at corpus scale should use ann_lsh_bucketed."""
    biggest = (
        e.groupBy("label").agg(F.count("*").alias("n")).agg(F.max("n")).first()[0]
    )
    if biggest is not None and biggest > label_cap:
        raise ValueError(
            f"dedup_embedding_neardup: largest label partition has {biggest} "
            f"rows (> cap {label_cap}); the all-pairs join would emit "
            f"~{biggest}^2/2 rows for it. Use ann_lsh_bucketed "
            f"(plans/catalog_vec.py) for corpus-scale near-dup instead."
        )
    # Factored-norm cosine (r7, guide §1.2): the cosine filter gets pushed
    # into the hash-join condition and evaluated INTERPRETED for every
    # candidate pair (measured: ~585 s single-thread at 20k vectors —
    # ~100M pair evals, 3 array folds each).  Precomputing each side's norm
    # once per ROW cuts the per-pair work to one dot fold; the scalar op
    # sequence (dot fold, sqrt(sum-sq fold) per side, multiply, divide) is
    # identical, so the filter decision — and the output — is bit-identical.
    en = e.withColumn("n_v", F.expr(_NORM_SPARK.format(v="embedding")))
    a, b = en.alias("a"), en.alias("b")
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn(
            "cos",
            F.expr(_DOT_SPARK.format(a="a.embedding", b="b.embedding"))
            / (F.col("a.n_v") * F.col("b.n_v")),
        )
        .filter(F.col("cos") >= threshold)
        .select(F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b"))
    )


@register(
    "stream_windowed_counts_batch",
    """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start_epoch,
              event_type, count(*) AS cnt
       FROM events GROUP BY 1, 2""",
)
def stream_windowed_counts_batch(spark, sf_dir):
    """Event counts per tumbling 1h window and event type, as a batch
    query over the events table (windows epoch-aligned like date_trunc)."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "cnt",
        )
    )
