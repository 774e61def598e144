"""Training-surface catalog: the two SURVEY.md §2 rows previously declared
out of scope as *gradient* training — re-expressed as their distributed
forward/eval computations, which ARE Spark-shaped:

- U8 ``u8_contrastive_losses`` — the reference's four contrastive loss
  functions (`contrastive/loss.py:33-70`: triplet / DPR / contrastive /
  combined) computed FORWARD over a deterministic triplet batch, as one
  global aggregate.  No gradients (torch stays out of scope); the loss
  *values* are the scoring-parity surface SURVEY §2.8 asked for — they are
  what the reference's eval loop logs per epoch.
- O4 ``o4_hpo_sweep`` — the reference's random-search HPO
  (`contrastive/contrastive_optimization_task.py:68-151`: sample configs,
  evaluate each trial's objective, keep the top-k — `get_top_experiments
  (top_k=5)`).  Here the trial grid is sampled with the portable md5
  generator, every trial is evaluated IN ONE PLAN against a shared scored
  table (score once, crossJoin the tiny trial table, aggregate per trial),
  and the top-5 by objective are returned — the 8-concurrent-worker /
  40-job ClearML fan-out becomes a single shuffle-free-until-the-vote
  Spark job.  Round 6 (VERDICT r5 task 3): the sweep is MULTI-dimensional
  like the reference's 11-dim grid — it varies the THREE hyperparameters
  the engine actually exposes: the kNN vote size k
  (`number_of_classification_neighbors` analog), the input_tokens vector
  repr end vs start_end_pair (`fewnerd_processor.py:108-117`, F12), and
  the link-acceptance threshold (the margin analog of
  `contrastive_optimization_task.py:91`).  Both reprs' scores and ranks
  are computed in the SAME pair pass, so adding dimensions — like adding
  trials — never re-scans the corpus (plan-asserted in
  tests/test_train_parity.py).
- U8 over J3 ``u8_losses_over_j3`` (round 6, VERDICT r5 task 4) — the same
  four loss forwards fed by the J3 contrastive batch builder
  (`operators/negatives.py`), the way the reference computes them over
  `yield_dataset`'s anchor/pos/neg batches (`fewnerd_processor.py:10-72`):
  batches -> document texts -> the Arrow-batched hashing embedder ->
  rank-aligned (anchor, positive, negative) triplets -> the shared loss
  aggregate.  The embedder makes it non-SQL-expressible, so it registers
  without an oracle (rows-only class); determinism + loss-identity checks
  live in tests/test_train_parity.py.

These live in their OWN registry, not `catalog._REGISTRY`: the driver's
correctness gate caps at 50 queries and all 50 slots are taken by greener
claims; parity for this pair is enforced by `tests/test_train_parity.py`
through the same compare harness the driver uses (row count + schema +
order-insensitive value multiset vs DuckDB at sf0.001).

Scale notes (100 TB posture):
- triplet construction is a dense-id self-join (no global window: the
  batch size comes from a broadcast 1-row count, negatives from modular
  arithmetic on the dense vec_id) — shuffle-free except the equi-join;
- every loss is a sum/avg/max composition → map-side partial aggregation;
  the DPR log-sum-exp terms are bounded (cos ∈ [-1, 1] ⇒ exp ≤ e) so no
  max-shift is needed;
- the HPO sweep scores the corpus ONCE (one pair pass carrying BOTH reprs'
  scores and ranks) and fans out only the trial dimension (8 rows,
  broadcast) — adding trials or swept dimensions costs tiny dimension rows,
  not another corpus scan; the per-trial vote is a groupBy with partial
  combine.  ``o4_hpo_sweep`` scores with the exact eval-tier broadcast
  pair rank; ``o4_hpo_sweep_lsh`` (round 6) is the 100 TB tier — the SAME
  sweep over an LSH-bucketed candidate equi-join (catalog_vec's
  deterministic hyperplanes), with its own exact DuckDB twin.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nerzo_spark.functions.hashing import md5_i64_duckdb, md5_i64_sql
from nerzo_spark.plans.catalog import T, QueryFn
from nerzo_spark.plans.catalog_vec import _COS_DUCK, _DOT_SPARK, _NORM_SPARK, _bucket_expr

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def _register(name: str, oracle: str | None):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


def _cos(a: str, b: str, norm_a: str, norm_b: str) -> Column:
    """Per-pair cosine over norms computed once per row (``_NORM_SPARK``):
    the same scalar op sequence as ``_COS_SPARK``, so bit-identical, with
    one array fold per pair instead of three (see catalog_vec)."""
    return F.expr(_DOT_SPARK.format(a=a, b=b)) / (F.col(norm_a) * F.col(norm_b))


# =========================================================================
# U8 — contrastive loss forward (loss.py:33-70), batch-level scoring parity
# =========================================================================

_U8_ORACLE = f"""
WITH tot AS (SELECT count(*) AS n FROM embeddings),
base AS (
  SELECT e.vec_id, e.label, e.embedding,
         lead(e.embedding) OVER (PARTITION BY e.label ORDER BY e.vec_id) AS pos_emb,
         (e.vec_id * 17 + 3) % tot.n AS neg_id
  FROM embeddings e CROSS JOIN tot),
trip AS (
  SELECT {_COS_DUCK.format(a='b.embedding', b='b.pos_emb')} AS cp,
         {_COS_DUCK.format(a='b.embedding', b='g.embedding')} AS cn
  FROM base b JOIN embeddings g ON g.vec_id = b.neg_id AND g.label <> b.label
  WHERE b.pos_emb IS NOT NULL)
SELECT count(*) AS n_triplets,
       round(avg(greatest(0.0, cn - cp + 0.5)), 6) AS triplet_loss,
       round(-ln(sum(exp(cp)) / (sum(exp(cp)) + sum(exp(cn)))), 6) AS dpr_loss,
       round(avg(pow(greatest(1.0 - cp, 0.0), 2)) + avg(pow(cn, 2)), 6) AS contrastive_loss,
       round(avg(greatest(0.0, cn - cp + 0.5))
             + avg(pow(greatest(1.0 - cp, 0.0), 2)) + avg(pow(cn, 2)), 6) AS combined_loss
FROM trip
"""


@_register("u8_contrastive_losses", _U8_ORACLE)
def u8_contrastive_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 — the reference's four loss forwards (`contrastive/loss.py:33-70`)
    over a deterministic (anchor, positive, negative) batch:

    - anchor = every embedding; positive = next same-label row (lead over
      the label partition, the in-class pairing of `fewnerd_processor`);
      negative = the dense-id row at ``(vec_id*17+3) mod n`` when its label
      differs (a fixed pseudo-shuffle, mirroring the random negative draw
      deterministically on both engines).
    - triplet (margin 0.5, distance 1-cos, mean reduction ≡
      ``triplet_margin_with_distance_loss``): mean(max(0, cn - cp + 0.5)).
    - DPR (`loss.py:40-44`, batch-level sums):
      -log(Σexp(cp) / (Σexp(cp) + Σexp(cn))).
    - contrastive (`loss.py:48-65`; the inner fn's margin stays its 1.0
      default): mean(clamp(1-cp, 0)²) + mean(cn²).
    - combined = triplet + contrastive (`loss.py:67-70`).

    One row out; every term a partially-aggregable sum — the whole loss
    evaluation is a map-side-combined global agg over the triplet join.
    """
    e = T(spark, sf_dir, "embeddings")
    tot = e.agg(F.count("*").alias("n"))
    e = e.withColumn("n_e", F.expr(_NORM_SPARK.format(v="embedding")))
    w_lbl = Window.partitionBy("label").orderBy("vec_id")
    base = (
        e.withColumn("pos_emb", F.lead("embedding").over(w_lbl))
        .withColumn("n_pos", F.lead("n_e").over(w_lbl))
        .crossJoin(F.broadcast(tot))
        .withColumn("neg_id", (F.col("vec_id") * 17 + 3) % F.col("n"))
        .filter(F.col("pos_emb").isNotNull())
    )
    neg = e.select(
        F.col("vec_id").alias("g_id"),
        F.col("label").alias("g_label"),
        F.col("embedding").alias("neg_emb"),
        F.col("n_e").alias("n_neg"),
    )
    trip = base.join(
        neg, (F.col("g_id") == F.col("neg_id")) & (F.col("g_label") != F.col("label"))
    ).select(
        _cos("embedding", "pos_emb", "n_e", "n_pos").alias("cp"),
        _cos("embedding", "neg_emb", "n_e", "n_neg").alias("cn"),
    )
    return _loss_agg(trip)


def _loss_agg(trip: DataFrame) -> DataFrame:
    """The four loss forwards of `contrastive/loss.py:33-70` as ONE global
    aggregate over a (cp, cn) triplet table — every term a sum/avg, so the
    whole evaluation map-side-combines.  Shared by the oracle-parity U8
    (synthetic deterministic triplets) and the J3-fed U8 (real batches)."""
    hinge = F.greatest(F.lit(0.0), F.col("cn") - F.col("cp") + F.lit(0.5))
    pos_term = F.pow(F.greatest(F.lit(1.0) - F.col("cp"), F.lit(0.0)), 2)
    return trip.agg(
        F.count("*").alias("n_triplets"),
        F.round(F.avg(hinge), 6).alias("triplet_loss"),
        F.round(
            -F.log(F.sum(F.exp("cp")) / (F.sum(F.exp("cp")) + F.sum(F.exp("cn")))), 6
        ).alias("dpr_loss"),
        F.round(F.avg(pos_term) + F.avg(F.pow("cn", 2)), 6).alias("contrastive_loss"),
        F.round(
            F.avg(hinge) + F.avg(pos_term) + F.avg(F.pow("cn", 2)), 6
        ).alias("combined_loss"),
    )


@_register("u8_losses_over_j3", None)
def u8_losses_over_j3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 fed by the J3 batch builder (VERDICT r5 task 4): the reference
    computes its losses over `yield_dataset`'s anchor/pos/neg batches
    (`contrastive/fewnerd_processor.py:10-72`), so the loss surface here is
    wired end-to-end — J3 seeded batches over `documents` (anchor +
    positives + hard/easy negatives, `operators/negatives.py`), document
    texts embedded ONCE per distinct doc by the Arrow-batched hashing
    embedder, positives rank-aligned with negatives (hard negatives first,
    exactly the reference's hard_negative_ratio packing), then the shared
    `_loss_agg`.  Non-SQL-expressible (the embedder is Python), hence no
    oracle entry; tests assert finiteness, run-to-run determinism, and the
    combined = triplet + contrastive identity.
    """
    from nerzo_spark.embed.embedder import embed_mentions
    from nerzo_spark.operators.negatives import training_batches

    import math

    n_batches, batch_size, hard_ratio = 4, 5, 0.4
    n_hard = math.ceil(hard_ratio * batch_size)  # = 2, same rule as J3
    d = T(spark, sf_dir, "documents")
    b = training_batches(
        d, anchor_type="src0", n_batches=n_batches, batch_size=batch_size,
        hard_negative_ratio=hard_ratio,
    )
    # embed each distinct doc once; the batch table is dimension-sized
    # (<= n_batches * (1 + 2*batch_size) rows: anchor + batch_size positives
    # + batch_size total negatives, ADVICE r6) so every join below broadcasts
    docs = (
        b.select("doc_id").distinct()
        .join(d.select("doc_id", "text"), "doc_id")
        .withColumn("_l", F.lit("")).withColumn("_r", F.lit(""))
    )
    embs = embed_mentions(
        docs, surface_col="text", left_col="_l", right_col="_r"
    ).select("doc_id", "emb", F.expr(_NORM_SPARK.format(v="emb")).alias("n"))
    be = b.join(embs, "doc_id")
    anchors = be.filter(F.col("role") == "anchor").select(
        "batch_id", F.col("emb").alias("a_emb"), F.col("n").alias("n_a")
    )
    pos = be.filter(F.col("role") == "positive").select(
        "batch_id", "rnk", F.col("emb").alias("p_emb"), F.col("n").alias("n_p")
    )
    # negatives: hard first (rnk 1..n_hard), then easy (n_hard+1..batch_size)
    # — the reference packs hard negatives at the front of the negative list
    negs = be.filter(
        F.col("role").isin("hard_negative", "easy_negative")
    ).select(
        "batch_id",
        F.when(F.col("role") == "hard_negative", F.col("rnk"))
        .otherwise(F.col("rnk") + n_hard)
        .alias("rnk"),
        F.col("emb").alias("n_emb"),
        F.col("n").alias("n_n"),
    )
    trip = (
        pos.join(negs, ["batch_id", "rnk"])
        .join(F.broadcast(anchors), "batch_id")
        .select(
            _cos("a_emb", "p_emb", "n_a", "n_p").alias("cp"),
            _cos("a_emb", "n_emb", "n_a", "n_n").alias("cn"),
        )
    )
    return _loss_agg(trip)


# =========================================================================
# O4 — HPO random search (contrastive_optimization_task.py:68-151)
# =========================================================================

_N_TRIALS = 8  # the reference's max_number_of_concurrent_tasks (:102)
_K_MAX = 15

def _o4_oracle(candidate_tier: str) -> str:
    """The O4 DuckDB twin, parameterized by the candidate tier:

    - ``"exact"`` — all-pairs (``a.vec_id <> b.vec_id``), the eval-tier twin;
    - ``"lsh"``   — same-hyperplane-bucket pairs only, the scale-tier twin
      (the 4 md5-derived planes of catalog_vec are deterministic, so the
      approximate tier has an EXACT oracle too).
    """
    if candidate_tier == "lsh":
        bucket_col = f", {_bucket_expr('duck', 'embedding')} AS bucket"
        join_on = "a.vec_id <> b.vec_id AND a.bucket = b.bucket"
    else:
        bucket_col = ""
        join_on = "a.vec_id <> b.vec_id"
    return f"""
WITH tot AS (SELECT count(*) AS n FROM embeddings),
trials AS (
  SELECT CAST(i AS BIGINT) AS trial,
         CAST(1 + ({md5_i64_duckdb("'hpo_' || CAST(i AS VARCHAR)")} % {_K_MAX}) AS INT) AS k,
         CASE WHEN {md5_i64_duckdb("'hpor_' || CAST(i AS VARCHAR)")} % 2 = 0
              THEN 'end' ELSE 'pair' END AS repr,
         CAST({md5_i64_duckdb("'hpot_' || CAST(i AS VARCHAR)")} % 9 - 4 AS DOUBLE) / 20.0 AS thr
  FROM generate_series(0, {_N_TRIALS - 1}) AS t(i)),
v AS (
  SELECT vec_id, label, embedding,
         list_concat(embedding,
             coalesce(lead(embedding) OVER (PARTITION BY label ORDER BY vec_id),
                      embedding)) AS pair_emb{bucket_col}
  FROM embeddings),
scored0 AS (
  SELECT a.vec_id AS qid, a.label AS qlab, b.vec_id AS nid, b.label AS nlab,
         {_COS_DUCK.format(a='a.embedding', b='b.embedding')} AS cos_end,
         {_COS_DUCK.format(a='a.pair_emb', b='b.pair_emb')} AS cos_pair
  FROM v a JOIN v b ON {join_on}),
scored AS (
  SELECT *,
         row_number() OVER (PARTITION BY qid ORDER BY cos_end DESC, nid) AS rn_end,
         row_number() OVER (PARTITION BY qid ORDER BY cos_pair DESC, nid) AS rn_pair
  FROM scored0),
cand AS (SELECT * FROM scored WHERE rn_end <= {_K_MAX} OR rn_pair <= {_K_MAX}),
votes AS (
  SELECT t.trial, t.k, t.repr, t.thr, c.qid, c.qlab, c.nlab, count(*) AS c
  FROM trials t JOIN cand c
    ON (CASE WHEN t.repr = 'end' THEN c.rn_end ELSE c.rn_pair END) <= t.k
   AND round(CASE WHEN t.repr = 'end' THEN c.cos_end ELSE c.cos_pair END, 4) >= t.thr
  GROUP BY t.trial, t.k, t.repr, t.thr, c.qid, c.qlab, c.nlab),
pred AS (
  SELECT trial, k, repr, thr, qlab, nlab,
         row_number() OVER (PARTITION BY trial, qid ORDER BY c DESC, nlab ASC) AS vr
  FROM votes),
acc AS (
  SELECT trial, k, repr, thr,
         round(CAST(sum(CASE WHEN nlab = qlab THEN 1 ELSE 0 END) AS DOUBLE)
               / tot.n, 6) AS accuracy
  FROM pred CROSS JOIN tot WHERE vr = 1 GROUP BY trial, k, repr, thr, tot.n)
SELECT CAST(row_number() OVER (ORDER BY accuracy DESC, trial ASC) AS INT) AS hpo_rank,
       trial, k, repr, thr, accuracy
FROM acc ORDER BY accuracy DESC, trial ASC LIMIT 5
"""


_O4_ORACLE = _o4_oracle("exact")


def _o4_trials(spark: SparkSession, n_trials: int) -> DataFrame:
    """The md5-sampled trial grid: (trial, k, repr, thr) — the RandomSearch
    draw over the three engine-exposed dimensions."""
    return spark.range(n_trials).select(
        F.col("id").alias("trial"),
        (1 + F.expr(md5_i64_sql("concat('hpo_', CAST(id AS STRING))")) % _K_MAX)
        .cast("int")
        .alias("k"),
        F.when(
            F.expr(md5_i64_sql("concat('hpor_', CAST(id AS STRING))")) % 2 == 0,
            F.lit("end"),
        ).otherwise(F.lit("pair")).alias("repr"),
        (
            (F.expr(md5_i64_sql("concat('hpot_', CAST(id AS STRING))")) % 9 - 4)
            .cast("double") / 20.0
        ).alias("thr"),
    )


def _o4_plan(
    spark: SparkSession,
    sf_dir: str,
    n_trials: int,
    candidate_tier: str = "exact",
) -> DataFrame:
    """The O4 sweep plan with an injectable trial count — the parity entry
    uses `_N_TRIALS`; tests build it at two trial counts to assert the
    corpus-scan count is trial-invariant (score once, fan out dimensions).

    ``candidate_tier``:

    - ``"exact"`` — all-pairs broadcast rank (eval tier; the corpus side of
      the pair pass is broadcast, right for eval-sized query sets);
    - ``"lsh"``   — candidates restricted to the same md5-hyperplane sign
      bucket (catalog_vec's 4 planes) and joined by a bucket EQUI-join with
      no broadcast hint: the 100 TB tier, where neither pair side fits an
      executor and candidate generation must shuffle on a key, never
      cross-join.  More planes at larger corpora keep buckets
      executor-sized (same posture as ``ann_lsh_bucketed``).
    """
    e = T(spark, sf_dir, "embeddings")
    tot = e.agg(F.count("*").alias("n"))
    trials = _o4_trials(spark, n_trials)
    # both reprs ride ONE pair pass: pair_emb = start_end_pair analog (F12,
    # fewnerd_processor.py:108-117) — concat with the next same-label row's
    # embedding (in-class pairing; last-in-label self-pairs), so the window
    # is label-partitioned, never a single-partition global sort
    w_lbl = Window.partitionBy("label").orderBy("vec_id")
    v = e.select("vec_id", "label", "embedding").withColumn(
        "pair_emb",
        F.concat(
            F.col("embedding"),
            F.coalesce(F.lead("embedding").over(w_lbl), F.col("embedding")),
        ),
    ).withColumn(
        "n_e", F.expr(_NORM_SPARK.format(v="embedding"))
    ).withColumn("n_pair", F.expr(_NORM_SPARK.format(v="pair_emb")))
    if candidate_tier == "lsh":
        v = v.withColumn("bucket", F.expr(_bucket_expr("spark", "embedding")))
    q = v.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("q_emb"),
        F.col("pair_emb").alias("q_pair"),
        F.col("n_e").alias("n_q"),
        F.col("n_pair").alias("n_qpair"),
        *([F.col("bucket").alias("q_bucket")] if candidate_tier == "lsh" else []),
    )
    if candidate_tier == "lsh":
        pairs = v.join(
            q,
            (F.col("bucket") == F.col("q_bucket"))
            & (F.col("vec_id") != F.col("qid")),
        )
    else:
        pairs = v.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("qid"))
    scored = pairs.select(
        "qid", "qlab",
        F.col("vec_id").alias("nid"), F.col("label").alias("nlab"),
        _cos("q_emb", "embedding", "n_q", "n_e").alias("cos_end"),
        _cos("q_pair", "pair_emb", "n_qpair", "n_pair").alias("cos_pair"),
    )
    w_end = Window.partitionBy("qid").orderBy(F.desc("cos_end"), F.asc("nid"))
    w_pair = Window.partitionBy("qid").orderBy(F.desc("cos_pair"), F.asc("nid"))
    cand = (
        scored.withColumn("rn_end", F.row_number().over(w_end))
        .withColumn("rn_pair", F.row_number().over(w_pair))
        .filter((F.col("rn_end") <= _K_MAX) | (F.col("rn_pair") <= _K_MAX))
    )
    is_end = F.col("repr") == "end"
    votes = (
        cand.crossJoin(F.broadcast(trials))
        .withColumn("rn", F.when(is_end, F.col("rn_end")).otherwise(F.col("rn_pair")))
        .withColumn("s", F.when(is_end, F.col("cos_end")).otherwise(F.col("cos_pair")))
        .filter((F.col("rn") <= F.col("k")) & (F.round("s", 4) >= F.col("thr")))
        .groupBy("trial", "k", "repr", "thr", "qid", "qlab", "nlab")
        .agg(F.count("*").alias("c"))
    )
    w_vote = Window.partitionBy("trial", "qid").orderBy(F.desc("c"), F.asc("nlab"))
    pred = votes.withColumn("vr", F.row_number().over(w_vote)).filter(F.col("vr") == 1)
    # accuracy over ALL queries (a query none of whose neighbors clear the
    # acceptance threshold abstains and counts as wrong — coverage is part
    # of the objective, like the reference's global metric)
    acc = (
        pred.crossJoin(F.broadcast(tot))
        .groupBy("trial", "k", "repr", "thr", "n")
        .agg(
            F.round(
                F.sum((F.col("nlab") == F.col("qlab")).cast("int")).cast("double")
                / F.col("n").cast("double"),
                6,
            ).alias("accuracy")
        )
    )
    w_rank = Window.orderBy(F.desc("accuracy"), F.asc("trial"))
    return (
        acc.withColumn("hpo_rank", F.row_number().over(w_rank).cast("int"))
        .filter(F.col("hpo_rank") <= 5)
        .select("hpo_rank", "trial", "k", "repr", "thr", "accuracy")
    )


@_register("o4_hpo_sweep", _O4_ORACLE)
def o4_hpo_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — random-search HPO (`contrastive_optimization_task.py:68-151`):
    sample hyperparameter configs, evaluate each trial's objective, return
    the top-5 (`get_top_experiments(top_k=5)`, `:151`).

    Three swept dimensions per trial, drawn from the portable md5 generator
    (≡ the reference's RandomSearch over its grid, which spans
    `number_of_classification_neighbors`, `input_tokens`, margins and more,
    `:78-92`):

    - k ∈ [1, 15] — vote size (`number_of_classification_neighbors`);
    - repr ∈ {end, start_end_pair} — the F12 input_tokens vector repr
      (`fewnerd_processor.py:108-117`);
    - thr ∈ [-0.2, 0.2] step 0.05 — link-acceptance cosine threshold (the
      margin analog of `contrastive_optimization_task.py:91`); neighbors
      below it abstain, and abstentions count against accuracy.

    Objective = leave-one-out k-majority-vote label accuracy over all
    queries, maximized like `objective_metric_sign='max_global'`.

    Plan shape: the corpus is SCORED ONCE — a single pair pass computes both
    reprs' cosines and both rank columns; trials are a broadcast 8-row
    dimension crossed against it, and every per-trial quantity is a groupBy
    partial aggregate.  Adding trials or dimensions never re-scans the
    corpus (tests assert the scan count is identical at 2 and 16 trials) —
    the ClearML 8-worker fan-out becomes one shared-scan plan.
    """
    return _o4_plan(spark, sf_dir, _N_TRIALS)


@_register("o4_hpo_sweep_lsh", _o4_oracle("lsh"))
def o4_hpo_sweep_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 at the SCALE tier (round 6, VERDICT r5 watch item): the same
    three-dimensional HPO sweep, but the shared scored table comes from the
    LSH candidate tier — pairs restricted to the same md5-hyperplane sign
    bucket and generated by a bucket equi-join (shuffle on the bucket key),
    not an all-pairs broadcast.  This is the plan shape O4 needs at 100 TB:
    candidate generation cost is sum-of-bucket-squares, each bucket stays
    executor-sized (grow the plane count with the corpus), and the trial
    fan-out is unchanged — score once, cross a broadcast 8-row grid.

    The 4 hyperplanes are deterministic (md5-derived, catalog_vec), so this
    approximate tier still has an EXACT DuckDB twin: the oracle applies the
    identical bucket restriction.  Accuracy values differ from
    ``o4_hpo_sweep`` by construction (fewer candidates ⇒ more abstentions);
    the parity test pins OUR semantics, and a plan test pins the no-cross-
    join shape (`tests/test_train_parity.py`).
    """
    return _o4_plan(spark, sf_dir, _N_TRIALS, candidate_tier="lsh")
