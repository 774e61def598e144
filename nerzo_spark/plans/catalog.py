"""Operator catalog: every SURVEY.md §2 operator as a (spark_fn, oracle_sql)
pair over the driver-provided tables (region nation customer supplier part
orders lineitem events documents embeddings).

Contract (driver): spark_fn(spark, sf_dir) -> DataFrame; oracle_sql is ANSI-ish
SQL DuckDB runs on the same parquet views; results compared by row count +
schema + order-insensitive value hash.  Rules used throughout:

- every computed column aliased identically on both sides;
- NO raw float aggregates: sums rounded to 2dp, ratios/avgs to 4-6dp
  (different accumulation orders otherwise differ in ulps);
- all randomness/hashing via md5 (identical hex in Spark and DuckDB —
  see functions/hashing.py); never rand()/hash();
- deterministic tie-breaks on every top-k (reference does the same:
  sort ["_score","fine_type"], fewnerd_retrieve_eval.py:74-76);
- timestamps exported as epoch seconds (bigint), never raw timestamps.

Each entry cites the reference operator it mirrors (SURVEY.md §2 ids).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nerzo_spark.functions.hashing import md5_i64, md5_i64_sql, md5_i64_duckdb

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn):
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# The driver tables' schemas, as their parquet footers give them (names,
# types and order; tests/test_table_schemas.py holds every footer to them).
# A read that declares its schema skips Spark's schema inference, a job of
# its own on every read (ARCHITECTURE.md, "JVM-side fixed costs").
SCHEMAS: dict[str, str] = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey bigint, c_name string, c_nationkey int, c_acctbal double,"
        " c_mktsegment string"
    ),
    "supplier": "s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey bigint, p_name string, p_brand string, p_type string, p_size int,"
        " p_retailprice double"
    ),
    "orders": (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double,"
        " o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint, l_linenumber int,"
        " l_quantity double, l_extendedprice double, l_discount double, l_tax double,"
        " l_returnflag string, l_linestatus string, l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string,"
        " value double, props string"
    ),
    "documents": "doc_id bigint, text string, lang string, source string, n_chars bigint",
    "embeddings": "vec_id bigint, embedding array<float>, label int",
}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def T_par(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like :func:`T` but with scan parallelism repaired (guide §2.5 input
    skew): the sf parquet tables ship as ONE row group, so every split but
    one is empty and any compute-heavy map side (explode + md5 per shingle,
    per-pair cosine, posexplode folds) runs in a single task regardless of
    maxPartitionBytes.  A table smaller than one full split per target
    slot is round-robin repartitioned — the narrow exchange is tiny next to
    the per-row compute it parallelizes.  Scale-adaptive at both ends:

    - a properly laid-out corpus at least that large is left untouched;
    - so is a table smaller than ``spark.sql.files.openCostInBytes``, the
      least input Spark gives a task of its own: spreading it costs an
      exchange (a Spark job) and a task per slot for less work than one
      task's fixed cost (a catalog pass at sf0.01 ran 1.0-2.0 s less CPU
      on a 4-core host).

    Use :func:`T` for scan-dominated queries where an extra exchange would
    only add cost.  The size comes from the file system, not from the
    scan's partition count: that count needs a physical plan (about 30-70
    ms of driver CPU per call), the size one file-status call."""
    d = T(spark, sf_dir, name)
    sc = spark.sparkContext
    jpath = sc._jvm.org.apache.hadoop.fs.Path(f"{sf_dir}/{name}.parquet")
    size = jpath.getFileSystem(sc._jsc.hadoopConfiguration()).getContentSummary(jpath).getLength()
    conf = spark._jsparkSession.sessionState().conf()
    target = max(sc.defaultParallelism, 8)
    if conf.filesOpenCostInBytes() <= size < target * conf.filesMaxPartitionBytes():
        d = d.repartition(target)
    return d


# =========================================================================
# §2.2 Projections / filters / predicates
# =========================================================================

@register(
    "p2_term_filter",
    """SELECT event_id, user_id, value
       FROM events WHERE event_type = 'purchase'""",
)
def p2_term_filter(spark, sf_dir):
    """P2 — `term` equality filter (queries.py:3-12). Catalyst pushes the
    predicate into the parquet scan (PushedFilters)."""
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )


@register(
    "p3_in_list_filter",
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
       WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""",
)
def p3_in_list_filter(spark, sf_dir):
    """P3 — `terms` IN-list membership (queries.py:120-127)."""
    return (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select("c_custkey", "c_name", "c_mktsegment")
    )


@register(
    "p4_bool_conjunction",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount,
              nullif(l_tax, 0.0) IS NOT NULL AS has_tax
       FROM lineitem
       WHERE l_quantity > 40 AND l_discount BETWEEN 0.05 AND 0.07
         AND l_returnflag = 'R' AND l_tax IS NOT NULL""",
)
def p4_bool_conjunction(spark, sf_dir):
    """P4 — bool.filter AND of predicates, non-scoring (queries.py:78-95);
    P6 — first-class `exists` / IS NOT NULL predicate
    (fewnerd_retrieve_eval.py:96-103 filters on field existence): as a
    pushed filter conjunct AND as a hash-checked varying output column —
    ``nullif(l_tax, 0)`` models an optional field absent when zero, so
    ``has_tax`` exercises real null semantics row-by-row."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 40)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_returnflag") == "R")
        & F.col("l_tax").isNotNull()
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_discount",
        F.nullif(F.col("l_tax"), F.lit(0.0)).isNotNull().alias("has_tax"),
    )


@register(
    "p5_multi_type_users",
    """SELECT user_id, count(DISTINCT event_type) AS n_types
       FROM events GROUP BY user_id
       HAVING count(DISTINCT event_type) > 1""",
)
def p5_multi_type_users(spark, sf_dir):
    """P5/A9 — docs with >1 distinct entity type (queries.py:83-88;
    poc_fewnerd_classification.py:18-20) as users with >1 event type."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("n_types"))
        .filter(F.col("n_types") > 1)
    )


@register(
    "s9_content_hash_ids",
    """SELECT doc_id, 'fnd_' || sha256(text) AS fnd_id, sha256(text) AS content_sha256
       FROM documents""",
)
def s9_content_hash_ids(spark, sf_dir):
    """S9/F13 — content-hash id generation (step_index_to_database.py:36-39)
    + the north-rule sha256(content) invariant column."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.concat(F.lit("fnd_"), F.sha2(F.col("text"), 256)).alias("fnd_id"),
        F.sha2(F.col("text"), 256).alias("content_sha256"),
    )


# =========================================================================
# §2.4 Aggregations
# =========================================================================

@register(
    "a1_terms_agg",
    """SELECT event_type, count(*) AS cnt FROM events
       GROUP BY event_type ORDER BY cnt ASC, event_type LIMIT 500""",
)
def a1_terms_agg(spark, sf_dir):
    """A1 — terms agg ordered `_count asc`, size 500 (queries.py:15-38)."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("cnt"))
        .orderBy("cnt", "event_type")
        .limit(500)
    )


@register(
    "a2_filter_agg_q1",
    """SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 2) AS sum_qty,
              round(sum(l_extendedprice), 2) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              round(avg(l_discount), 6) AS avg_disc,
              count(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-01'
       GROUP BY l_returnflag, l_linestatus""",
)
def a2_filter_agg_q1(spark, sf_dir):
    """A2 — filter-then-aggregate (queries.py:19-36); TPC-H Q1 shape.
    Partial (map-side) aggregation + single shuffle on the group keys."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "a4_top_hits_per_bucket",
    """SELECT event_type, event_id, user_id, value FROM (
         SELECT *, row_number() OVER (
             PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
         FROM events) WHERE rn <= 3""",
)
def a4_top_hits_per_bucket(spark, sf_dir):
    """A4 — top_hits per bucket (queries.py:50-57): grouped top-k via window
    with deterministic tie-break (W2)."""
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), "event_id")
    return (
        T(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("event_type", "event_id", "user_id", "value")
    )


@register(
    "a5_a6_counts",
    """SELECT CAST(label AS VARCHAR) AS label, count(*) AS cnt
       FROM embeddings GROUP BY label
       UNION ALL
       SELECT '__filtered_orders_F__' AS label, count(*) AS cnt
       FROM orders WHERE o_orderstatus = 'F'""",
)
def a5_a6_counts(spark, sf_dir):
    """A5 count-matching-query (dataset_provider.py:179-181) + A6
    count_per_label (fewnerd_single_vector_r_precision.py:35-37) in one
    driver slot (50-query cap): per-label counts plus one tagged
    filtered-count row."""
    per_label = (
        T(spark, sf_dir, "embeddings")
        .groupBy(F.col("label").cast("string").alias("label"))
        .agg(F.count("*").alias("cnt"))
    )
    filtered = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .agg(F.count("*").alias("cnt"))
        .select(F.lit("__filtered_orders_F__").alias("label"), "cnt")
    )
    return per_label.unionByName(filtered)


@register(
    "a7_macro_average",
    """SELECT round(avg(type_avg), 6) AS macro_avg, count(*) AS n_groups FROM (
         SELECT event_type, avg(value) AS type_avg FROM events GROUP BY event_type)""",
)
def a7_macro_average(spark, sf_dir):
    """A7 — macro-average: per-group mean, then mean of means
    (fewnerd_retrieve_eval.py:32-37)."""
    per_type = (
        T(spark, sf_dir, "events").groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    )
    return per_type.agg(
        F.round(F.avg("type_avg"), 6).alias("macro_avg"), F.count("*").alias("n_groups")
    )


# =========================================================================
# §2.3 Joins
# =========================================================================

@register(
    "j5_lookup_join",
    """SELECT o.o_orderkey, c.c_name, n.n_name, o.o_totalprice
       FROM orders o
       JOIN customer c ON o.o_custkey = c.c_custkey
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       WHERE o.o_totalprice > 400000""",
)
def j5_lookup_join(spark, sf_dir):
    """J5 — lookup join mention->sentence (evaluate_by_sentence.py:85-90).
    Dimension tables broadcast (customer/nation small sides)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("o_orderkey", "c_name", "n_name", "o_totalprice")
    )


def _j3_oracle() -> str:
    from nerzo_spark.operators.negatives import training_batches_duckdb

    return training_batches_duckdb(
        anchor_type="src0", n_batches=3, batch_size=5, hard_negative_ratio=0.4
    )


@register(
    "j4_token_overlap_score",
    f"""WITH anchor AS (
         SELECT DISTINCT unnest(string_split_regex(text, '\\s+')) AS tok
         FROM documents WHERE doc_id = 0),
       toks AS (
         SELECT DISTINCT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
         FROM documents WHERE doc_id <> 0),
       overlap AS (
         SELECT t.doc_id, count(*) AS n_common
         FROM toks t JOIN anchor a ON t.tok = a.tok GROUP BY t.doc_id),
       j4_top AS (
         SELECT 'mlt_topk' AS part, CAST(-1 AS BIGINT) AS batch_id,
                CAST(NULL AS VARCHAR) AS role, o.doc_id,
                CAST(NULL AS VARCHAR) AS source, CAST(-1 AS BIGINT) AS rnk,
                CAST(o.n_common + (CASE WHEN d.lang = (SELECT lang FROM documents WHERE doc_id = 0)
                                   THEN 5 ELSE 0 END) AS BIGINT) AS score
         FROM overlap o JOIN documents d USING (doc_id)
         ORDER BY score DESC, doc_id LIMIT 20)
       SELECT * FROM j4_top
       UNION ALL
       SELECT 'batches' AS part, batch_id, role, doc_id, source, rnk, score
       FROM ({_j3_oracle()}) j3""",
)
def j4_token_overlap_score(spark, sf_dir):
    """J4 + J3 merged slot (driver caps the catalog at 50 queries).

    part='mlt_topk': J4 hard-negative scoring — more_like_this token overlap
    + coarse-type boost (queries.py:277-324); token-set semi-join cardinality.
    part='batches': J3 contrastive training batches — anchor/positive/mixed
    hard+easy negatives (contrastive/fewnerd_processor.py:11-72), see
    operators/negatives.py.  Sentinels (-1 / NULL) pad the non-applicable
    columns of each part."""
    d = T(spark, sf_dir, "documents")
    # T_par: the distinct-token explode is the heavy map side (guide §2.5)
    toks = T_par(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.array_distinct(F.split("text", r"\s+"))).alias("tok")
    )
    anchor = toks.filter(F.col("doc_id") == 0).select(F.col("tok").alias("a_tok"))
    anchor_lang = d.filter(F.col("doc_id") == 0).select(F.col("lang").alias("a_lang"))
    overlap = (
        toks.filter(F.col("doc_id") != 0)
        .join(F.broadcast(anchor), F.col("tok") == F.col("a_tok"))
        .groupBy("doc_id", "lang")
        .agg(F.count("*").alias("n_common"))
    )
    j4_top = (
        overlap.crossJoin(F.broadcast(anchor_lang))
        .withColumn(
            "score",
            F.col("n_common") + F.when(F.col("lang") == F.col("a_lang"), F.lit(5)).otherwise(F.lit(0)),
        )
        .orderBy(F.desc("score"), "doc_id")
        .limit(20)
        .select(
            F.lit("mlt_topk").alias("part"),
            F.lit(-1).cast("bigint").alias("batch_id"),
            F.lit(None).cast("string").alias("role"),
            "doc_id",
            F.lit(None).cast("string").alias("source"),
            F.lit(-1).cast("bigint").alias("rnk"),
            F.col("score").cast("bigint"),
        )
    )
    from nerzo_spark.operators.negatives import training_batches

    j3 = training_batches(
        d, anchor_type="src0", n_batches=3, batch_size=5, hard_negative_ratio=0.4
    ).select(
        F.lit("batches").alias("part"),
        "batch_id", "role", "doc_id", "source", "rnk", "score",
    )
    return j4_top.unionByName(j3)


# =========================================================================
# §2.5 Windows / sorts / limits / sampling
# =========================================================================

@register(
    "w5_seeded_sample",
    f"""SELECT o_orderkey, o_custkey, o_orderstatus FROM orders
        WHERE {md5_i64_duckdb("CAST(o_orderkey AS VARCHAR) || '#12345678910'")} % 10 = 0""",
)
def w5_seeded_sample(spark, sf_dir):
    """W5 — seeded random sampling (queries.py:96-103, seed 12345678910).
    Partitioning-invariant: derived from md5(key||seed), not rand(seed)
    (SURVEY.md §7.3)."""
    o = T(spark, sf_dir, "orders")
    key = md5_i64(F.concat(F.col("o_orderkey").cast("string"), F.lit("#12345678910")))
    return o.filter(key % 10 == 0).select("o_orderkey", "o_custkey", "o_orderstatus")


@register(
    "w6_seeded_random_per_bucket",
    f"""SELECT event_type, event_id FROM (
          SELECT event_type, event_id, row_number() OVER (
              PARTITION BY event_type
              ORDER BY md5(CAST(event_id AS VARCHAR) || '#12345678910'), event_id) AS rn
          FROM events) WHERE rn <= 2""",
)
def w6_seeded_random_per_bucket(spark, sf_dir):
    """W6 — top_hits sorted by Math.random() (queries.py:178-196), made
    deterministic by seeding (documented divergence, SURVEY.md W6)."""
    order_key = F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#12345678910")))
    w = Window.partitionBy("event_type").orderBy(order_key, "event_id")
    return (
        T(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select("event_type", "event_id")
    )


@register(
    "w7_islands_run_merge",
    """SELECT user_id, event_type, count(*) AS run_len,
              CAST(floor(min(epoch(ts))) AS BIGINT) AS t_start,
              CAST(floor(max(epoch(ts))) AS BIGINT) AS t_end,
              min(event_id) AS first_event
       FROM (
         SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS run_id
         FROM (
           SELECT user_id, event_type, ts, event_id,
                  CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                            IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
           FROM events))
       GROUP BY user_id, event_type, run_id""",
)
def w7_islands_run_merge(spark, sf_dir):
    """W7 — run-length span merge: the reference's token-tag state machine
    (step_process_to_document.py:73-105) as the classic gaps-and-islands
    window: lag -> change flag -> running sum -> group."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e = T(spark, sf_dir, "events").withColumn(
        "chg",
        F.when(
            ~F.lag("event_type").over(w).eqNullSafe(F.col("event_type")), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    e = e.withColumn("run_id", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        e.groupBy("user_id", "event_type", "run_id")
        .agg(
            F.count("*").alias("run_len"),
            F.min(F.unix_timestamp("ts")).alias("t_start"),
            F.max(F.unix_timestamp("ts")).alias("t_end"),
            F.min("event_id").alias("first_event"),
        )
        .drop("run_id")
    )


@register(
    "setops_except_union",
    """SELECT 'except' AS op, CAST(n_nationkey AS VARCHAR) AS k, NULL AS split FROM (
         SELECT DISTINCT c_nationkey AS n_nationkey FROM customer
         EXCEPT
         SELECT DISTINCT s_nationkey AS n_nationkey FROM supplier)
       UNION ALL
       SELECT 'union' AS op, CAST(doc_id AS VARCHAR) AS k, lang || '/big' AS split
       FROM documents WHERE n_chars > 300
       UNION ALL
       SELECT 'union' AS op, CAST(doc_id AS VARCHAR) AS k, lang || '/en' AS split
       FROM documents WHERE lang = 'en'""",
)
def setops_except_union(spark, sf_dir):
    """§2.6 both set ops in one driver slot (50-query cap): set difference
    (type-split complement, fewnerd_processor.py:34
    `set(dataset_types) - {result_type}`) + wildcard multi-index read
    `fewnerd_v4_*` (dataset_provider.py:69) == unionByName of splits."""
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    ex = c.subtract(s).select(
        F.lit("except").alias("op"),
        F.col("k").cast("string").alias("k"),
        F.lit(None).cast("string").alias("split"),
    )
    d = T(spark, sf_dir, "documents")
    big = d.filter(F.col("n_chars") > 300).select(
        F.lit("union").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat(F.col("lang"), F.lit("/big")).alias("split"),
    )
    en = d.filter(F.col("lang") == "en").select(
        F.lit("union").alias("op"),
        F.col("doc_id").cast("string").alias("k"),
        F.concat(F.col("lang"), F.lit("/en")).alias("split"),
    )
    return ex.unionByName(big).unionByName(en)
