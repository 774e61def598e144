"""Physical-plan assertions: the declarative operators must actually get the
optimizations they were designed for (SURVEY.md §4) — predicate pushdown to
the parquet scan, column pruning, broadcast joins for dimension tables, and
map-side partial aggregation."""

from __future__ import annotations

import contextlib
import io

from nerzo_spark.plans import catalog
import nerzo_spark.plans.catalog_text  # noqa: F401
import nerzo_spark.plans.catalog_vec  # noqa: F401

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_term_filter_pushed_to_scan(spark):
    plan = plan_of(catalog.queries()["p2_term_filter"](spark, SF))
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1].splitlines()[0]


def test_projection_prunes_scan_schema(spark):
    plan = plan_of(catalog.queries()["s9_content_hash_ids"](spark, SF))
    read = plan.split("ReadSchema")[1].splitlines()[0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "source" not in read  # pruned


def test_lookup_join_broadcasts_dimensions(spark):
    plan = plan_of(catalog.queries()["j5_lookup_join"](spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2  # customer AND nation


def test_q1_partial_aggregation(spark):
    plan = plan_of(catalog.queries()["a2_filter_agg_q1"](spark, SF))
    # map-side partial agg before the shuffle, final after
    assert "partial_" in plan.lower() or plan.count("HashAggregate") >= 2


def test_q1_filter_pushed(spark):
    plan = plan_of(catalog.queries()["a2_filter_agg_q1"](spark, SF))
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_q1_single_shuffle(spark):
    """Q1 shape must shuffle exactly once (on the two grouping keys)."""
    plan = plan_of(catalog.queries()["a2_filter_agg_q1"](spark, SF))
    tree = plan.split("(1) Scan")[0]  # operator tree, before node details
    assert tree.count("Exchange") == 1


def test_ivf_assignment_no_exchange_before_probe_join(spark):
    """Round-2 fix: centroid assignment is a map-side array expression —
    the plan up to the probes x cells join must contain NO shuffle Exchange
    (the round-1 crossJoin + per-vec row_number shuffled all N x K rows)."""
    import nerzo_spark.plans.catalog_ivf  # noqa: F401

    df = catalog.queries()["ann_ivf_probe"](spark, SF)
    plan = plan_of(df)
    # Exactly ONE keyed shuffle is legal: the final per-query top-k window.
    # The probes->cells join must stay broadcast and assignment must stay
    # map-side (the round-1 crossJoin + per-vec row_number added a second
    # hashpartitioning and must fail here).  The r7 T_par round-robin
    # repartition (input-skew repair, guide §2.5) is not keyed and is
    # allowed.  Formatted explain prints each keyed Exchange's
    # "hashpartitioning(...)" on its Arguments line — count those (the
    # contiguous string "Exchange hashpartitioning" NEVER occurs in
    # formatted output; asserting on it would be vacuous).
    assert plan.count("hashpartitioning") <= 1, plan[:2000]


def test_f2_token_offsets_shuffle_free(spark):
    """The prefix-sum offsets are one array fold: Scan -> [input-skew
    repartition] -> Project -> Explode — no KEYED shuffle.  The r7 T_par
    round-robin exchange (single-row-group scan repair, guide §2.5) is
    allowed; a hashpartitioning exchange would mean the fold itself started
    shuffling and must fail.  Matched via the bare "hashpartitioning"
    Arguments token — formatted explain never prints the contiguous string
    "Exchange hashpartitioning", so matching that would be vacuous."""
    df = catalog.queries()["f2_token_offsets"](spark, SF)
    plan = plan_of(df)
    assert "hashpartitioning" not in plan
    # the sf0.001 table is smaller than spark.sql.files.openCostInBytes, so
    # T_par leaves its one-split scan as it is
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 0, tree


def test_t_par_repartitions_a_mid_sized_table(spark):
    """With openCostInBytes below the table's size, the same table is one
    T_par spreads: its round-robin exchange is the plan's only one."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        plan = plan_of(catalog.queries()["f2_token_offsets"](spark, SF))
    finally:
        spark.conf.set(key, old)
    assert "hashpartitioning" not in plan
    tree = plan.split("(1) Scan")[0]
    assert tree.count("Exchange") == 1, tree
    assert "RoundRobinPartitioning" in plan, plan


def test_u5_projection_no_shuffle_beyond_join(spark):
    """U5/U6 heads ride the UDF closure: only the self-join machinery may
    exchange; the GEMM itself adds no Exchange."""
    import nerzo_spark.plans.catalog_vec  # noqa: F401

    df = catalog.queries()["u5_u6_mlp_heads"](spark, SF)
    tree = plan_of(df).split("(1) Scan")[0]
    # vec_id+1 equi-join on a small table -> broadcast; no other shuffles
    shuffles = tree.count("Exchange") - tree.count("BroadcastExchange")
    assert shuffles == 0, tree


def test_ann_lsh_null_first_embedding(spark, tmp_path):
    """A NULL first embedding must not break ann_lsh_bucketed's dim probe:
    the plan falls back to the per-row md5 bucket expression, so every
    non-NULL row lands in its exact bucket."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from nerzo_spark.plans.catalog_vec import _bucket_expr

    rng = np.random.default_rng(3)
    emb = [None] + [rng.standard_normal(8).astype(np.float32).tolist() for _ in range(39)]
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(40), pa.int64()),
            "embedding": pa.array(emb, pa.list_(pa.float32())),
            "label": pa.array([i % 3 for i in range(40)], pa.int32()),
        }),
        tmp_path / "embeddings.parquet",
    )
    got = catalog.queries()["ann_lsh_bucketed"](spark, str(tmp_path)).collect()
    md5_bucket = {
        r["vec_id"]: r["b"]
        for r in spark.read.parquet(str(tmp_path / "embeddings.parquet"))
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.expr(_bucket_expr("spark", "embedding")).alias("b"))
        .collect()
    }
    # every non-NULL query with a bucket partner has neighbours
    partnered = {
        q for q in range(1, 10) if sum(b == md5_bucket[q] for b in md5_bucket.values()) > 1
    }
    assert partnered and partnered <= {r["query_id"] for r in got}
    for r in got:
        if r["query_id"] in md5_bucket:
            assert r["bucket"] == md5_bucket[r["query_id"]]
        if r["neighbor_id"] in md5_bucket:
            assert md5_bucket[r["neighbor_id"]] == r["bucket"]
