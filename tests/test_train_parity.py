"""Spark-vs-DuckDB parity for the training-surface pair (U8 loss forwards,
O4 HPO sweep) — same compare harness as the driver's gate; these two live
outside the 50-slot driver registry (see plans/catalog_train.py)."""

from __future__ import annotations

import pytest

from nerzo_spark.plans import catalog_train

from tests.oracle_harness import TOLERANT, compare, compare_tolerant, duck_con

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def con():
    return duck_con(SF_DIR)


@pytest.mark.parametrize("name", sorted(catalog_train.oracle_sql().keys()))
def test_train_parity(spark, con, name):
    fn = catalog_train.queries()[name]
    sql = catalog_train.oracle_sql()[name]
    cmp = compare_tolerant if name in TOLERANT else compare
    ok, msg = cmp(fn(spark, SF_DIR), con, sql)
    assert ok, f"{name}: {msg}"


@pytest.mark.parametrize("name", ["o4_hpo_sweep", "o4_hpo_sweep_lsh"])
def test_o4_returns_ranked_top5(spark, name):
    rows = catalog_train.queries()[name](spark, SF_DIR).collect()
    assert [r["hpo_rank"] for r in rows] == [1, 2, 3, 4, 5]
    accs = [r["accuracy"] for r in rows]
    assert accs == sorted(accs, reverse=True)
    assert all(1 <= r["k"] <= 15 for r in rows)
    assert all(r["repr"] in ("end", "pair") for r in rows)
    assert all(-0.2 - 1e-9 <= r["thr"] <= 0.2 + 1e-9 for r in rows)


def test_o4_sweeps_three_dimensions(spark):
    """The 8-trial grid must actually vary all three hyperparameters
    (VERDICT r5 task 3: >= 3 swept dimensions)."""
    trials = catalog_train._o4_trials(spark, catalog_train._N_TRIALS).collect()
    assert len({t["k"] for t in trials}) >= 2
    assert len({t["repr"] for t in trials}) == 2
    assert len({t["thr"] for t in trials}) >= 2


def _scan_count(df) -> int:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().count("Scan parquet")


def test_o4_scan_count_is_trial_invariant(spark):
    """Score once, fan out the trial dimension: the number of corpus scans
    in the physical plan must not depend on the trial count."""
    n2 = _scan_count(catalog_train._o4_plan(spark, SF_DIR, 2))
    n16 = _scan_count(catalog_train._o4_plan(spark, SF_DIR, 16))
    assert n2 == n16
    # small constant: pair-repr view on each join side + tot count (the
    # lead-window view is not exchange-reused across the self-join sides);
    # the invariant above is the load-bearing claim — 16 trials, 6 scans
    assert n16 <= 6


def test_o4_lsh_tier_has_no_cross_join(spark):
    """The scale-tier scorer must generate candidates by a bucket EQUI-join:
    no cartesian / broadcast-nested-loop pair pass anywhere in the physical
    plan (that is exactly what the lsh tier exists to avoid at 100 TB)."""
    import contextlib
    import io

    def plan_of(tier):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            catalog_train._o4_plan(spark, SF_DIR, 2, candidate_tier=tier).explain(
                "formatted"
            )
        return buf.getvalue()

    lsh, exact = plan_of("lsh"), plan_of("exact")
    assert "CartesianProduct" not in lsh
    # the pair pass is an equi-join keyed on the hyperplane bucket (a
    # BroadcastHashJoin at sf0.001; the same plan shuffles to SMJ/SHJ when
    # neither side fits an executor — key-joinable either way)
    assert "bucket#" in lsh and "Left keys [1]: [bucket#" in lsh
    # the only nested-loop joins left are the dimension fan-outs (8-row
    # trial grid + 1-row corpus count) — one FEWER than the exact tier,
    # whose pair pass is itself the extra nested-loop join
    import re

    def bnlj_nodes(plan):
        return len(set(re.findall(r"\((\d+)\) BroadcastNestedLoopJoin", plan)))

    assert bnlj_nodes(lsh) == bnlj_nodes(exact) - 1
    assert "Left keys [1]: [bucket#" not in exact


def test_u8_over_j3_deterministic_and_consistent(spark):
    """VERDICT r5 task 4: U8 fed from the J3 batch builder — finite,
    deterministic across two runs, combined = triplet + contrastive."""
    q = catalog_train.queries()["u8_losses_over_j3"]
    r1 = q(spark, SF_DIR).collect()[0]
    r2 = q(spark, SF_DIR).collect()[0]
    assert r1 == r2
    assert r1["n_triplets"] > 0
    for c in ("triplet_loss", "dpr_loss", "contrastive_loss", "combined_loss"):
        assert r1[c] == r1[c] and r1[c] is not None  # finite (not NaN/NULL)
    assert abs(r1["combined_loss"] - (r1["triplet_loss"] + r1["contrastive_loss"])) < 2e-6


def test_u8_losses_are_finite_and_consistent(spark):
    row = catalog_train.queries()["u8_contrastive_losses"](spark, SF_DIR).collect()[0]
    assert row["n_triplets"] > 0
    for c in ("triplet_loss", "dpr_loss", "contrastive_loss", "combined_loss"):
        assert row[c] == row[c] and row[c] >= 0.0  # finite, non-negative
    assert abs(row["combined_loss"] - (row["triplet_loss"] + row["contrastive_loss"])) < 2e-6
