"""Focused equivalence tests for the r7 kNN-internals optimization:
``topk_desc_stable`` must reproduce ``np.argsort(-scores, axis=1,
kind="stable")[:, :kk]`` EXACTLY — including index tie-breaks, boundary
ties (the argpartition-ambiguous case), -inf self-masking and kk >= m."""

from __future__ import annotations

import numpy as np
import pytest

from nerzo_spark.operators.topk import blockwise_topk, topk_desc_stable


def _ref(scores: np.ndarray, kk: int) -> np.ndarray:
    return np.argsort(-scores, axis=1, kind="stable")[:, :kk]


def test_blockwise_matches_full_matrix():
    """blockwise_topk == self-masked full-matrix topk_desc_stable, across
    block sizes that do / don't divide m, with ties and self-masking."""
    rng = np.random.default_rng(21)
    for trial in range(120):
        n = int(rng.integers(1, 20))
        m = int(rng.integers(2, 300))
        d = int(rng.integers(2, 16))
        kk = int(rng.integers(1, m + 1))
        block = int(rng.integers(1, m + 40))
        v = rng.integers(-2, 3, size=(n, d)).astype(float)  # tie-heavy dots
        mat = rng.integers(-2, 3, size=(m, d)).astype(float)
        self_pos = {r: int(rng.integers(0, m)) for r in range(n) if rng.random() < 0.5}
        scores = v @ mat.T
        for r, j in self_pos.items():
            scores[r, j] = -np.inf
        ref_i = _ref(scores, kk)
        ref_s = scores[np.arange(n)[:, None], ref_i]
        got_i, got_s = blockwise_topk(v, mat, kk, self_pos=self_pos, block=block)
        assert np.array_equal(ref_i, got_i), (trial, n, m, kk, block)
        assert np.array_equal(ref_s, got_s), (trial, n, m, kk, block)


def test_tie_heavy_exact():
    rng = np.random.default_rng(7)
    for trial in range(300):
        n = int(rng.integers(1, 40))
        m = int(rng.integers(2, 200))
        kk = int(rng.integers(1, m + 1))
        # small discrete value set -> many exact ties, some crossing the
        # selection boundary (the argpartition-ambiguous case)
        scores = rng.integers(0, 5, size=(n, m)).astype(float)
        scores[rng.random((n, m)) < 0.05] = -np.inf
        assert np.array_equal(_ref(scores, kk), topk_desc_stable(scores, kk)), (
            trial, n, m, kk,
        )


def test_continuous_scores_exact():
    rng = np.random.default_rng(11)
    for _ in range(60):
        n = int(rng.integers(1, 30))
        m = int(rng.integers(2, 500))
        kk = int(rng.integers(1, m + 1))
        scores = rng.standard_normal((n, m))
        assert np.array_equal(_ref(scores, kk), topk_desc_stable(scores, kk))


def test_kk_ge_m_full_sort_path():
    rng = np.random.default_rng(3)
    scores = rng.standard_normal((5, 7))
    for kk in (7, 8, 20):
        got = topk_desc_stable(scores, kk)
        assert np.array_equal(_ref(scores, min(kk, 7)), got[:, :7])


def test_all_equal_row():
    scores = np.zeros((3, 10))
    assert np.array_equal(_ref(scores, 4), topk_desc_stable(scores, 4))


def test_self_masked_neg_inf_row():
    # one -inf per row (the masked self column) must sort last, never into
    # the selected top-k unless kk spans the whole row
    scores = np.tile(np.arange(6, dtype=float), (4, 1))
    for r in range(4):
        scores[r, r] = -np.inf
    assert np.array_equal(_ref(scores, 5), topk_desc_stable(scores, 5))


def test_all_equal_scores_every_row_ambiguous():
    # every row ties at the boundary, so every row takes the fallback sort
    scores = np.full((64, 300), 0.25)
    for kk in (1, 7, 299):
        assert np.array_equal(_ref(scores, kk), topk_desc_stable(scores, kk))


def test_quantized_scores_exact():
    # cosine scores rounded to a coarse grid: ties everywhere, a mix of
    # ambiguous and unambiguous rows in one batch
    rng = np.random.default_rng(5)
    for _ in range(40):
        n = int(rng.integers(1, 50))
        m = int(rng.integers(2, 400))
        kk = int(rng.integers(1, m + 1))
        scores = np.round(np.tanh(rng.standard_normal((n, m))), 1)
        assert np.array_equal(_ref(scores, kk), topk_desc_stable(scores, kk))


def test_nan_scores_rejected():
    scores = np.zeros((2, 5))
    scores[1, 3] = np.nan
    with pytest.raises(AssertionError, match="NaN"):
        topk_desc_stable(scores, 2)
