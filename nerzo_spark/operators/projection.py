"""MLP-head bulk application over stored vectors (SURVEY.md §2.8 U5/U6).

Reference behavior: after training, NERZO bulk-applies a small MLP
projection head to every stored embedding and writes the result as a new
vector field (step_generate_ne_embedding.py:68-94, contrastive/mlp.py:6-57),
and scores mention PAIRS with a Detector head -> probability
(contrastive/mlp.py:74-82).

Spark-first shape: the head weights are dimension-sized (d_out x d_in
doubles) — broadcast them as a closure constant into ONE Arrow-batched
pandas UDF and do a single GEMM per batch (numpy, float64).  No shuffle, no
join: the plan stays `Scan -> Project(pythonUDF)`, so at 10^12 rows it is
embarrassingly parallel and the only cost is the Arrow transfer of the
vector column itself.

The weights here are deterministic integer-ratio functions of (out, in)
index so the DuckDB oracle can re-derive them in pure SQL — the production
path would load trained weights from a checkpoint instead.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType
from pyspark.sql.functions import pandas_udf


def det_weights(d_in: int, d_out: int) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic projection weights W[o,i] = ((o*31+i*17) % 7 - 3)/10,
    b[o] = (o % 5 - 2)/10 — reproducible in ANSI SQL for the oracle."""
    o = np.arange(d_out)[:, None]
    i = np.arange(d_in)[None, :]
    w = (((o * 31 + i * 17) % 7) - 3) / 10.0
    b = ((np.arange(d_out) % 5) - 2) / 10.0
    return w.astype(np.float64), b.astype(np.float64)


def det_pair_weights(d_in: int) -> tuple[np.ndarray, np.ndarray, float]:
    """Deterministic Detector weights for pair scoring (mlp.py:74-82):
    w_a[i] = ((1000+i*13) % 11 - 5)/20, w_b[i] = ((2000+i*7) % 11 - 5)/20."""
    i = np.arange(d_in)
    w_a = (((1000 + i * 13) % 11) - 5) / 20.0
    w_b = (((2000 + i * 7) % 11) - 5) / 20.0
    return w_a.astype(np.float64), w_b.astype(np.float64), 0.05


def project_head(in_col: str | Column, w: np.ndarray, b: np.ndarray) -> Column:
    """U5 — y = W x + b applied to a vector column, one GEMM per Arrow batch.

    Returns an ``array<double>`` column of length d_out.  W, b ride the UDF
    closure (broadcast once per executor, never shuffled)."""
    w64, b64 = np.asarray(w, dtype=np.float64), np.asarray(b, dtype=np.float64)

    @pandas_udf(ArrayType(DoubleType()))
    def _proj(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64, copy=False)
        y = m @ w64.T + b64
        return pd.Series(list(y))

    return _proj(F.col(in_col) if isinstance(in_col, str) else in_col)


def pair_detector_prob(
    a_col: str | Column,
    b_col: str | Column,
    w_a: np.ndarray,
    w_b: np.ndarray,
    bias: float,
) -> Column:
    """U6 — Detector pair classifier: sigmoid(w_a . a + w_b . b + bias).

    One fused GEMV per Arrow batch over both vector columns; scalar
    probability out (reference mlp.py:74-82 applies Linear+Sigmoid to the
    concatenated pair — algebraically identical to the split dot)."""
    wa = np.asarray(w_a, dtype=np.float64)
    wb = np.asarray(w_b, dtype=np.float64)

    @pandas_udf(DoubleType())
    def _prob(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype(np.float64, copy=False)
        mb = np.stack(b.to_numpy()).astype(np.float64, copy=False)
        z = ma @ wa + mb @ wb + bias
        return pd.Series(1.0 / (1.0 + np.exp(-z)))

    ca = F.col(a_col) if isinstance(a_col, str) else a_col
    cb = F.col(b_col) if isinstance(b_col, str) else b_col
    return _prob(ca, cb)
