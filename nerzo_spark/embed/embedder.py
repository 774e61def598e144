"""Deterministic feature-hashing span embedder — the sandbox stand-in for the
reference's LLM hidden-state embeddings (SURVEY.md §2.8 U1-U4, §7.0).

The reference computes, per mention, hidden-state vectors at the token just
*before* the span (``start = h[start_tok - 1]``) and at the span's last token
(``end = h[end_tok]``) — /root/reference/clearml_pipelines/fewnerd_pipeline/
step_process_to_document.py:57-70 — and derives representations ``diff`` /
``end`` / ``start_end_pair`` (/root/reference/contrastive/fewnerd_processor.py:108-117).

This module preserves that *structure* with a deterministic, GPU-free
featurizer:

- ``emb_start``  — features of the LEFT context only (the ``h[start-1]`` analog:
  what precedes the mention);
- ``emb_end``    — features of the surface + right context (the ``h[end]`` analog);
- ``emb``        — the ``start_end_pair`` representation (concat), used for
  zero-shot linking.

Every feature is hashed with md5 (stable across processes, machines, Python
hash randomization) into a fixed-dim signed bucket — i.e. the classic hashing
trick.  Executed as ONE Arrow-batched pandas UDF over mention rows: no
per-row Python at the DataFrame level, numpy accumulation per batch.  On a
real cluster this UDF is where a GPU model would sit (process-global model,
batch = Arrow batch), exactly like the reference's batched forward
(llm_interface.py:121-122).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

DIM = 128  # per-side dim; pair repr is 2*DIM

_feat_cache: dict[str, tuple[int, float]] = {}


def _feat(f: str) -> tuple[int, float]:
    """feature string -> (bucket index, sign) via md5 (process-stable)."""
    hit = _feat_cache.get(f)
    if hit is None:
        h = int.from_bytes(hashlib.md5(f.encode("utf-8")).digest()[:8], "big")
        hit = (h % DIM, 1.0 if (h >> 61) & 1 else -1.0)
        if len(_feat_cache) < 1_000_000:
            _feat_cache[f] = hit
    return hit


import re as _re

# ascii fast path for _shape: translate to class chars, collapse runs with
# one regex — ~4x the per-char Python loop (extraction's hottest helper)
_SHAPE_TABLE = {}
for _c in range(128):
    _ch = chr(_c)
    if _ch.islower():
        _SHAPE_TABLE[_c] = "a"
    elif _ch.isupper():
        _SHAPE_TABLE[_c] = "A"
    elif _ch.isdigit():
        _SHAPE_TABLE[_c] = "0"
_RUNS = _re.compile(r"(.)\1+", _re.DOTALL)


def _shape(s: str) -> str:
    """Word shape: letter-case/digit classes with runs collapsed
    ('parse_config' -> 'a_a', 'v1.2.3' -> 'a0.0.0')."""
    if s.isascii():
        return _RUNS.sub(r"\1", s.translate(_SHAPE_TABLE))
    out: list[str] = []
    for ch in s:
        if ch.islower():
            c = "a"
        elif ch.isupper():
            c = "A"
        elif ch.isdigit():
            c = "0"
        else:
            c = ch
        if not out or out[-1] != c:
            out.append(c)
    return "".join(out)


def _ngrams(s: str, n: int = 3) -> list[str]:
    s = f"^{s}$"
    if len(s) <= n:
        return [s]
    return [s[i : i + n] for i in range(len(s) - n + 1)]


def surface_features(surface: str, right_ctx: str) -> list[tuple[str, float]]:
    """Features for the ``end`` vector (surface + what follows it)."""
    sh = _shape(surface)
    feats: list[tuple[str, float]] = []
    feats += [(f"g3:{g}", 1.0) for g in _ngrams(surface.lower())]
    feats.append((f"sh:{sh}", 4.0))
    feats += [(f"shg:{g}", 2.0) for g in _ngrams(sh)]
    feats += [(f"pn:{c}", 3.0) for c in sorted({c for c in surface if not c.isalnum()})]
    feats.append((f"rc:{_shape(right_ctx[:3])}", 2.0))
    feats.append((f"len:{min(len(surface) // 4, 8)}", 1.0))
    return feats


def left_features(left_ctx: str) -> list[tuple[str, float]]:
    """Features for the ``start`` vector (the h[start-1] analog)."""
    feats: list[tuple[str, float]] = []
    words = left_ctx.strip().lower().split()
    if words:
        feats.append((f"lw:{words[-1][-12:]}", 4.0))  # cue word: def/class/import/...
    if len(words) >= 2:
        feats.append((f"lw2:{words[-2][-12:]}", 2.0))
    tail = left_ctx[-6:]
    feats.append((f"lsh:{_shape(tail)}", 2.0))
    feats += [(f"lg3:{g}", 1.0) for g in _ngrams(tail.lower())]
    if not left_ctx:
        feats.append(("l:SOS", 3.0))  # SOS analog of llm_interface.py:21
    return feats


def _accumulate(feats: list[tuple[str, float]]) -> np.ndarray:
    # bincount accumulation: one C pass instead of DIM-sized indexed adds.
    # Summation order differs from the scalar loop only in a bitwise-neutral
    # way: bincount adds weights in input order per bucket, same as the loop.
    idxs = np.empty(len(feats), dtype=np.intp)
    ws = np.empty(len(feats), dtype=np.float64)
    for j, (f, w) in enumerate(feats):
        idx, sign = _feat(f)
        idxs[j] = idx
        ws[j] = sign * w
    v = np.bincount(idxs, weights=ws, minlength=DIM)
    # math.sqrt(v.dot(v)) == np.linalg.norm(v) bit-for-bit for 1-D float64
    # (norm computes sqrt(dot) internally) at a fraction of the wrapper
    # overhead — this path runs per distinct feature vector (r7, guide §1.2)
    n = math.sqrt(v.dot(v))
    return (v / n if n > 0 else v).astype(np.float32)


from functools import lru_cache

# Vocabulary-cliff knob (VERDICT r4 task 4, measured curve in BENCH.md):
# once a TASK's distinct-surface working set exceeds the cache, per-core
# throughput drops ~1.7x (10.2k -> 6k mentions/s at 3.2M files with
# 64-row-group corpora = 50k files/task).  Two levers, in order of
# preference: (a) partition the corpus so per-task vocabulary stays under
# the cap (files/12500 partitions did it for the 3.2M campaign corpus), or
# (b) raise NERZO_CACHE_ENTRIES (cost ~0.6 KB/entry/worker for the two
# component caches).  The env var is read at import time in each Python
# worker — set it via spark.executorEnv.NERZO_CACHE_ENTRIES on a cluster,
# where the driver's environment does not reach the executors; a stand-in
# artifact either way: production replaces this featurizer with a GPU LLM
# forward.
import os as _os

try:
    _CACHE_ENTRIES = max(int(_os.environ.get("NERZO_CACHE_ENTRIES", "262144")), 1024)
except ValueError as _exc:  # a bare int() here would kill every executor
    # Python worker at import time with a traceback far from the bad env
    # var — fail with a message that names the knob instead.
    raise ValueError(
        f"NERZO_CACHE_ENTRIES must be an integer, got "
        f"{_os.environ.get('NERZO_CACHE_ENTRIES')!r}"
    ) from _exc


def _frozen(v: np.ndarray) -> np.ndarray:
    # cached arrays are shared across callers — make them read-only so a
    # caller mutating a "fresh" embedding can't corrupt the cache
    v.setflags(write=False)
    return v


@lru_cache(maxsize=_CACHE_ENTRIES)
def _end_vec(surface: str, right3: str) -> np.ndarray:
    return _frozen(_accumulate(surface_features(surface, right3)))


@lru_cache(maxsize=_CACHE_ENTRIES)
def _start_vec(left16: str) -> np.ndarray:
    return _frozen(_accumulate(left_features(left16)))


# the pair-level cache only saves a concat+renorm over the component caches,
# so it is sized 8x smaller (~32 MB/worker of 1 KB entries worst-case vs the
# multi-GB fleet-wide worst case a 262k cap would allow)
@lru_cache(maxsize=max(_CACHE_ENTRIES // 8, 4096))
def _pair_vec(left16: str, surface: str, right3: str) -> np.ndarray:
    start = _start_vec(left16)
    end = _end_vec(surface, right3)
    pair = np.concatenate([start, end])
    # np.sqrt(pair.dot(pair)) == np.linalg.norm(pair) bit-for-bit (float32
    # scalar either way); skips the norm wrapper per cached pair (r7)
    n = np.sqrt(pair.dot(pair))
    return _frozen((pair / n if n > 0 else pair).astype(np.float32))


def embed_span(surface: str, left_ctx: str, right_ctx: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Single-span embedding (also driver-side: anchors, label centroids).

    Memoized per distinct (surface, right-context) and left-context key —
    AND at the full (left, surface, right) pair level, so repeated spans
    skip even the concat+renorm: surfaces repeat heavily in real corpora,
    so the cache converts the dominant featurize+normalize cost into dict
    lookups (the moral equivalent of the reference caching per-phrase
    embeddings by content hash, step_index_to_database.py:36-49)."""
    left16 = (left_ctx or "")[-16:]
    right3 = (right_ctx or "")[:3]
    return (
        _start_vec(left16),
        _end_vec(surface or "", right3),
        _pair_vec(left16, surface or "", right3),
    )


_EMB_SCHEMA = StructType(
    [
        StructField("emb_start", ArrayType(FloatType())),
        StructField("emb_end", ArrayType(FloatType())),
        StructField("emb", ArrayType(FloatType())),
    ]
)


def embed_mentions(
    df: DataFrame,
    surface_col: str = "surface",
    left_col: str = "left_ctx",
    right_col: str = "right_ctx",
    include_reprs: bool = False,
) -> DataFrame:
    """Append the linking embedding ``emb`` (start_end_pair repr) via one
    Arrow-batched UDF; ``include_reprs=True`` additionally emits
    emb_start / emb_end (F12 reprs) at ~2x the Arrow transfer cost.

    Scale: this is the only stage with nontrivial Python compute; batch size
    is bounded by spark.sql.execution.arrow.maxRecordsPerBatch and the stage
    parallelizes per partition — the GPU-model slot in production.  Arrow
    transfer of the vector column dominates the stage cost, which is why the
    pipeline default ships ONE vector, not three.
    """
    if include_reprs:

        @F.pandas_udf(_EMB_SCHEMA)
        def _embed3(surface: pd.Series, left: pd.Series, right: pd.Series) -> pd.DataFrame:
            starts, ends, pairs = [], [], []
            for s, l, r in zip(surface.fillna(""), left.fillna(""), right.fillna("")):
                a, b, c = embed_span(s, l, r)
                starts.append(a)
                ends.append(b)
                pairs.append(c)
            return pd.DataFrame({"emb_start": starts, "emb_end": ends, "emb": pairs})

        packed = _embed3(F.col(surface_col), F.col(left_col), F.col(right_col))
        return (
            df.withColumn("_e", packed)
            .select("*", "_e.emb_start", "_e.emb_end", "_e.emb")
            .drop("_e")
        )

    @F.pandas_udf(ArrayType(FloatType()))
    def _embed(surface: pd.Series, left: pd.Series, right: pd.Series) -> pd.Series:
        return pd.Series(
            [
                embed_span(s, l, r)[2]
                for s, l, r in zip(surface.fillna(""), left.fillna(""), right.fillna(""))
            ]
        )

    return df.withColumn("emb", _embed(F.col(surface_col), F.col(left_col), F.col(right_col)))
