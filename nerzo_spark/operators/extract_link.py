"""Fused mention-extraction + zero-shot linking — the pipeline hot path.

One ``mapInPandas`` pass over corpus rows does: span proposal (regex, the
untyped candidate stage), deterministic span embedding, and cosine top-1
scoring against the broadcast label-catalog matrix — per Arrow batch, with
ONE numpy GEMM over all mentions in the batch.

Why fused: embeddings are ~256 floats per mention; shipping them through
Arrow just to immediately consume them in the next UDF costs more CPU than
computing them (measured: vector-column Arrow conversion dominated the
unfused pipeline).  Vectors stay numpy-internal; only scalar columns cross
the JVM boundary.  This is the same economics as the reference keeping the
GPU forward and the span slicing in one process (step_process_to_document.py
:57-70): never serialize the hidden states you can consume in place.

The standalone operators (spans.detect_mentions, embedder.embed_mentions,
topk.link_topk) remain the compositional API — this operator is their fusion
with identical semantics (asserted by tests/test_fused_equivalence.py).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nerzo_spark.embed.embedder import embed_span
from nerzo_spark.operators.spans import LEFT_CTX, RIGHT_CTX, propose_spans

# slim on purpose: the embedding contexts are consumed in-UDF and never
# emitted — every extra column here is Arrow + checkpoint cost per mention
LINKED_SCHEMA = (
    "mention_id string, repo string, path string, commit string, lang string, "
    "span_start int, span_end int, surface string, text_id string, "
    "sha_ok boolean, label_id string, coarse_type string, fine_type string, "
    "score double"
)


def extract_and_link(
    corpus: DataFrame,
    catalog: list[dict],
    repartition_to: int | None = None,
) -> DataFrame:
    """corpus -> linked mentions (mention row + top-1 label assignment).

    ``catalog`` rows: {label_id, coarse_type, fine_type, emb} — broadcast via
    closure as a dense L2-normalized matrix (tiny: one row per fine type).
    Ties broken by label_id order (deterministic, W2 semantics).
    """
    if repartition_to:
        corpus = corpus.repartition(repartition_to, F.col("repo"), F.col("path"))

    cat = sorted(catalog, key=lambda r: r["label_id"])
    mat = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in cat])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    label_ids = [r["label_id"] for r in cat]
    coarse = [r["coarse_type"] for r in cat]
    fine = [r["fine_type"] for r in cat]

    def _nerzo_extract_link(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                k: []
                for k in (
                    "mention_id", "repo", "path", "commit", "lang", "span_start",
                    "span_end", "surface", "text_id", "sha_ok",
                )
            }
            vecs: list[np.ndarray] = []
            for repo, path, commit, lang, content, sha in zip(
                pdf["repo"], pdf["path"], pdf["commit"], pdf["lang"],
                pdf["content"], pdf["content_sha256"],
            ):
                content = content or ""
                sha_ok = hashlib.sha256(content.encode("utf-8")).hexdigest() == sha
                text_id = hashlib.sha1(content.encode("utf-8")).hexdigest()
                for s, e, surf in propose_spans(content):
                    assert content[s:e] == surf  # reference invariant :110
                    left = content[max(0, s - LEFT_CTX):s]
                    right = content[e:e + RIGHT_CTX]
                    mid = "fnd_" + hashlib.sha1(
                        "".join([repo, path, commit, str(s), str(e), surf]).encode()
                    ).hexdigest()
                    out["mention_id"].append(mid)
                    out["repo"].append(repo)
                    out["path"].append(path)
                    out["commit"].append(commit)
                    out["lang"].append(lang)
                    out["span_start"].append(s)
                    out["span_end"].append(e)
                    out["surface"].append(surf)
                    out["text_id"].append(text_id)
                    out["sha_ok"].append(bool(sha_ok))
                    vecs.append(embed_span(surf, left, right)[2])

            if vecs:
                # asarray(list-of-f32, f64) == stack(...).astype(f64)
                # bit-for-bit (f32->f64 widening is exact) without the
                # intermediate f32 matrix + second copy (r7, guide §1.2)
                v = np.asarray(vecs, dtype=np.float64)
                v /= np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
                scores = v @ mat.T  # ONE GEMM per Arrow batch
                best = np.argmax(scores, axis=1)  # ties -> lowest label_id idx
                out["label_id"] = [label_ids[j] for j in best]
                out["coarse_type"] = [coarse[j] for j in best]
                out["fine_type"] = [fine[j] for j in best]
                out["score"] = scores[np.arange(len(best)), best].tolist()
            else:
                out["label_id"] = []
                out["coarse_type"] = []
                out["fine_type"] = []
                out["score"] = []
            yield pd.DataFrame(out)

    return corpus.mapInPandas(_nerzo_extract_link, schema=LINKED_SCHEMA)
