"""Broadcast cosine similarity top-k — the engine's join core (SURVEY.md §2.3).

The reference's entity-linking query scores EVERY stored vector against a
query vector with ``cosineSimilarity(...)+1.0`` over a *flat* (exact) index
and keeps the top-k (/root/reference/queries.py:218-230, consumed at
/root/reference/contrastive/fewnerd_retrieve_eval.py:65-92).  Flat index ==
exact brute force, so a broadcast GEMM is semantics-faithful, not an
approximation.

Physics: this is a broadcast nested-loop theta-join with top-k semantics.
The small side (label catalog / anchor set) is broadcast as a dense numpy
matrix inside the UDF closure; the big side streams through as Arrow batches
and each batch does ONE ``batch @ labels.T`` GEMM.  No shuffle at all for
top-1/top-k-per-row; ties broken by label_id for determinism
(reference tie-break ``sort: ["_score", ...]`` — fewnerd_retrieve_eval.py:74-76,
SURVEY.md §7.3).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from nerzo_spark.session import local_frame

LINK_SCHEMA = (
    "mention_id string, label_id string, coarse_type string, fine_type string, "
    "score double, rank int"
)


def topk_desc_stable(scores: np.ndarray, kk: int) -> np.ndarray:
    """Exact drop-in for ``np.argsort(-scores, axis=1, kind="stable")[:, :kk]``.

    argpartition is O(m) per row vs O(m log m) for the full stable sort —
    at m = 20k neighbors the sort dominated the whole kNN stage (measured
    10.1 s argsort vs 1.7 s GEMM per 3.3k-row batch).  Selection by
    argpartition is index-arbitrary among equal scores, so equality of the
    boundary value is detected per row and only those rows fall back to the
    full stable sort, in one vectorized ``argsort`` over all of them (a tie-
    heavy batch is no slower than a full sort); within the selected set,
    candidates are ordered index-ascending first so the stable score sort
    reproduces the index tie-break.  NaN scores are rejected: ``-nan`` sorts
    last in ``argsort`` but breaks the boundary test, so the two paths would
    disagree.
    """
    assert not np.isnan(scores).any(), "topk_desc_stable: NaN score"
    n, m = scores.shape
    if kk >= m:
        return np.argsort(-scores, axis=1, kind="stable")
    part = np.argpartition(-scores, kk - 1, axis=1)[:, :kk]
    rows = np.arange(n)[:, None]
    cand = np.sort(part, axis=1)  # index-ascending => stable sort ties by index
    cs = scores[rows, cand]
    order = np.argsort(-cs, axis=1, kind="stable")
    top = cand[rows, order]
    kth = scores[rows[:, 0], top[:, -1]]  # smallest selected score per row
    ambiguous = np.nonzero((scores >= kth[:, None]).sum(axis=1) > kk)[0]
    top[ambiguous] = np.argsort(-scores[ambiguous], axis=1, kind="stable")[:, :kk]
    return top


def blockwise_topk(
    v: np.ndarray,
    mat: np.ndarray,
    kk: int,
    self_pos: dict[int, int] | None = None,
    block: int = 4096,
) -> tuple[np.ndarray, np.ndarray]:
    """Top-kk of ``v @ mat.T`` per row by (score desc, column-index asc),
    WITHOUT materializing the full (n, m) score matrix.

    Equivalent to masking ``self_pos`` (query-row -> column) to -inf in the
    full matrix and running :func:`topk_desc_stable` — asserted by fuzz tests
    (tests/test_topk_internals.py).  Why blockwise (guide §1.2): the full
    matrix plus the selection's extra passes made the kNN stage memory-
    bandwidth-bound (sum-of-task CPU ~160 s for a 20k x 20k chunk while the
    GEMM itself needs ~35 s); column blocks keep each score slab cache-hot
    through selection.  Correctness of the merge: (score, index) is a strict
    total order, so the global top-kk is contained in the union of per-block
    top-min(kk, b); each block's selection breaks ties by local position ==
    global index order (blocks are contiguous slices).

    Returns (indices, scores), each (n, min(kk, m))."""
    n, m = v.shape[0], mat.shape[0]
    kk = min(kk, m)
    rows = np.arange(n)[:, None]
    best_s: np.ndarray | None = None
    best_i: np.ndarray | None = None
    for j0 in range(0, m, block):
        sj = v @ mat[j0 : j0 + block].T
        if self_pos:
            width = sj.shape[1]
            for r, j in self_pos.items():
                if j0 <= j < j0 + width:
                    sj[r, j - j0] = -np.inf
        kb = min(kk, sj.shape[1])
        bi = topk_desc_stable(sj, kb)
        bs = sj[rows, bi]
        gi = bi + j0
        if best_s is None:
            best_s, best_i = bs, gi
            continue
        cs = np.concatenate([best_s, bs], axis=1)
        ci = np.concatenate([best_i, gi], axis=1)
        # order candidates index-ascending so the stable score sort breaks
        # ties by global index, exactly like the full-matrix selection
        ordi = np.argsort(ci, axis=1, kind="stable")
        cs = np.take_along_axis(cs, ordi, axis=1)
        ci = np.take_along_axis(ci, ordi, axis=1)
        sel = np.argsort(-cs, axis=1, kind="stable")[:, :kk]
        best_s = np.take_along_axis(cs, sel, axis=1)
        best_i = np.take_along_axis(ci, sel, axis=1)
    assert best_i is not None
    return best_i, best_s


def link_topk(
    mentions: DataFrame,
    catalog: list[dict],
    emb_col: str = "emb",
    id_col: str = "mention_id",
    k: int = 1,
) -> DataFrame:
    """mentions(id, emb) x catalog -> (id, label_id, coarse, fine, score, rank).

    ``catalog`` is a small list of dicts {label_id, coarse_type, fine_type,
    emb: np.ndarray-like} — the broadcast side.  Rows are L2-normalized once
    per side so the GEMM *is* cosine.
    """
    # deterministic label order: by label_id (tie-break key)
    cat = sorted(catalog, key=lambda r: r["label_id"])
    mat = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in cat])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    label_ids = [r["label_id"] for r in cat]
    coarse = [r["coarse_type"] for r in cat]
    fine = [r["fine_type"] for r in cat]
    kk = min(k, len(cat))

    def _score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
            v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
            scores = v @ mat.T  # (batch, n_labels)
            # argsort desc with index (=label_id order) tie-break
            order = np.argsort(-scores, axis=1, kind="stable")[:, :kk]
            n = len(pdf)
            out = pd.DataFrame(
                {
                    "mention_id": pdf[id_col].to_numpy().repeat(kk),
                    "label_id": [label_ids[j] for row in order for j in row],
                    "coarse_type": [coarse[j] for row in order for j in row],
                    "fine_type": [fine[j] for row in order for j in row],
                    "score": scores[np.arange(n)[:, None], order].ravel(),
                    "rank": np.tile(np.arange(1, kk + 1), n).astype("int32"),
                }
            )
            yield out

    return mentions.select(id_col, emb_col).mapInPandas(_score, schema=LINK_SCHEMA)


# multiply-adds of scoring per query task: about 0.1 s of a core's GEMM and
# selection, against a Python task's fixed cost of about 0.06 s
_MACS_PER_TASK = 1 << 28


def _knn_schema(label_col: str | None) -> str:
    schema = "query_id long, neighbor_id long, score double, rank int"
    return schema + (", query_label int, neighbor_label int" if label_col else "")


def knn_self_join(
    vectors: DataFrame,
    k: int | Callable[[np.ndarray], int],
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    label_col: str | None = "label",
    chunk_rows: int = 200_000,
) -> DataFrame:
    """Exact k-NN all-pairs self-join, excluding self (SURVEY.md J2/P10) —
    the R-precision engine (/root/reference/contrastive/
    fewnerd_single_vector_r_precision.py:26-51, FAISS IndexFlatIP over
    L2-normalized vectors == brute-force cosine).

    Blocked broadcast implementation (no full-table driver collect): the
    right side is split into B = ceil(n / chunk_rows) deterministic chunks
    (``id % B``); each chunk is collected ONCE (bounded driver memory),
    broadcast, and scored against every query row with one GEMM per Arrow
    batch.  The union of per-chunk top-k is re-ranked per query with a
    window (global top-k is always contained in the union of per-chunk
    top-k).  Memory is bounded by chunk_rows on both driver and executors,
    so the same operator runs at corpus scale; with n <= chunk_rows it
    degenerates to the single-broadcast exact path with zero extra shuffle
    beyond the final per-query re-rank.

    ``k`` may instead be a function of the relayed labels (every row's
    ``label_col`` value, in no particular order) that returns k, for a k
    that depends on the class sizes (R-precision): the labels are on the
    driver anyway, so no action of the caller's has to fetch them.

    Determinism: ties broken by neighbor_id ascending (within a chunk via
    stable argsort over id-sorted rows; across chunks via the final window
    ORDER BY score DESC, neighbor_id ASC).

    Scale boundary (do NOT "fix" this into the hot path): each chunk is
    relayed through the driver once, so total driver traffic is O(n) and
    chunks are collected serially.  That is acceptable for an exact-kNN
    *evaluation* operator — exact kNN is O(n²) compute by definition, so the
    relay is never the asymptotic bottleneck — but corpus-scale similarity
    search must go through the candidate-generating paths instead:
    ``ann_lsh_bucketed`` (plans/catalog_vec.py) or the IVF probe
    (plans/catalog_ivf.py), which never move vectors through the driver.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    cols = [id_col, emb_col] + ([label_col] if label_col else [])
    src = vectors.select(*cols)
    # One bounded relay: at most chunk_rows + 1 rows reach the driver.  When
    # they all fit they are the only chunk and their number is n; only a
    # larger input is counted, and then relayed chunk by chunk below.
    head = src.limit(chunk_rows + 1).collect()
    n = len(head) if len(head) <= chunk_rows else src.count()
    if n == 0:  # empty input: zero-row result with the declared schema
        return local_frame(vectors.sparkSession, [], _knn_schema(label_col))
    n_chunks = max(1, -(-n // chunk_rows))
    # Parallelism repair (guide §2.5 input skew): vector tables often arrive
    # as one parquet row group, which pins the WHOLE O(n^2) scoring pass to a
    # single task regardless of split settings.  The query side is narrow
    # (id, vec, label), so a round-robin exchange is tiny next to the GEMM it
    # parallelizes, and it is made whatever the input's partitioning (reading
    # that needs a physical plan).  Scale-adaptive: one task per
    # _MACS_PER_TASK of scoring, up to 4 per core, so a task's GEMM outweighs
    # the fixed cost of a Python task; a pass smaller than that is one task
    # and needs no exchange at all.
    cores = max(vectors.sparkSession.sparkContext.defaultParallelism, 1)
    macs = n * min(n, chunk_rows) * len(head[0][emb_col])
    q_parts = max(1, min(-(-macs // _MACS_PER_TASK), 4 * cores, n))
    queries = src.coalesce(1) if q_parts == 1 else src.repartition(q_parts)
    if n_chunks == 1:
        relay = [head]
    else:
        # every chunk collect and every scorer pass re-reads the queries,
        # and the returned plan does too, so no scoped cache can hold them:
        # a lazy local checkpoint is materialized by the first chunk collect
        # and released by Spark's ContextCleaner together with the result.
        # Chunks by pmod(hash(id)): robust to negative ids (Spark's % keeps
        # the dividend sign, so `id % B == c` would silently drop them) and
        # to arithmetically-patterned ids (all multiples of B would collapse
        # into one chunk, restoring the unbounded collect blocking prevents)
        queries = queries.localCheckpoint(eager=False)
        relay = (
            queries.filter(F.pmod(F.hash(F.col(id_col)), F.lit(n_chunks)) == c).collect()
            for c in range(n_chunks)
        )

    out_schema = _knn_schema(label_col)
    sc = vectors.sparkSession.sparkContext

    def _scorer(bc, kk_cap):
        # rows scored per blockwise_topk call: bounds the transient score
        # slab at ROWS x block x 8 B (~134 MB) even when an Arrow batch
        # carries 65k rows (rows are independent, so slicing is free)
        ROWS = 4096

        def _knn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            ids, mat, labels = bc.value
            id_set = {int(i): j for j, i in enumerate(ids)}
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                v = np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                v = v / np.maximum(np.linalg.norm(v, axis=1, keepdims=True), 1e-12)
                # self-exclusion (P10): the query row may live in this chunk
                self_pos = {
                    r: id_set[int(qid)]
                    for r, qid in enumerate(pdf[id_col])
                    if int(qid) in id_set
                }
                kk = min(kk_cap, mat.shape[0])
                qid_all = pdf[id_col].to_numpy()
                lab_all = pdf[label_col].to_numpy() if labels is not None else None
                for r0 in range(0, len(pdf), ROWS):
                    r1 = min(r0 + ROWS, len(pdf))
                    sub_self = {
                        r - r0: j for r, j in self_pos.items() if r0 <= r < r1
                    }
                    top, sel = blockwise_topk(v[r0:r1], mat, kk, self_pos=sub_self)
                    nrow = r1 - r0
                    keep = np.isfinite(sel).ravel()
                    data = {
                        "query_id": qid_all[r0:r1].repeat(kk)[keep],
                        "neighbor_id": ids[top].ravel()[keep],
                        "score": sel.ravel()[keep],
                        "rank": np.tile(np.arange(1, kk + 1), nrow).astype("int32")[keep],
                    }
                    if labels is not None:
                        data["query_label"] = lab_all[r0:r1].repeat(kk)[keep]
                        data["neighbor_label"] = labels[top].ravel()[keep]
                    yield pd.DataFrame(data)

        return _knn

    chunks = []
    for rows in relay:
        if not rows:
            continue
        rows.sort(key=lambda r: r[id_col])
        ids = np.array([r[id_col] for r in rows])
        mat = np.stack([np.asarray(r[emb_col], dtype=np.float64) for r in rows])
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        labels = np.array([r[label_col] for r in rows]) if label_col else None
        chunks.append((sc.broadcast((ids, mat, labels)), len(rows), labels))
    if callable(k):
        k = k(np.concatenate([labels for _, _, labels in chunks]))
    # per-chunk k must cover the global k even if all top-k live here;
    # +1 headroom for the self row masked to -inf
    parts = [
        queries.mapInPandas(_scorer(bc, min(k + 1, m)), schema=out_schema)
        for bc, m, _ in chunks
    ]
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    if n_chunks == 1:
        return union.filter(F.col("rank") <= k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        union.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
