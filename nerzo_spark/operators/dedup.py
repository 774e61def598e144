"""MinHash-LSH near-duplicate pair generation with a band-size skew guard.

Scale shape (SURVEY.md LLM-pipeline ops; reference has no dedup — this is
the training-data-pipeline extension): candidates come from a band
equi-join — shuffle on the band key, NEVER an all-pairs product.  The one
remaining 100 TB hazard is a DEGENERATE BAND: M near-identical docs sharing
a band produce M(M-1)/2 candidate rows inside one join bucket (a quadratic
skew bomb no AQE split can fix, since it is real output volume, not
partition imbalance).  Guard: size each band with a window count over the
band key (operators/skew.py) and EXCLUDE bands larger than ``BAND_CAP``
from pairing.  The window's exchange on the band is the one the candidate
self-join reads on both sides, and the drop is observed in-plan and
reported as a record (no silent caps, no extra job).  Docs in a dropped
band are near-exact duplicates by construction — the exact-dedup operator
(md5 groupBy, catalog_text.py dedup_exact_groups) already clusters those at
linear cost, so nothing is lost end-to-end.

One implementation, :func:`minhash_lsh_pairs_rowform`: signatures and set
sizes are per-row array expressions over one row per doc.  Its independent
reference is the DuckDB oracle registered for ``dedup_minhash_lsh_pairs``
(plans/catalog_text.py), which tests/test_scale_guards.py runs over the
tests' own rows.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nerzo_spark.operators.skew import capped_keys, watch

# a verified pair's least Jaccard, and the most docs a band may hold before
# the guard drops it; the oracle of ``dedup_minhash_lsh_pairs``
# (plans/catalog_text.py) states both in its SQL
THRESHOLD = 0.5
BAND_CAP = 64


def _bands_of(sig: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, carry...], band) — TWO band rows per doc from one pass over
    the signature table (r7, guide §1.2: the previous union-of-two-selects
    evaluated the signature aggregation once per branch; explode emits the
    identical multiset from a single pass)."""
    return sig.select(
        "doc_id",
        *carry,
        F.explode(
            F.array(
                F.md5(F.concat("mh0", "mh1")), F.md5(F.concat("mh2", "mh3"))
            )
        ).alias("band"),
    )


def minhash_lsh_pairs_rowform(
    doc_sh: DataFrame,
    explode_shingles: Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """Banded LSH candidate generation + exact-Jaccard verification.

    Returns (id_a, id_b, jaccard) for verified pairs with J >= THRESHOLD,
    considering only bands with <= BAND_CAP member docs (skew guard above),
    as one lazy plan: building it runs nothing and holds no cache.  The
    guard's record (``guard="minhash_lsh_pairs_rowform"``) is read with
    :func:`~nerzo_spark.operators.skew.guard_records` on the returned frame
    once an action has run it.

    ``doc_sh``: (doc_id, sh ARRAY<STRING>) — ONE row per doc carrying its
    DISTINCT shingle array.  Signatures and set sizes become per-row array
    expressions (``array_min(transform(...))`` == groupBy-min over the
    exploded table, ``size(sh)`` == exploded count), so the shingle table is
    never exploded corpus-wide and never shuffled; only CANDIDATE docs (docs
    in a kept band with a second member) are exploded for the exact-Jaccard
    verify — candidate-scale, not corpus-scale.  Outputs match the DuckDB
    oracle of ``dedup_minhash_lsh_pairs`` bit-for-bit
    (tests/test_scale_guards.py, including an active band-cap drop).

    ``explode_shingles``: ``(cand_ids_df) -> (doc_id, s)``, the exploded
    distinct shingles of the candidate docs only (the ``doc_id`` column of
    ``cand_ids_df``).  Its explode sits directly over the source projection
    (see catalog_text._explode_shingles): exploding ``doc_sh``'s aliased
    ``sh`` column would let CollapseProject inline the array-building
    expression into the Generate and re-evaluate it per element (measured
    54 s vs 1.6 s at sf1.0)."""
    base = doc_sh.select(
        "doc_id",
        F.size("sh").alias("n"),
        *[
            F.expr(
                f"array_min(transform(sh, s -> md5(concat('{j}|', s))))"
            ).alias(f"mh{j}")
            for j in range(4)
        ],
    )
    observed, kept, guard = capped_keys(
        _bands_of(base, carry=("n",)), ["band"], BAND_CAP, "minhash_lsh_pairs_rowform"
    )
    cand = (
        observed.alias("a")
        .join(
            kept.alias("b"),
            (F.col("a.band") == F.col("b.band")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("a.n").alias("na"),
            F.col("b.doc_id").alias("id_b"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # the docs of some candidate pair, read off the same band exchange; n
    # rides along (it is a function of doc_id) so that this read needs the
    # same columns as the join's and Spark reuses the exchange
    cand_ids = kept.filter(F.col("cnt") >= 2).select("doc_id", "n").distinct()
    cand_sh = explode_shingles(cand_ids)
    inter = (
        cand.join(cand_sh.alias("x"), F.col("x.doc_id") == F.col("id_a"))
        .join(
            cand_sh.alias("y"),
            (F.col("y.doc_id") == F.col("id_b")) & (F.col("y.s") == F.col("x.s")),
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    pairs = (
        inter.withColumn("jaccard", F.round(jac, 6))
        # filter on the SAME rounded expression that is returned, so no
        # emitted row can display a jaccard below the threshold
        .filter(F.col("jaccard") >= THRESHOLD)
        .select("id_a", "id_b", "jaccard")
    )
    return watch(pairs, guard)
