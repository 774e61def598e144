"""Canonicalization: cluster surface-form variants into canonical entity ids
(north rule; SURVEY.md §4 item 3, §7.1 M3).

Reference analogs: surface normalization rules
(/root/reference/pocs/poc_fewnerd_extraction.py:14-27, entity_classifier.py:3)
and prefix-bucket grouping (/root/reference/group_layers.py:38-50).

Semantics — connected components over a bipartite (surface, bucket) graph:

- nodes    = distinct (fine_type, surface) pairs — tiny relative to mentions;
- buckets  = two deterministic keys per node: k1 = normalized surface,
  k2 = separator-squashed k1 (links `parse_config` <-> `parseconfig`);
- cluster  = connected component; canonical = lexicographic min k1 in it.

Size-aware execution (the AQE-style decision, explicit):

1. normalization keys + bucket collisions are ALWAYS computed distributed
   (Spark regex exprs) — driver-side norm_key() over the distinct-surface
   set was measured as a ~20 s core-count-invariant sequential cost at 800k
   files; singleton short-circuit: only surfaces sharing a bucket with
   another surface ("hot") can merge, found by a window count on the
   bucket exchange;
2. hot subgraph fits on the driver (`driver_limit` edge rows): one bounded
   collect (``limit(driver_limit + 1)``) fetches it WITH its precomputed
   keys, exact union-find in Python (dict ops only), broadcast the mapping
   back;
3. else full distributed min-label propagation: iterate
   label(node) <- min over buckets of min over members until fixpoint
   (O(cluster diameter) rounds; fixture plants >=3-hop chains).  Loop joins
   pinned to shuffle_hash — AQE would otherwise rebroadcast the label table
   through the driver every iteration (measured 15x slower);
   ``localCheckpoint`` per round truncates the iterative-lineage blowup
   (SURVEY.md §7.3).

All three paths produce identical clusters (tests/test_canonicalize_paths.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nerzo_spark.functions.hashing import ent_id
from nerzo_spark.functions.text import norm_key, normalize_surface, squash, squash_key
from nerzo_spark.session import local_frame

# distributed path: most propagation rounds (a cluster of larger diameter
# fails loudly) and the label table's partitions in the loop
MAX_ITER = 12
LOOP_PARTITIONS = 32


def _driver_union_find(
    pairs: list[tuple[str, str]],
    keys: list[tuple[str, str]] | None = None,
) -> list[tuple[str, str, str]]:
    """Exact CC on (fine_type, surface) pairs -> (fine_type, surface,
    canonical).  Python twin of the distributed propagation (same keys).

    ``keys``: optional precomputed (k1, k2) per pair — at scale the
    normalization regexes are evaluated DISTRIBUTED (Spark column exprs,
    normalize_surface/squash_key) and only the strings land here; running
    norm_key() on the driver over 10^5+ surfaces was measured as the single
    largest sequential cost of the whole pipeline (~20 s at 800k files,
    identical at every core count — an Amdahl bomb)."""
    if keys is None:
        order = sorted(range(len(pairs)), key=lambda i: pairs[i])
        pairs = [pairs[i] for i in order]
        keys = [(norm_key(s), squash(s)) for _, s in pairs]
    else:
        order = sorted(range(len(pairs)), key=lambda i: pairs[i])
        pairs = [pairs[i] for i in order]
        keys = [keys[i] for i in order]
    # dedupe (keep first occurrence; pairs sorted so deterministic)
    seen: set[tuple[str, str]] = set()
    dedup_pairs, dedup_keys = [], []
    for p, k in zip(pairs, keys):
        if p not in seen:
            seen.add(p)
            dedup_pairs.append(p)
            dedup_keys.append(k)
    pairs, keys = dedup_pairs, dedup_keys
    parent = {p: p for p in pairs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    k1_of = {p: k[0] for p, k in zip(pairs, keys)}
    first_in_bucket: dict[tuple[str, str], tuple[str, str]] = {}
    for (ft, s), (k1, k2) in zip(pairs, keys):
        for key in ((ft, "k1:" + k1), (ft, "k2:" + k2)):
            other = first_in_bucket.get(key)
            if other is None:
                first_in_bucket[key] = (ft, s)
            else:
                union(other, (ft, s))

    cluster_min: dict[tuple[str, str], str] = {}
    for p in pairs:
        r = find(p)
        k1 = k1_of[p]
        if r not in cluster_min or k1 < cluster_min[r]:
            cluster_min[r] = k1
    return [(ft, s, cluster_min[find((ft, s))]) for ft, s in pairs]


def canonical_expr(fine_type, surface, override_canonical):
    """Column expression: canonical = override (hot cluster) else the
    surface's own normalized key — the default-rule half of the mapping."""
    return F.coalesce(override_canonical, normalize_surface(surface))


def resolve_entities(surfaces: DataFrame, overrides: DataFrame) -> DataFrame:
    """DISTINCT (fine_type, surface) + :func:`canonical_overrides` output ->
    (fine_type, surface, canonical, entity_id)."""
    canonical = canonical_expr(F.col("fine_type"), F.col("surface"), F.col("canonical"))
    return surfaces.join(
        F.broadcast(overrides), ["fine_type", "surface"], "left"
    ).select(
        "fine_type",
        "surface",
        canonical.alias("canonical"),
        ent_id(F.col("fine_type"), canonical).alias("entity_id"),
    )


def canonical_overrides(surfaces: DataFrame, driver_limit: int = 500_000) -> DataFrame:
    """The MINIMAL canonicalization mapping: (fine_type, surface, canonical)
    ONLY for surfaces whose cluster canonical differs from their own
    normalized key.  Everything else follows the default rule
    canonical = norm_key(surface) — so consumers join a broadcast-sized
    override table instead of shuffling a distinct-surface-sized one
    (measured: forcing the full entity table through a mention-scale join
    cost +20s at 800k files).

    ``surfaces``: (fine_type, surface) rows, distinct as assemble_kg's
    shared aggregate is; a repeated row changes nothing (the union-find and
    the hot-node ``dropDuplicates`` collapse it), it only costs work."""
    spark = surfaces.sparkSession

    # Normalization keys are ALWAYS computed distributed (Spark regex
    # exprs): running norm_key() on the driver over the distinct-surface set
    # was the pipeline's largest sequential cost (~20 s at 800k files,
    # core-count-invariant).  The driver only ever union-finds the HOT
    # subgraph (surfaces sharing a bucket) with keys precomputed.
    nodes = (
        surfaces.select("fine_type", "surface")
        .withColumn("k1", normalize_surface(F.col("surface")))
        .withColumn("k2", squash_key(F.col("surface")))
        .withColumn("node_id", F.sha1(F.concat_ws("|", "fine_type", "surface")))
    )

    # two edges per node, one per bucket key; the "k1"/"k2" tags keep the
    # two bucket strings distinct.  Node payload rides WITH the edge so the
    # hot subgraph needs no join back to `nodes` (round-1 shape cost 3
    # shuffles + 2 checkpoints here).
    all_edges = nodes.select(
        "node_id", "fine_type", "surface", "k1", "k2",
        F.explode(
            F.array(
                F.concat_ws("#", F.col("fine_type"), F.lit("k1"), F.col("k1")),
                F.concat_ws("#", F.col("fine_type"), F.lit("k2"), F.col("k2")),
            )
        ).alias("bucket"),
    )

    # singleton short-circuit: only nodes sharing a bucket can merge.  A
    # window count on the bucket exchange keeps the edges of multi-member
    # buckets in one pass (the operators/skew.py shape).  It shuffles every
    # edge row: in one JVM that is a local exchange, but round 3 measured
    # it anti-scaling across 4 executors, where the rows crossed machines.
    hot_edges = (
        all_edges.withColumn("bn", F.count("*").over(Window.partitionBy("bucket")))
        .filter(F.col("bn") > 1)
        .drop("bn")
    )

    # Path 1/2: the collision subgraph fits on the driver — union-find it
    # there (exact); keys come precomputed from the cluster, so the driver
    # does dict ops only, no regex.  ONE bounded action decides and fetches:
    # at most driver_limit + 1 hot edge rows come back, and the driver path
    # is taken when the subgraph has at most driver_limit of them (each hot
    # node has >= 1 hot edge, so that also bounds the node count).
    if driver_limit > 0:
        rows = hot_edges.select(
            "node_id", "fine_type", "surface", "k1", "k2"
        ).limit(driver_limit + 1).collect()
        if len(rows) <= driver_limit:
            mapping = _driver_union_find(
                [(r["fine_type"], r["surface"]) for r in rows],
                keys=[(r["k1"], r["k2"]) for r in rows],
            )
            k1_of = {(r["fine_type"], r["surface"]): r["k1"] for r in rows}
            overrides = [
                (ft, s, c) for ft, s, c in mapping if c != k1_of[(ft, s)]
            ]
            return local_frame(
                spark, overrides, "fine_type string, surface string, canonical string"
            )

    # Path 3: distributed min-label propagation over the hot subgraph
    # (singleton buckets dropped above contribute only a node's own label
    # to the bucket-min — removing them cannot change any fixpoint label).
    # The loop reads the edges every round: checkpoint them once so the
    # key-regex projection and the bucket window do not re-run per round.
    hot_edges = hot_edges.localCheckpoint()
    hot = hot_edges.select(
        "node_id", "fine_type", "surface", "k1", "k2"
    ).dropDuplicates(["node_id"])
    edges = hot_edges.select("node_id", "bucket")
    labels = (
        hot.repartition(LOOP_PARTITIONS, "node_id")
        .select("node_id", F.col("k1").alias("label"))
        .localCheckpoint()
    )

    changed = 0
    for it in range(MAX_ITER):
        bucket_min = (
            edges.hint("shuffle_hash")
            .join(labels.hint("shuffle_hash"), "node_id")
            .groupBy("bucket")
            .agg(F.min("label").alias("bucket_label"))
        )
        new_labels = (
            edges.hint("shuffle_hash")
            .join(bucket_min.hint("shuffle_hash"), "bucket")
            .groupBy("node_id")
            .agg(F.min("bucket_label").alias("label"))
            .localCheckpoint()
        )
        # convergence checked every 2 rounds: each count is a full job, the
        # dominant fixed cost of the loop
        if it % 2 == 1 or it == MAX_ITER - 1:
            changed = (
                new_labels.alias("n")
                .hint("shuffle_hash")
                .join(labels.alias("o").hint("shuffle_hash"), "node_id")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            if changed == 0:
                labels = new_labels
                break
        labels = new_labels
    else:
        # loop exhausted MAX_ITER with the final convergence check non-zero:
        # clusters with diameter > MAX_ITER would get canonicals that
        # disagree with the exact union-find — fail loudly, never silently
        if changed > 0:
            raise RuntimeError(
                f"canonicalize: min-label propagation did not converge in "
                f"{MAX_ITER} rounds ({changed} labels still changing); raise "
                f"operators.canonicalize.MAX_ITER (cluster diameter exceeds it)"
            )

    # hot nodes whose propagated label differs from their own k1.
    # localCheckpoint HERE (not in callers): Path 1 returns a driver-local
    # Arrow DataFrame that is free to re-execute per consumer, but this
    # Path-3 plan is a join over loop state — checkpoint once so the 4+
    # downstream consumers don't each re-run it (and so callers never need
    # their own blanket checkpoint, which for Path 1 was a wasted job).
    return (
        hot.join(labels, "node_id")
        .filter(F.col("label") != F.col("k1"))
        .select("fine_type", "surface", F.col("label").alias("canonical"))
        .localCheckpoint()
    )
