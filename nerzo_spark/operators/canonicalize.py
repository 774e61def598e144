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
   another surface ("hot") can merge;
2. hot subgraph fits on the driver (`driver_limit`): collect it WITH its
   precomputed keys, exact union-find in Python (dict ops only), broadcast
   the mapping back;
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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nerzo_spark.functions.hashing import ent_id
from nerzo_spark.functions.text import norm_key, normalize_surface, squash, squash_key


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


def canonicalize_surfaces(
    typed_surfaces: DataFrame,
    max_iter: int = 12,
    loop_partitions: int = 32,
    driver_limit: int = 500_000,
    bucket_broadcast_bytes: int = 32 << 20,
) -> DataFrame:
    """typed_surfaces(fine_type, surface) -> (fine_type, surface, canonical,
    entity_id).  Deterministic: canonical = lexicographic min k1 in cluster."""
    distinct_surfaces = typed_surfaces.select("fine_type", "surface").distinct()
    overrides = canonical_overrides(
        typed_surfaces, max_iter=max_iter, loop_partitions=loop_partitions,
        driver_limit=driver_limit,
        bucket_broadcast_bytes=bucket_broadcast_bytes,
    )
    return resolve_entities(distinct_surfaces, overrides)


def _collision_semi_join(
    all_edges: DataFrame,
    collision_buckets: DataFrame,
    est_bytes: int,
    limit_bytes: int,
) -> DataFrame:
    """Keep only edges in multi-member buckets.  Broadcasts the bucket list
    when its estimated in-memory size fits ``limit_bytes`` (collision buckets
    are hot-subgraph-sized — tiny in the designed regime); falls back to a
    shuffle semi-join when the estimate says the broadcast could pressure
    the driver (unbounded-surface regime).  Split out so the gate's two
    physical shapes are plan-assertable (tests/test_canonicalize_paths.py)."""
    buckets = collision_buckets.select("bucket")
    if est_bytes <= limit_bytes:
        buckets = F.broadcast(buckets)
    return all_edges.join(buckets, "bucket", "left_semi")


def canonical_overrides(
    typed_surfaces: DataFrame,
    max_iter: int = 12,
    loop_partitions: int = 32,
    driver_limit: int = 500_000,
    already_distinct: bool = False,
    bucket_broadcast_bytes: int = 32 << 20,
) -> DataFrame:
    """The MINIMAL canonicalization mapping: (fine_type, surface, canonical)
    ONLY for surfaces whose cluster canonical differs from their own
    normalized key.  Everything else follows the default rule
    canonical = norm_key(surface) — so consumers join a broadcast-sized
    override table instead of shuffling a distinct-surface-sized one
    (measured: forcing the full entity table through a mention-scale join
    cost +20s at 800k files)."""
    spark = typed_surfaces.sparkSession
    # ``already_distinct``: callers holding a pre-distincted (fine_type,
    # surface) table (pipeline/kg.py's assemble_kg shares one persisted
    # copy) skip a redundant surface-scale shuffle here.
    distinct_surfaces = typed_surfaces.select("fine_type", "surface")
    if not already_distinct:
        distinct_surfaces = distinct_surfaces.distinct()

    # Normalization keys are ALWAYS computed distributed (Spark regex
    # exprs): running norm_key() on the driver over the distinct-surface set
    # was the pipeline's largest sequential cost (~20 s at 800k files,
    # core-count-invariant).  The driver only ever union-finds the HOT
    # subgraph (surfaces sharing a bucket) with keys precomputed.
    nodes = (
        distinct_surfaces
        .withColumn("k1", normalize_surface(F.col("surface")))
        .withColumn("k2", squash_key(F.col("surface")))
        .withColumn("node_id", F.sha1(F.concat_ws("|", "fine_type", "surface")))
    )

    # per-row array_distinct (k1 bucket == k2 bucket for separator-free
    # surfaces) — NOT a shuffle-wide distinct; node_id is already unique.
    # Node payload rides WITH the edge so the hot subgraph needs no join
    # back to `nodes` (round-1 shape cost 3 shuffles + 2 checkpoints here).
    all_edges = nodes.select(
        "node_id", "fine_type", "surface", "k1", "k2",
        F.explode(
            F.array_distinct(
                F.array(
                    F.concat_ws("#", F.col("fine_type"), F.lit("k1"), F.col("k1")),
                    F.concat_ws("#", F.col("fine_type"), F.lit("k2"), F.col("k2")),
                )
            )
        ).alias("bucket"),
    )

    # singleton short-circuit: only nodes sharing a bucket can merge.
    # Round 3 used count() OVER (PARTITION BY bucket) — a full sort-window
    # shuffle of ALL edge rows (2x distinct surfaces).  Measured at 1.6M
    # files on the 4-executor rig it ANTI-scaled (5.9 s at 1 exec -> 18.9 s
    # at 4: the cross-executor shuffle+sort of ~1.7M rows swamped the
    # compute).  v4: a hash aggregate with MAP-SIDE partial counts (only
    # (bucket, partial-count) pairs cross executors) finds the collision
    # buckets — a table bounded by the HOT subgraph, small by construction
    # (the whole design rests on collisions being rare; Path 3 exists for
    # the rest) — and a semi-join keeps multi-member buckets without ever
    # shuffling or sorting the edge rows.
    # v5 (ADVICE r4): the aggregate is localCheckpointed EAGERLY so it runs
    # exactly once — the old shape re-ran it for Path 3's hot_edges
    # checkpoint — and its (count, sum bn, sum octet_length) stats drive
    # BOTH decisions: the Path-1/Path-3 split (sum bn >= hot node count, so
    # sum bn <= driver_limit guarantees the driver collect is bounded —
    # replaces the limit(driver_limit+1) probe job) and the broadcast gate.
    # v6 (ADVICE r5): the gate is BYTE-denominated, not row-count: bucket
    # keys embed normalized surfaces of unbounded length, so a row limit
    # admitted anywhere from ~60 MB to several hundred MB.  The checkpointed
    # stats carry sum(octet_length(bucket)) for free; the estimate adds
    # ~32 B/row of UnsafeRow + hash-relation overhead.  Oversized tables
    # fall back to a shuffle semi-join (explicit F.broadcast would bypass
    # autoBroadcastJoinThreshold and could blow the driver / 8 GB cap).
    # r7 (guide §1.2): persist the edge table for the duration of this
    # builder — the collision-stats job below materializes it, and the
    # hot-subgraph semi-join re-reads it; without the cache the
    # normalize/squash regex projection over every distinct surface ran
    # TWICE.  Surface-scale (2 rows per distinct surface), unpersisted on
    # every exit path.
    from pyspark.storagelevel import StorageLevel

    all_edges = all_edges.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        collision_stats = (
            all_edges.groupBy("bucket")
            .agg(F.count("*").alias("bn"))
            .filter(F.col("bn") > 1)
            .localCheckpoint()
        )
        st = collision_stats.agg(
            F.count("*").alias("n_buckets"),
            F.coalesce(F.sum("bn"), F.lit(0)).alias("hot_edge_rows"),
            F.coalesce(F.sum(F.octet_length("bucket")), F.lit(0)).alias("bucket_bytes"),
        ).collect()[0]
        hot_edges = _collision_semi_join(
            all_edges,
            collision_stats,
            est_bytes=int(st["bucket_bytes"]) + 32 * int(st["n_buckets"]),
            limit_bytes=bucket_broadcast_bytes,
        )
        # Path 1/2: collision subgraph fits on the driver — union-find it
        # there (exact, 1 round-trip); keys come precomputed from the
        # cluster, so the driver does dict ops only, no regex.
        # hot_edge_rows bounds the node count from above (each hot node
        # contributes >=1 collision-bucket membership), so the collect is
        # driver-safe by construction.
        on_driver = driver_limit > 0 and st["hot_edge_rows"] <= driver_limit
        if on_driver:
            rows = hot_edges.select(
                "node_id", "fine_type", "surface", "k1", "k2"
            ).dropDuplicates(["node_id"]).collect()
        else:
            # Path 3 checkpoints HERE (Path 1's single collect needs no
            # reuse): the loop reads the edges every iteration and must not
            # re-run the key-regex projection + collision semi-join each
            # round (the bucket aggregation above runs once).
            hot_edges = hot_edges.localCheckpoint()
    finally:
        # surface-scale cache; released on every exit path, exceptions
        # included, before the driver union-find or the propagation loop
        all_edges.unpersist()

    if on_driver:
        mapping = _driver_union_find(
            [(r["fine_type"], r["surface"]) for r in rows],
            keys=[(r["k1"], r["k2"]) for r in rows],
        )
        k1_of = {(r["fine_type"], r["surface"]): r["k1"] for r in rows}
        overrides = [
            (ft, s, c) for ft, s, c in mapping if c != k1_of[(ft, s)]
        ]
        import pandas as pd

        # Arrow-path createDataFrame (plain parallelize costs a cold
        # 4-9 s RDD job for even a 3k-row table)
        return spark.createDataFrame(
            pd.DataFrame(
                overrides, columns=["fine_type", "surface", "canonical"]
            ).astype(str)
            if overrides
            else pd.DataFrame(
                {"fine_type": pd.Series(dtype=str),
                 "surface": pd.Series(dtype=str),
                 "canonical": pd.Series(dtype=str)}
            ),
            schema="fine_type string, surface string, canonical string",
        )

    # Path 3: distributed min-label propagation over the hot subgraph
    # (singleton buckets dropped above contribute only a node's own label
    # to the bucket-min — removing them cannot change any fixpoint label).
    hot = hot_edges.select(
        "node_id", "fine_type", "surface", "k1", "k2"
    ).dropDuplicates(["node_id"])
    edges = hot_edges.select("node_id", "bucket")
    labels = (
        hot.repartition(loop_partitions, "node_id")
        .select("node_id", F.col("k1").alias("label"))
        .localCheckpoint()
    )

    changed = 0  # defined even when max_iter == 0 (loop body never runs)
    for it in range(max_iter):
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
        if it % 2 == 1 or it == max_iter - 1:
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
        # loop exhausted max_iter with the final convergence check non-zero:
        # clusters with diameter > max_iter would get canonicals that
        # disagree with the exact union-find — fail loudly, never silently
        if changed > 0:
            raise RuntimeError(
                f"canonicalize: min-label propagation did not converge in "
                f"{max_iter} rounds ({changed} labels still changing); "
                f"raise max_iter (cluster diameter exceeds it)"
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
