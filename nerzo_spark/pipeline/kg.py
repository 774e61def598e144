"""End-to-end KG-construction pipeline (north star).

corpus(repo, path, commit, lang, content, content_sha256)
  -> detect mentions (mapInPandas, content dies here)
  -> embed mentions (Arrow-batched hashing embedder; GPU slot in prod)
  -> link to broadcast label catalog (cosine top-1 GEMM)
  -> canonicalize surface forms (iterative min-label propagation)
  -> triples (subj, pred, obj, provenance)
plus per-partition lineage rows (rows in/out, sha256-invariant check, wall ms).

Predicates (SURVEY.md §7.0): (entity typed_as label), (fine subtype_of coarse),
(mention links_to entity), (entity defined_in repo/path@commit).

Scale notes
-----------
- ``repartition(N, repo, path)`` before detection: one mega-repo holds ~30%
  of fixture rows (FIXTURES.md §1); hashing on (repo, path) — not repo —
  spreads it.  AQE skew-join + coalescing enabled in session.py.
- label catalog is driver-side tiny (8 rows here; thousands in prod) and is
  broadcast into the scoring UDF as a dense matrix — never shuffled.
- canonicalization iterates over DISTINCT (fine_type, surface), orders of
  magnitude smaller than mentions.
- triples are built from mention-sized tables with ONE distinct over a
  tagged key table of the three deduplicated predicate families (one hash
  aggregate, spillable); the same key table gives the triples' count.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Iterator
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nerzo_spark.embed.embedder import embed_span
from nerzo_spark.fixtures.labels import label_rows
from nerzo_spark.operators.extract_link import extract_and_link
from nerzo_spark.session import cached, local_frame


@dataclass
class KGResult:
    """The in-memory KG.  It holds two caches: the mention table
    (``mentions``) and the surface aggregate the entities and triples plans
    read.  ``close()`` (or leaving a ``with`` block)
    releases them; the plans stay valid and recompute on their next action.
    A result that is never closed, even once garbage-collected, keeps its
    caches until the session's ``clearCache()``."""

    mentions: DataFrame
    entities: DataFrame
    triples: DataFrame
    lineage: DataFrame
    # lazy 1-row (n_triples long) plan == triples.count(), also read by the
    # lineage 'triples' row; uncached: a 1-row cache costs a job of its own
    # on first use
    triples_count: DataFrame
    # count of the materialized mention table (the extract+link action the
    # pipeline already runs) — links_to arm cardinality, free to reuse
    n_mentions: int = 0
    caches: ExitStack = field(default_factory=ExitStack, repr=False)

    def close(self) -> None:
        self.caches.close()

    def __enter__(self) -> KGResult:
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def build_label_catalog(anchor_rows: list[dict] | DataFrame) -> list[dict]:
    """Label embeddings = centroid of the pinned anchor mentions' embeddings
    (anchor scheme of /root/reference/contrastive/fewnerd_processor.py:155-199;
    identity-embedding trick of step_generate_ne_embedding.py:144-147).

    Anchors are a dimension-sized fixture carrying (surface, contexts), so
    the catalog is built entirely driver-side (the reference's get-by-id
    point lookup, dataset_provider.py:175-177) — zero cluster jobs; the
    result is broadcast into the scoring UDF as a dense matrix.  A
    (dimension-sized) DataFrame of anchor rows is collected first.
    """
    if isinstance(anchor_rows, DataFrame):
        anchor_rows = [r.asDict() for r in anchor_rows.collect()]
    by_type: dict[str, list] = {}
    for a in anchor_rows:
        vec = embed_span(a["surface"], a.get("left_ctx", ""), a.get("right_ctx", ""))[2]
        by_type.setdefault(a["fine_type"], []).append(np.asarray(vec, dtype=np.float64))
    catalog = []
    for lr in label_rows():
        vecs = by_type.get(lr["fine_type"])
        if not vecs:
            continue
        c = np.mean(vecs, axis=0)
        n = np.linalg.norm(c)
        catalog.append({**lr, "emb": (c / n if n > 0 else c)})
    return catalog


def corpus_duplicate_files(corpus: DataFrame) -> DataFrame:
    """The (repo, path, commit) keys that appear on MORE than one corpus
    row, with their counts; empty means every file is one row.  A duplicate
    corpus row is extracted twice, so its mentions and ``links_to`` triples
    are doubled.  FILE-scale work (one partial-agg groupBy over the corpus
    table, collapsing map-side to per-partition distinct keys): run it once
    when ingesting a corpus of unknown provenance (``jobs/run_kg.py
    --corpus`` does), not inside the timed pipeline — the fixture generator
    and the incremental path's dynamic-partition overwrite guarantee
    uniqueness by construction, so the hot path never pays for it."""
    return (
        corpus.groupBy("repo", "path", "commit")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def build_triples(
    typed: DataFrame, overrides: DataFrame, catalog: list[dict],
    surfaces: DataFrame, n_links: int,
) -> tuple[DataFrame, DataFrame]:
    """(typed mentions, canonical overrides) -> (subj, pred, obj, provenance),
    and its count.

    Shuffle economics: the entity id of a mention is a COLUMN EXPRESSION —
    ``ent_id(fine_type, coalesce(override, norm_key(surface)))`` — joined
    only against the broadcast-sized override table (surfaces whose cluster
    canonical differs from their own key; the hot minority).  The
    distinct-surface-sized entity table never shuffles against mentions.

    ``links_to`` is one row per mention, not deduplicated.  The other three
    families come from ONE tagged key table ``(pred, subj, a, b, c)`` and
    one ``distinct`` over it (one hash aggregate, one shuffle, of which only
    the ``defined_in`` keys are mention-scale):

    - ``defined_in``: (entity_id, repo, path, commit) of the typed mentions;
    - ``typed_as``: (entity_id, fine_type) of the surface entities;
    - ``subtype_of``: (fine_type) of the surfaces.

    ``surfaces`` is the DISTINCT (fine_type, surface) table assemble_kg
    shares across overrides, entities and triples, so the last two are
    surface-scale.  Every surface yields an entity of its own fine type, so
    the fine types among entities are those among surfaces.  Both keep only
    the catalog's fine types, and their objects are map-literal lookups
    built from ``catalog``: no label frame, no broadcast (a broadcast of a
    driver-built frame is a Spark job of its own).  The provenance string
    is built after the shuffle: obj is a function of (repo, path, commit).

    The count is a lazy one-row ``n_triples`` plan equal to
    ``triples.count()``: the key table's rows plus ``n_links``, the mention
    count the caller already has.
    """
    from nerzo_spark.functions.hashing import ent_id
    from nerzo_spark.operators.canonicalize import canonical_expr

    def with_entity(df: DataFrame) -> DataFrame:
        canonical = canonical_expr(F.col("fine_type"), F.col("surface"), F.col("canonical"))
        return df.join(F.broadcast(overrides), ["fine_type", "surface"], "left").withColumn(
            "entity_id", ent_id(F.col("fine_type"), canonical)
        )

    slots = ("subj", "a", "b", "c")

    def keys(pred: str, df: DataFrame, *cols: str) -> DataFrame:
        return df.select(
            F.lit(pred).alias("pred"),
            *[F.col(c).alias(s) for c, s in zip(cols, slots)],
            *[F.lit(None).cast("string").alias(s) for s in slots[len(cols):]],
        )

    typed_e = with_entity(typed)
    labelled = surfaces.filter(F.col("fine_type").isin([c["fine_type"] for c in catalog]))
    key_table = (
        keys("defined_in", typed_e, "entity_id", "repo", "path", "commit")
        .union(keys("typed_as", with_entity(labelled), "entity_id", "fine_type"))
        .union(keys("subtype_of", labelled, "fine_type"))
        .distinct()
    )

    def lookup(field: str, key: str) -> Column:
        pairs = [F.lit(x) for c in catalog for x in (c["fine_type"], c[field])]
        return F.create_map(*pairs)[F.col(key)]

    pred = F.col("pred")
    defined = pred == "defined_in"
    prov = F.concat_ws("", F.col("a"), F.lit("/"), F.col("b"), F.lit("@"), F.col("c"))
    triples = typed_e.select(
        F.col("mention_id").alias("subj"), F.lit("links_to").alias("pred"),
        F.col("entity_id").alias("obj"), "repo", "path", "commit",
    ).unionByName(
        key_table.select(
            "subj", "pred",
            F.when(defined, prov)
            .when(pred == "typed_as", lookup("label_id", "a"))
            .otherwise(lookup("coarse_type", "subj"))
            .alias("obj"),
            *[F.when(defined, F.col(s)).alias(c)
              for s, c in zip("abc", ("repo", "path", "commit"))],
        )
    )
    # links_to as one row weighing n_links: data, not a literal, so a new
    # count compiles no new code
    links = local_frame(typed.sparkSession, [(n_links,)], "n long")
    count = (
        key_table.select(F.lit(1).cast("long").alias("n"))
        .union(links)
        .agg(F.coalesce(F.sum("n"), F.lit(0).cast("long")).alias("n_triples"))
    )
    return triples, count


@dataclass
class KGAssembly:
    """What :func:`assemble_kg` hands back to its sink."""

    n_mentions: int
    # time.time() once the surface pass (the first mention-scale job) ran
    t_surfaces: float
    canon_wall_ms: float
    entities: DataFrame
    triples: DataFrame
    # lazy one-row (n_triples long) plan == triples.count()
    triples_count: DataFrame
    # per repo: rows_out, sha_ok, files; each sink adds stage/run_id/wall_ms
    repo_lineage: DataFrame


def stamp_lineage(rows: DataFrame, run_id: str, walls: dict[str, float]) -> DataFrame:
    """Lineage rows ``(repo, rows_out, sha_ok, files, stage)`` with the
    run's ``run_id`` and each stage's ``wall_ms`` attached.

    The per-run values ride in a broadcast one-row-per-stage frame
    (:func:`~nerzo_spark.session.local_frame`), not in ``F.lit``: a double
    literal is inlined into the generated Java source, so every run would
    compile fresh classes.  The frame is data, so a repeat run reuses the
    cached code (tests/test_codegen_reuse.py)."""
    from pyspark.sql.types import DoubleType, StringType, StructField, StructType

    # each sink built stage, run_id and wall_ms from one source per row
    # (literals, or a driver-built frame), so they share the stage's
    # nullability; keeping it keeps the written parquet schema
    nullable = rows.schema["stage"].nullable
    stamps = local_frame(
        rows.sparkSession,
        [(stage, run_id, float(w)) for stage, w in walls.items()],
        StructType([
            StructField("stage", StringType(), nullable),
            StructField("run_id", StringType(), nullable),
            StructField("wall_ms", DoubleType(), nullable),
        ]),
    )
    return rows.join(F.broadcast(stamps), "stage").select(
        "repo", "rows_out", "sha_ok", "files", "stage", "run_id", "wall_ms"
    )


@contextmanager
def assemble_kg(typed: DataFrame, catalog: list[dict]) -> Iterator[KGAssembly]:
    """The KG back half over a typed mention table, shared by both sinks:
    surface aggregate, canonical overrides, entities, triples and the
    per-repo lineage rows.  ``run_kg_pipeline`` passes its in-memory
    extraction output; ``run_incremental`` passes the mention table read
    back from parquet.

    Runs two eager stages: the surface pass and the canonicalize
    clustering.  Everything else is a lazy plan over ``typed`` and the
    cached surface aggregate, which this context manager holds: the sink
    runs those plans inside the ``with`` block, and the cache is released
    when the block exits, exceptions included."""
    from nerzo_spark.operators.canonicalize import (
        canonical_overrides,
        resolve_entities,
    )

    # ONE mention-scale pass for the whole back half:
    # grouping the mentions by (fine_type, surface) yields the distinct
    # surfaces table AND — as the sum of the group sizes — the exact mention
    # count, so the single materializing job below (the sum-collect) runs
    # extraction (in-memory sink), builds the surface cache, and returns
    # n_mentions in one pipelined pass.  The groupBy's shuffle economics are
    # identical to select().distinct(): map-side partial agg collapses each
    # partition to its local distinct surfaces before anything crosses
    # executors.  Overrides, entities and the typed_as arm all consume
    # `surfaces` as a zero-cost projection of this cached table.
    with cached(
        typed.groupBy("fine_type", "surface").agg(F.count(F.lit(1)).alias("n_in_surface"))
    ) as surface_counts:
        n_mentions = int(
            surface_counts.agg(F.sum("n_in_surface")).collect()[0][0] or 0
        )
        t_surfaces = time.time()
        surfaces = surface_counts.select("fine_type", "surface")
        # broadcast-sized; Path 1 returns a driver-local Arrow frame and
        # Path 3 self-checkpoints, so no eager materialization is needed
        # here.  canonical_overrides runs its clustering jobs EAGERLY over
        # the cached surface table, so the wall measured around it is the
        # real canonicalize stage wall.
        overrides = canonical_overrides(surfaces)
        canon_wall_ms = (time.time() - t_surfaces) * 1000.0
        triples, triples_count = build_triples(
            typed, overrides, catalog, surfaces=surfaces, n_links=n_mentions
        )
        yield KGAssembly(
            n_mentions=n_mentions,
            t_surfaces=t_surfaces,
            canon_wall_ms=canon_wall_ms,
            entities=resolve_entities(surfaces, overrides),
            triples=triples,
            triples_count=triples_count,
            repo_lineage=typed.groupBy("repo").agg(
                F.count("*").alias("rows_out"),
                F.min(F.col("sha_ok").cast("int")).cast("boolean").alias("sha_ok"),
                F.countDistinct("path").alias("files"),
            ),
        )


def run_kg_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    anchors: DataFrame | list[dict],
    repartition_to: int | None = None,
    run_id: str | None = None,
) -> KGResult:
    run_id = run_id or uuid.uuid4().hex
    t0 = time.time()

    # label catalog first: driver-side, from the anchor fixture (tiny)
    catalog = build_label_catalog(anchors)

    # ONE fused Python pass: detect -> embed -> link (vectors never cross
    # Arrow; see operators/extract_link.py).  The result is the mentions
    # table AND the links table in one — no mention-scale join at all.
    # Cached (in-memory columnar) rather than localCheckpointed
    # (deserialized Java rows): the surface pass builds it, and the triples
    # arms and the lineage rows re-read it.  The mention cache, the surface
    # aggregate and the triples count are entered on one stack; it moves to
    # the KGResult on success, and is unwound here if anything raises.
    with ExitStack() as caches:
        typed = caches.enter_context(
            cached(extract_and_link(corpus, catalog, repartition_to=repartition_to))
        )
        kg = caches.enter_context(assemble_kg(typed, catalog))
        # wall of the work executed up to the surface pass (catalog +
        # extract + link + surface agg), so the lineage stage label and its
        # wall agree
        extract_wall_ms = (kg.t_surfaces - t0) * 1000.0

        # Per-stage lineage on the library path, without adding serialized
        # actions to the pipeline's own critical path: the extract+link rows
        # are per-repo with the measured wall; 'canonicalize' carries the
        # wall measured around the (eager) clustering and a LAZY rows_out =
        # |entities| (surface-scale agg over the cached surfaces, evaluated
        # only when a caller materializes lineage); 'triples' reuses the
        # count plan — rows_out is exact, but its wall is a -1.0 sentinel
        # (the triples table is lazy here; the orchestration layers that
        # materialize it — incremental.py, the CLI — record the real wall).
        def _stage_row(cnt_df: DataFrame, cnt_col: str, stage: str) -> DataFrame:
            return cnt_df.select(
                F.lit("__all__").alias("repo"),
                F.col(cnt_col).cast("long").alias("rows_out"),
                F.lit(True).alias("sha_ok"),
                F.lit(-1).cast("long").alias("files"),
                F.lit(stage).alias("stage"),
            )

        lineage = stamp_lineage(
            kg.repo_lineage.withColumn("stage", F.lit("extract+link"))
            .unionByName(
                _stage_row(kg.entities.agg(F.count(F.lit(1)).alias("n")), "n", "canonicalize")
            )
            .unionByName(_stage_row(kg.triples_count, "n_triples", "triples")),
            run_id,
            {"extract+link": extract_wall_ms, "canonicalize": kg.canon_wall_ms,
             "triples": -1.0},
        )

        return KGResult(
            mentions=typed,
            entities=kg.entities,
            triples=kg.triples,
            lineage=lineage,
            triples_count=kg.triples_count,
            n_mentions=kg.n_mentions,
            caches=caches.pop_all(),
        )
