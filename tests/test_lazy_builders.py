"""Tripwire: building a catalog query submits no Spark job.

A query builder returns a lazy plan; the caller's action runs it.  An
action inside the builder (a count, a collect, an eager checkpoint) costs a
job and a driver round trip on every call, outside the caller's control.

Each builder runs under its own job group, with no action after it, and
Spark's status tracker counts the jobs of that group.  ``EAGER`` names the
builders that still act today, each with its reason.  An entry that no
longer submits a job fails the test too, so the list can only shrink."""

from __future__ import annotations

import itertools

import pytest

# importing the entry module registers every catalog entry
from __spark_entry__ import SF_DIR
from nerzo_spark.plans import catalog

_KNN = "knn_self_join relays its input through the driver in bounded chunks (operators/topk.py)"

EAGER: dict[str, str] = {
    "ann_ivf_probe": "collects its centroids (catalog_ivf.py)",
    "ann_lsh_bucketed": "probes the embedding dim with first() (catalog_vec.py)",
    "dedup_embedding_neardup": "checks the largest label against its cap with first() (catalog_more.py)",
    "e1_recall_at_k": _KNN,
    "e2_rprecision": _KNN,
    "u5_u6_mlp_heads": "probes the embedding dim with first() (catalog_vec.py)",
}

_groups = itertools.count()


def _build_jobs(spark, fn) -> int:
    """Jobs the builder ``fn`` submits."""
    sc = spark.sparkContext
    build = f"lazy-build-{next(_groups)}"
    sc.setJobGroup(build, build)
    try:
        fn(spark, SF_DIR)
    finally:
        sc.setJobGroup("", "")
    # the status tracker is fed by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(build))


@pytest.mark.parametrize("name", sorted(catalog.queries()))
def test_building_submits_no_job(spark, name):
    if name.startswith("kg_"):
        # the kg_* entries share one pipeline run per session, made by
        # whichever is called first (its canonicalize stage is eager by
        # design); each builder then reads that run's frames
        from nerzo_spark.plans.catalog_kg import _run

        _run(spark)
    jobs = _build_jobs(spark, catalog.queries()[name])
    if name in EAGER:
        assert jobs > 0, f"{name} builds lazily now: take it off EAGER"
    else:
        assert jobs == 0, f"building {name} submitted {jobs} job(s)"


def test_eager_list_names_registered_queries():
    assert set(EAGER) <= set(catalog.queries())
