"""Tripwire: one catalog pass stays within its Spark job budget.

At benchmark size every Spark job costs a fixed driver round trip and
scheduling overhead, and those fixed costs, not rows, set a catalog query's
time.  The pass runs the way the benchmark's ``catalog_mix`` op does: each
of its queries is built and its result collected with ``toPandas``, over
the benchmark's sf0.01 tables.  Each query runs under its own job group, and
Spark's status tracker counts the group's jobs once the listener bus is
drained (as tests/test_job_budget.py does for a kg op).

The ceilings are the counts this code runs.  A change that adds a job to a
query raises its ceiling here and says why."""

from __future__ import annotations

import pytest

# importing the entry module registers every catalog entry
import __spark_entry__  # noqa: F401
from nerzo_spark.plans import catalog
from perfbench.inputs import CATALOG_DIR
from perfbench.workloads import CATALOG_QUERIES

# query -> most jobs its build and collect may run
CEILINGS = {
    "j1_cosine_topk": 3,
    "e1_recall_at_k": 2,
    "e2_rprecision": 2,
    "dedup_minhash_lsh_pairs": 8,
    "dedup_simhash16": 3,
    "ngram_jaccard_top_pairs": 6,
    "doc_fingerprint": 1,
    "a2_filter_agg_q1": 2,
    "a4_top_hits_per_bucket": 2,
    "w7_islands_run_merge": 2,
    "j5_lookup_join": 3,
}
# the sum of the ceilings; the pass ran 69 jobs before the tables' schemas
# were declared and the kNN relay and small tables stopped adding jobs
PASS_CEILING = 34


@pytest.fixture(scope="module")
def query_jobs(spark) -> dict[str, int]:
    sc = spark.sparkContext
    fns = catalog.queries()
    for q in CATALOG_QUERIES:
        sc.setJobGroup(f"catalog-budget-{q}", q)
        try:
            fns[q](spark, CATALOG_DIR).toPandas()
        finally:
            sc.setJobGroup("", "")
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    return {q: len(tracker.getJobIdsForGroup(f"catalog-budget-{q}")) for q in CATALOG_QUERIES}


def test_ceilings_name_the_pass():
    assert set(CEILINGS) == set(CATALOG_QUERIES)


@pytest.mark.parametrize("query", CATALOG_QUERIES)
def test_query_within_job_budget(query_jobs, query):
    assert query_jobs[query] <= CEILINGS[query], f"{query} ran {query_jobs[query]} jobs"


def test_pass_within_job_budget(query_jobs):
    total = sum(query_jobs.values())
    assert total <= PASS_CEILING, f"one catalog pass ran {total} jobs: {query_jobs}"


def test_queries_run_jobs(query_jobs):
    """A zero here means the counting missed the query, not a free query."""
    assert all(n > 0 for n in query_jobs.values()), query_jobs
