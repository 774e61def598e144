"""Tripwire: one KG op stays within its Spark job budget.

Every Spark job costs a fixed driver round trip and scheduling overhead, and
at benchmark size those fixed costs, not rows, set the op time.  The op runs
the way the benchmark's ``kg_build_resume`` op does: the in-memory build,
the ``triples_count`` collect, then a delta resume into a copy of a base
built without one org's repos.  Each phase runs under its own job group, and
Spark's status tracker counts the group's jobs once the listener bus is
drained (as tests/test_lazy_builders.py does).

The ceilings are the counts this code runs.  A change that adds a job to a
phase raises its ceiling here and says why."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

import nerzo_spark.operators.canonicalize as canon
from nerzo_spark.fixtures.spark_io import corpus_df
from nerzo_spark.pipeline.incremental import run_incremental
from nerzo_spark.pipeline.kg import run_kg_pipeline

CANON = "canonical_overrides"
# the resume's triples write, and its jobs after that write and before its
# lineage write
TRIPLES_WRITE = "resume/triples"
AFTER_TRIPLES = "resume/after_triples"
RESUME_PARTS = (TRIPLES_WRITE, AFTER_TRIPLES)

# phase -> most jobs it may run.  "build" and "resume" exclude their
# canonical_overrides call, which is counted on its own; RESUME_PARTS are
# part of "resume".
CEILINGS = {
    "build": 6,
    f"build/{CANON}": 2,
    "triples_count": 4,
    "resume": 20,
    f"resume/{CANON}": 2,
    TRIPLES_WRITE: 3,
    AFTER_TRIPLES: 0,
}
OP_CEILING = 34


@pytest.fixture(scope="module")
def op_jobs(spark, fixture_small, tmp_path_factory) -> dict[str, int]:
    sc = spark.sparkContext
    work = tmp_path_factory.mktemp("job_budget")
    fx = fixture_small
    # read back from parquet, as the benchmark reads its corpus; this also
    # keeps the plans apart from the session's cached kg_result
    corpus_df(spark, fx).write.parquet(str(work / "corpus"))
    corpus = spark.read.parquet(str(work / "corpus"))
    base_dir, out = str(work / "base"), str(work / "resume")
    run_incremental(spark, corpus.filter(~F.col("repo").startswith("org1/")),
                    fx.anchors, base_dir, repartition_to=4)
    shutil.copytree(base_dir, out)

    group = [""]

    def enter(name: str) -> str:
        prev, group[0] = group[0], name
        sc.setJobGroup(name, name)
        return prev

    canonical_overrides = canon.canonical_overrides

    def counted_overrides(*args, **kwargs):
        prev = enter(f"{group[0]}/{CANON}")
        try:
            return canonical_overrides(*args, **kwargs)
        finally:
            enter(prev)

    parquet = DataFrameWriter.parquet

    def counted_parquet(self, path, *args, **kwargs):
        table = os.path.basename(str(path).rstrip("/"))
        if group[0] == AFTER_TRIPLES and table == "lineage":
            enter("resume/lineage")
        if group[0] == "resume" and table == "triples":
            enter(TRIPLES_WRITE)
        parquet(self, path, *args, **kwargs)
        if group[0] == TRIPLES_WRITE:
            enter(AFTER_TRIPLES)

    names = [*CEILINGS, "resume/lineage"]
    with pytest.MonkeyPatch.context() as m:
        m.setattr(canon, CANON, counted_overrides)
        m.setattr(DataFrameWriter, "parquet", counted_parquet)
        try:
            enter("build")
            res = run_kg_pipeline(spark, corpus, fx.anchors, repartition_to=4)
            enter("triples_count")
            assert res.triples_count.collect()[0]["n_triples"] > 0
            enter("resume")
            delta = run_incremental(spark, corpus, fx.anchors, out, repartition_to=4)
        finally:
            enter("")
    res.close()
    assert delta["repos_extracted"] > 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = {n: len(tracker.getJobIdsForGroup(n)) for n in names}
    # the lineage write is the resume's too
    jobs["resume"] += jobs.pop("resume/lineage") + sum(jobs[p] for p in RESUME_PARTS)
    return jobs


@pytest.mark.parametrize("phase", sorted(CEILINGS))
def test_phase_within_job_budget(op_jobs, phase):
    assert op_jobs[phase] <= CEILINGS[phase], f"{phase} ran {op_jobs[phase]} jobs"


def test_op_within_job_budget(op_jobs):
    total = sum(n for phase, n in op_jobs.items() if phase not in RESUME_PARTS)
    assert total <= OP_CEILING, f"one kg op ran {total} jobs: {op_jobs}"


def test_canonicalize_runs_jobs(op_jobs):
    """A zero here means the counting missed the phase, not a free phase."""
    assert op_jobs[f"build/{CANON}"] > 0 and op_jobs[f"resume/{CANON}"] > 0
