"""Warm Spark-job budgets per query at sf0.001: a reviewed table, not a
number a test edit may raise in passing.

A warm call on this engine costs mostly fixed per-job overhead (job
submission, stage scheduling, task launch), not executor CPU, so the
number of jobs a warm call launches is the cost this gate holds.  Each
query runs once cold (filling its session silvers and memos), then once
more inside a job group; the group's job ids are the warm call's jobs,
plan-time probes included.

Raising an entry needs the same review as `scripts/plan_audit.py`'s
`ALLOW`: say in the change's notes which job was added and why it pays.
"""

from __future__ import annotations

import importlib

import pytest

from tests.conftest import SF_SMALL

# query -> (module, most warm jobs).  hybrid_rrf_search holds a
# deliberate ceiling (the bound query relation and the df-carrying
# postings silver); every other entry is its measured count.
WARM_JOB_BUDGETS = {
    "scd2_order_history": ("classic_fcd_spark.queries.analytics", 2),
    "near_dup_groups": ("classic_fcd_spark.queries.dedup", 10),
    "embedding_similar_pairs": ("classic_fcd_spark.queries.similarity", 2),
    "hybrid_rrf_search": ("classic_fcd_spark.queries.text", 5),
    "bm25_search": ("classic_fcd_spark.queries.text", 3),
}


def _warm_jobs(spark, fn) -> int:
    fn(spark, SF_SMALL).collect()
    sc = spark.sparkContext
    group = f"test_job_budget:{fn.__name__}"
    sc.setJobGroup(group, f"warm {fn.__name__}")
    try:
        fn(spark, SF_SMALL).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("name", sorted(WARM_JOB_BUDGETS))
def test_warm_call_within_budget(spark, name):
    module, budget = WARM_JOB_BUDGETS[name]
    fn = getattr(importlib.import_module(module), name)
    jobs = _warm_jobs(spark, fn)
    assert 0 < jobs <= budget, f"{name}: {jobs} warm jobs, budget {budget}"
