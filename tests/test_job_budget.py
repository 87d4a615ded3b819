"""Warm Spark-job budgets per query at sf0.001, per serving route
family and per block-ingest micro-batch: reviewed tables, not numbers a
test edit may raise in passing.

A warm call on this engine costs mostly fixed per-job overhead (job
submission, stage scheduling, task launch), not executor CPU, so the
number of jobs a warm call launches is the cost this gate holds.  Each
query or request runs once cold (filling its session silvers and memos),
then once more inside a job group; the group's job ids are the warm
call's jobs, plan-time probes included.  Building a query's DataFrame
warm, before any collect, runs no job at all: plan-time work is the one
kind of job a collect's own plan cannot overlap or adapt.

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
    "near_dup_groups": ("classic_fcd_spark.queries.dedup", 4),
    "embedding_similar_pairs": ("classic_fcd_spark.queries.similarity", 2),
    "hybrid_rrf_search": ("classic_fcd_spark.queries.text", 5),
    "bm25_search": ("classic_fcd_spark.queries.text", 3),
    "minhash_lsh_near_dups": ("classic_fcd_spark.queries.dedup", 6),
    "incremental_dedup": ("classic_fcd_spark.queries.dedup", 8),
    "semantic_dedup_q": ("classic_fcd_spark.queries.similarity", 5),
}


# route family (perfbench's api_serving REQUEST_MIX) -> most warm jobs
# of one request, each its measured count.  The three point reads are
# one pruned scan each; every other route is one collected plan plus the
# jobs its exchanges and broadcasts cost under adaptive execution.
WARM_ROUTE_BUDGETS = {
    "lookup_tx": 1,
    "account_page": 1,
    "hot_walk": 1,
    "tx_list": 2,  # the page's top-k exchange, then the semi-join collect
    "dashboard": 3,  # price aggregate (2), newest snapshot
    "governance": 3,  # one shuffle, the validator-dim broadcast, collect
    "staking": 1,
    "market": 2,  # the one price aggregate: its exchange and collect
    "bank": 1,
}


def _warm_jobs(spark, call, name: str) -> int:
    call()
    sc = spark.sparkContext
    group = f"test_job_budget:{name}"
    sc.setJobGroup(group, f"warm {name}")
    try:
        call()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _query(name: str):
    module, _budget = WARM_JOB_BUDGETS[name]
    return getattr(importlib.import_module(module), name)


@pytest.mark.parametrize("name", sorted(WARM_JOB_BUDGETS))
def test_warm_call_within_budget(spark, name):
    fn, budget = _query(name), WARM_JOB_BUDGETS[name][1]
    jobs = _warm_jobs(spark, lambda: fn(spark, SF_SMALL).collect(), name)
    assert 0 < jobs <= budget, f"{name}: {jobs} warm jobs, budget {budget}"


@pytest.mark.parametrize("name", sorted(WARM_JOB_BUDGETS))
def test_warm_plan_runs_no_job(spark, name):
    """Building the DataFrame of a warm query, without collecting it,
    launches no Spark job: probes are memoized and every corpus
    intermediate is a session silver."""
    fn = _query(name)
    fn(spark, SF_SMALL).collect()
    jobs = _warm_jobs(spark, lambda: fn(spark, SF_SMALL), f"plan:{name}")
    assert jobs == 0, f"{name}: building the warm plan ran {jobs} jobs"


@pytest.fixture(scope="module")
def extract(spark, tmp_path_factory):
    """The point-read extracts of the fixture txs, written once."""
    from classic_fcd_spark.pipeline.medallion import account_tx_silver
    from classic_fcd_spark.serving.extract import (
        write_account_page_extract,
        write_tx_lookup_extract,
    )
    from classic_fcd_spark.sources.fixtures import gen_txs

    out = str(tmp_path_factory.mktemp("route_extract"))
    write_tx_lookup_extract(gen_txs(spark), out)
    write_account_page_extract(account_tx_silver(gen_txs(spark)), out)
    return out


def _route_call(spark, family: str, extract: str):
    """One request of `family` as api_serving sends it, on fixture
    sources (the point reads on the fixture's extract)."""
    import classic_fcd_spark.serving.detail as D
    import classic_fcd_spark.serving.endpoints as E
    from classic_fcd_spark.serving.api import get_tx_list
    from classic_fcd_spark.serving.extract import lookup_account_page, lookup_tx
    from classic_fcd_spark.sources.fixtures import addr_str, gen_txs, tx_hash_str

    acct = addr_str(3)
    if family == "hot_walk":
        # the walk's second page: keyset cursor = the first page's last row
        last = lookup_account_page(spark, extract, acct)[9]
        cursor = (last["height"], last["hash"])
        return lambda: lookup_account_page(spark, extract, acct, offset=cursor)
    return {
        "lookup_tx": lambda: lookup_tx(spark, extract, tx_hash_str(95 * 3)).collect(),
        "account_page": lambda: lookup_account_page(spark, extract, acct),
        "tx_list": lambda: get_tx_list(gen_txs(spark), E._account_tx(spark), acct),
        "dashboard": lambda: E.get_dashboard_general_info(spark),
        "governance": lambda: E.get_proposal_votes(spark, 1),
        "staking": lambda: E.get_validators_listing(spark),
        "market": lambda: E.get_denom_swap_rate(spark, "ukrw"),
        "bank": lambda: D.get_rich_list(spark, "uluna"),
    }[family]


@pytest.mark.parametrize("family", sorted(WARM_ROUTE_BUDGETS))
def test_warm_route_within_budget(spark, extract, family):
    budget = WARM_ROUTE_BUDGETS[family]
    jobs = _warm_jobs(spark, _route_call(spark, family, extract), family)
    assert 0 < jobs <= budget, f"{family}: {jobs} warm jobs, budget {budget}"


# One block-ingest micro-batch (streaming/block_ingest.py) on a small
# bundle feed, with the full GovDims bundle: the first batch also builds
# the proposal payload (about 20 of its jobs); the next one merges into
# stored partitions.  Counted by job group, so the count also proves the
# sink threads inherit the caller's group: every job the batch launched
# is in it.  Each entry is its measured count.
INGEST_BATCH_BUDGETS = {"first": 39, "next": 37}
INGEST_BLOCKS = 60


@pytest.fixture(scope="module")
def ingest_batches(spark, tmp_path_factory):
    """Two bundle batches ingested through `ingest_block_batch`, each in
    its own job group: {batch: (group jobs, all jobs launched)}, plus
    the updates each `merge_upsert` call received, by table."""
    import os

    from pyspark.sql import functions as F

    import classic_fcd_spark.streaming.block_ingest as bi
    from classic_fcd_spark.sources import fixtures as fx

    base = str(tmp_path_factory.mktemp("ingest_budget"))
    n = INGEST_BLOCKS
    feed = bi.build_block_bundle_feed(fx.gen_txs(spark, n=n), fx.gen_blocks(spark, n=n))
    halves = {
        "first": feed.filter(F.col("height") <= n // 2),
        "next": feed.filter(F.col("height") > n // 2),
    }
    gov = bi.GovDims(
        proposals=fx.gen_proposals(spark),
        votes=fx.gen_votes(spark),
        delegations=fx.gen_delegations(spark),
        validators=fx.gen_validators(spark),
        deposits=fx.gen_deposits(spark),
    )
    # fill the persisted fixture dims first, so the count does not
    # depend on whether an earlier test already did
    for dim in (gov.proposals, gov.votes, gov.delegations, gov.validators, gov.deposits):
        dim.count()
    merged: dict = {}
    orig = bi.merge_upsert

    def capture(spark_, updates, out_dir, *a, **k):
        merged.setdefault(os.path.basename(out_dir), []).append(updates)
        return orig(spark_, updates, out_dir, *a, **k)

    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    jobs = {}
    bi.merge_upsert = capture
    try:
        for batch_id, (name, df) in enumerate(halves.items()):
            path = os.path.join(base, "feed", name)
            df.write.parquet(path)
            batch = spark.read.parquet(path)
            group = f"test_job_budget:ingest:{name}"
            lo = int(dag.nextJobId())
            sc.setJobGroup(group, f"ingest {name}")
            try:
                bi.ingest_block_batch(
                    spark, batch, batch_id, os.path.join(base, "out"), proposals_dim=gov
                )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            launched = int(dag.nextJobId()) - lo
            jobs[name] = (len(sc.statusTracker().getJobIdsForGroup(group)), launched)
    finally:
        bi.merge_upsert = orig
    return {"jobs": jobs, "merged": merged}


@pytest.mark.parametrize("batch", sorted(INGEST_BATCH_BUDGETS))
def test_ingest_batch_within_budget(ingest_batches, batch):
    budget = INGEST_BATCH_BUDGETS[batch]
    in_group, launched = ingest_batches["jobs"][batch]
    assert in_group == launched, (
        f"{batch}: {launched - in_group} of {launched} jobs ran outside the "
        "batch's job group"
    )
    assert 0 < in_group <= budget, f"{batch} batch: {in_group} jobs, budget {budget}"


def _scans_python_rdd(df) -> bool:
    return "ExistingRDD" in df._jdf.queryExecution().executedPlan().toString()


def test_reward_rollup_reads_no_python_fed_relation(ingest_batches):
    """The reward attribution's predecessor timestamps are a JVM
    literal: a Python-fed relation would start the Python worker daemon
    inside the batch (~2.5 s the first time in a session)."""
    updates = ingest_batches["merged"]["minute_rewards"]
    assert len(updates) == 2
    assert not any(_scans_python_rdd(u) for u in updates)


def test_price_fixtures_read_no_python_fed_relation(spark):
    """The market and dashboard routes' fixture inputs are JVM literals,
    so no serving request starts the Python worker daemon."""
    from classic_fcd_spark.sources.fixtures import gen_issuances, gen_prices

    assert not _scans_python_rdd(gen_prices(spark))
    assert not _scans_python_rdd(gen_issuances(spark))
