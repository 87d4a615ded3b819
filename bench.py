"""Benchmark harness — run the engine's headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {"q": sec, ...}, "sf": ...}

Timing = full query execution + result materialization (collect), per query,
after a session warm-up. Aggregate results are small (≤ a few thousand rows),
so collect cost is dominated by execution — the honest serving-path number.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per operator family, weighted toward the heavy plans
# (multi-way join, high-cardinality groupBy, unpartitioned windows excluded).
# Names resolve through the query registry first, then _extra_workloads().
HEADLINE = [
    "pricing_summary",
    "account_growth",
    "daily_volume_ma",
    "keyset_page_orders",
    # temporal analytics
    "asof_latest_purchase",
    "time_weighted_value",
    # LLM-pipeline extensions
    "text_features",
    "token_stats_by_source",
    "exact_dedup_groups",
    "minhash_lsh_near_dups",
    "ngram_jaccard_pairs",
    "simhash_near_dups",
    "near_dup_groups",
    "multimodal_features",
    "corpus_decontamination",
    "stratified_sample_docs",
    "sequence_packing",
    "ann_topk_bruteforce",
    "ann_lsh_search",
    "ann_ivf_search",
    "ann_pq_search",
    "embedding_similar_pairs",
    # top-k-capped neighbor pairs — linear output on any corpus
    "embedding_topk_pairs",
    # fcd domain pipeline (fixture-driven, scale-independent)
    "fcd_undelegation_schedule",
    "fcd_tx_volume_minute",
    "fcd_account_tx_counts",
    "fcd_dashboard",
    "fcd_minute_fees",
    "fcd_vote_tally",
    "fcd_swap_volume",
    "fcd_rewards_converted",
    "fcd_proposals",
    "incremental_dedup",
    "interval_joined_events",
    "sessionized_events",
    "semantic_dedup",
    "dsir_select",
    "bm25_search",
    "trigram_lm_scores",
    "quality_logit_scores",
    "ccnet_perplexity",
    "scd2_order_history",
    "approx_top_tokens",
    "repetition_signals",
    "hybrid_rrf_search",
    # the MG-gated salted account-dim enrichment: the salt ENGAGES on
    # this fixture's planted exchange wallet, so the timing includes the
    # detection pass + the salted shuffle
    "fcd_account_txs_enriched",
    "fcd_tx_by_hash",
    # unregistered bench-only workloads (resolved via _extra_workloads)
    "revenue_by_nation",
    "duplicated_spans",
    "simhash_docs",
    "ann_lsh_buckets",
    "approx_top_ngrams",
]

# Batch-training workloads: per-corpus jobs, not per-query costs — timed
# only when SPARK_GRAFT_BENCH_TRAIN=1 so the headline total stays a
# query-latency number.
TRAIN_WORKLOADS = [
    "bpe_train_50",
]


def _extra_workloads():
    """Plans kept outside the gated registry but still benched
    (and plan-audited by `scripts/plan_audit.py --extras`): the
    multi-way TPC-H join, the signature/bucket projections, and the
    standalone twins of registered rows, each with an in-test oracle."""
    from classic_fcd_spark.queries.core import pricing_summary, revenue_by_nation
    from classic_fcd_spark.queries.fcd import (
        fcd_avg_staking_daily,
        fcd_cumulative_rewards,
        fcd_tx_by_hash,
        fcd_validator_annual_return,
    )
    from classic_fcd_spark.queries.similarity import (
        embedding_similar_pairs,
        embedding_topk_pairs,
    )
    from classic_fcd_spark.queries.text import (
        bm25_search,
        text_features,
        token_stats_by_source,
    )
    from classic_fcd_spark.queries.dedup import (
        duplicated_spans_q,
        ngram_jaccard_pairs,
        simhash_docs,
    )
    from classic_fcd_spark.queries.fcd import fcd_staking_view
    from classic_fcd_spark.queries.similarity import (
        ann_ivf_search,
        ann_lsh_buckets,
        ann_lsh_search,
        ann_pq_search,
        ann_topk_bruteforce,
    )

    def bpe_train_50(spark, sf_dir):
        from classic_fcd_spark.operators.bpe import bpe_train
        from classic_fcd_spark.session import load_tables

        docs = load_tables(spark, sf_dir)["documents"]
        merges = bpe_train(docs, n_merges=50)
        return spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)], ["rank", "a", "b"]
        )

    def approx_top_ngrams(spark, sf_dir):
        from pyspark.sql import functions as F

        from classic_fcd_spark.operators.dedup import word_shingles
        from classic_fcd_spark.operators.heavyhitters import approx_top_items
        from classic_fcd_spark.session import load_tables

        docs = load_tables(spark, sf_dir)["documents"]
        # single-file scan = ONE partition: without this the whole MG
        # pass runs as one Python task (measured 7.5 s -> ~1 s at sf0.1)
        par = spark.sparkContext.defaultParallelism
        grams = docs.repartition(par, "doc_id").select(
            F.explode(word_shingles("text", 2)).alias("gram")
        )
        return approx_top_items(grams, "gram", k=20, capacity=1024)

    return {
        "revenue_by_nation": revenue_by_nation,
        "simhash_docs": simhash_docs,
        "text_features": text_features,
        "fcd_staking_view": fcd_staking_view,
        "duplicated_spans": duplicated_spans_q,
        "bm25_search": bm25_search,
        "fcd_tx_by_hash": fcd_tx_by_hash,
        "ngram_jaccard_pairs": ngram_jaccard_pairs,
        # not in HEADLINE: kept so `plan_audit --extras` audits its
        # window plan (its ALLOW entry documents the per-day cumsum)
        "fcd_cumulative_rewards": fcd_cumulative_rewards,
        "approx_top_ngrams": approx_top_ngrams,
        "fcd_avg_staking_daily": fcd_avg_staking_daily,
        # still the flagship entry() query
        "pricing_summary": pricing_summary,
        "fcd_validator_annual_return": fcd_validator_annual_return,
        "bpe_train_50": bpe_train_50,
        "ann_lsh_buckets": ann_lsh_buckets,
        "embedding_topk_pairs": embedding_topk_pairs,
        "ann_lsh_search": ann_lsh_search,
        "ann_ivf_search": ann_ivf_search,
        # the pq arm of the merged ann_search row, benched per arm like
        # its lsh/ivf siblings
        "ann_pq_search": ann_pq_search,
        "ann_topk_bruteforce": ann_topk_bruteforce,
        "token_stats_by_source": token_stats_by_source,
        "embedding_similar_pairs": embedding_similar_pairs,
    }


def _run_conditions(sf_dir: str) -> dict:
    """Isolation stanza: a concurrent corpus build can drift sub-2 s
    queries by ~1.3x, so the run conditions go IN the artifact and drift
    stays attributable.  `concurrent_busy_procs` counts other busy
    processes (>50% of one core) at bench start; a solo run reports 0."""
    cond: dict[str, object] = {}
    try:
        cond["load_avg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        import subprocess

        out = subprocess.run(
            ["ps", "-eo", "pid,pcpu,comm"], capture_output=True, text=True, timeout=5
        ).stdout.splitlines()[1:]
        me = os.getpid()
        busy = [
            ln.split() for ln in out
            if ln.split() and float(ln.split()[1]) > 50.0 and int(ln.split()[0]) != me
        ]
        cond["concurrent_busy_procs"] = len(busy)
    except Exception:  # noqa: BLE001 — the stanza must never fail the bench
        pass
    try:
        cond["corpus_mtime"] = int(
            max(
                os.path.getmtime(os.path.join(sf_dir, f))
                for f in os.listdir(sf_dir)
                if f.endswith(".parquet")
            )
        )
    except OSError:
        pass
    return cond


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    run_conditions = _run_conditions(sf_dir)

    from classic_fcd_spark.queries import query_fn_map
    from classic_fcd_spark.session import get_spark, load_tables

    spark = get_spark("bench")
    qmap = dict(query_fn_map())
    qmap.update(_extra_workloads())
    headline = list(HEADLINE)
    if os.environ.get("SPARK_GRAFT_BENCH_TRAIN") == "1":
        headline += TRAIN_WORKLOADS
    # Warm-up: JVM init, file listing, Catalyst analysis + whole-stage
    # codegen for every headline plan shape — run once at the smallest
    # scale factor, not counted.  Steady-state is what a long-running
    # engine serves at: plans are compiled once per schema and reused;
    # cold Janino compilation is a one-time cost per cluster, not a
    # per-query cost.  Timing below is execution at the target SF.
    load_tables(spark, sf_dir)["lineitem"].count()
    warm_dir = "/root/testdata/sf0.001"
    for name in headline:
        if name in qmap:
            try:
                qmap[name](spark, warm_dir).collect()
            except Exception:  # noqa: BLE001 - warm-up must never fail the bench
                pass
    # Fault-isolated timed loop: one analysis-time error in a single
    # query must not zero out the whole perf signal.
    # Failures are recorded as {"err": ...} entries; the headline total is
    # the sum over survivors, and the run exits 0 as long as most of the
    # suite produced a number.
    #
    # Two timed passes, per-query MIN: the host is a shared machine and
    # individual queries randomly absorb multi-second noisy-neighbor
    # stalls (observed: the same query 0.8 s in one run, 20 s in the
    # next, stable in isolation, total GC pause ~3 s — so not GC or
    # data).  min-of-k is the standard latency-floor estimator under
    # one-sided noise; k=2 keeps the wall time bounded.
    # Both passes are recorded per query, not just the min — the session-scoped silver layer means a once-per-corpus
    # index/model build lands inside the FIRST toucher's pass-1 timing
    # and min-of-2 then discards it, so silver-build cost appeared in no
    # reported number.  `queries`/`value` keep the exact min-of-2
    # semantics (driver contract unchanged); `queries_cold`/
    # `queries_warm` are additions: cold = pass-1 (includes any silver
    # build its query triggers), warm = pass-2 (steady state).
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    warm: dict[str, float] = {}
    errors: dict[str, str] = {}
    for _pass in range(2):
        for name in headline:
            if name not in qmap or name in errors:
                continue
            t0 = time.perf_counter()
            try:
                qmap[name](spark, sf_dir).collect()
            except Exception as exc:  # noqa: BLE001 - isolate per-query failures
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
                continue
            t = round(time.perf_counter() - t0, 4)
            timings[name] = min(timings.get(name, t), t)
            (cold if _pass == 0 else warm)[name] = t

    total = round(sum(timings.values()), 4)
    queries: dict[str, object] = dict(timings)
    for name, err in errors.items():
        queries[name] = {"err": err}
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "queries_cold": cold,
                "queries_warm": warm,
                "cold_total_sec": round(sum(cold.values()), 4),
                "n_ok": len(timings),
                "n_err": len(errors),
                "sf": sf,
                "run_conditions": run_conditions,
            }
        )
    )
    # Exit non-zero only when the signal is meaningless (most queries failed).
    if len(timings) < max(1, (len(timings) + len(errors)) // 2):
        sys.exit(1)


if __name__ == "__main__":
    main()
