"""Physical-plan audit over every registered query: the 100 TB red-flag
scan.  For each queries() entry, build the plan at sf0.001 and flag:

  - CartesianProduct / BroadcastNestedLoopJoin — all-pairs operators
    that are quadratic at scale (a broadcast nested loop is fine for a
    LIMIT-1 dim probe, so genuinely-bounded uses go on the allowlist
    with a reason).
  - WindowExec with an empty partition spec — moves the whole relation
    onto one task; only acceptable when the relation is an aggregate
    orders smaller than the input (allowlisted per query).
  - More than MAX_EXCHANGES shuffle exchanges — a smell, not a failure
    (printed, not fatal).

Usage: python scripts/plan_audit.py [query ...]   (default: all)
       python scripts/plan_audit.py --extras       (bench-only workloads too)
Exit code 1 if any non-allowlisted red flag is found.  tests/ runs this
via test_operators.py::test_plan_audit_clean so regressions fail CI.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.001"

# query -> {flag: reason} entries reviewed by hand; a new hit means a new
# review, not an automatic pass
_GRID = "fixture minute-range x literal denom-list cross (|denoms| constant)"
_SCALAR = "cross with a 1-row (keyless) aggregate — scalar join"
ALLOW: dict[str, dict[str, str]] = {
    # --- nested-loop review (2026-08, r3): every BNLJ below builds a
    # side that is constant-bounded by construction, never data x data
    "fcd_dashboard": {"nested_loop": f"{_SCALAR} (A23 freshness stamps)"},
    "fcd_market_cap": {"nested_loop": f"{_GRID}; plus {_SCALAR}"},
    # r5 review: the IVF arm's cell assignment is corpus x broadcast
    # 16-row codebook (constant-bounded dim cross, one fold per pair);
    # the corpus-x-corpus probe itself is the cell equi-join
    "ann_search": {
        "nested_loop": "corpus x broadcast 16-row codebook cross; r8 pq "
        "arm adds the ADC compressed-domain scan (codes x broadcast "
        "10-query distance tables — flat-PQ by design, 8 B/candidate)"
    },
    # r5 (late) review: same constant-bounded codebook cross as ann_search's
    # IVF arm — assignment is corpus x broadcast 16-row dim, one fold/pair
    "semantic_dedup": {"nested_loop": "corpus x broadcast 16-row codebook cross"},
    "fcd_minute_fees": {"nested_loop": _GRID},
    "fcd_rewards_converted": {"nested_loop": _GRID},
    "fcd_total_staking_return": {"nested_loop": f"{_GRID}; plus {_SCALAR}"},
    # cumulative / full-history windows over DATE-grain aggregates: the
    # windowed relation is a per-day rollup (≤ a few thousand rows for
    # years of history), not the raw table
    "account_growth": {"global_window": "cumsum over per-day counts"},
    "fcd_cumulative_rewards": {"global_window": "cumsum over per-day sums"},
    "daily_volume_ma": {"global_window": "trailing MA over per-day sums"},
    # r8: rotated out of the driver window (slot -> ccnet_perplexity);
    # still audited via --extras (bench extra)
    "fcd_avg_staking_daily": {"global_window": "rank over per-day averages"},
    # keyset / offset page contracts: ordering a page-bounded or
    # pre-aggregated relation
    "keyset_page_orders": {"global_window": "row_number over one 100-row page"},
    "fcd_price_buckets_15m": {
        "global_window": "LIMIT-50 candle contract",
        "nested_loop": _GRID,
    },
    "fcd_richlist": {"global_window": "total-supply share over top-K rows"},
    "fcd_proposals": {
        "global_window": "vote pivot over ≤ proposals rows",
        "nested_loop": "8-row proposal fixture cross",
    },
    "fcd_general_info_daily": {"global_window": "first-row-per-date over minutes"},
    # --- bench-only workloads (audited via --extras) ---------------------
    "ann_topk_bruteforce": {
        "nested_loop": "documented brute-force baseline: corpus x broadcast "
        "10-query cross (the scale paths are the LSH/IVF workloads)"
    },
    "ann_lsh_search": {"nested_loop": "corpus x broadcast 32-plane literal bucket projection"},
    "ann_ivf_search": {"nested_loop": "corpus x broadcast 16-row codebook cross"},
    "ann_pq_search": {
        "nested_loop": "encode: corpus-subvectors x broadcast sub-codebook "
        "argmin; search: ADC codes scan x broadcast quantized tables "
        "(flat-PQ by design)"
    },
    "revenue_by_nation": {},
    "simhash_docs": {},
    "simhash_near_dups": {},
    "approx_top_ngrams": {"global_window": "final top-20 over the bounded MG candidate set"},
    "duplicated_spans": {},
    "bm25_search": {},
    # r12 review: the dense arm is corpus x broadcast 4-query cross
    # (constant-bounded, the documented brute-force baseline shape —
    # the scale path swaps in the LSH/IVF rankers, fusion unchanged)
    "hybrid_rrf_search": {
        "nested_loop": "corpus x broadcast 4-query dense-arm cross"
    },
    "ccnet_perplexity": {},
    "ann_lsh_buckets": {},
    "bpe_train_50": {},
}

FLAGS = {
    "cartesian": re.compile(r"CartesianProduct"),
    "nested_loop": re.compile(r"BroadcastNestedLoopJoin"),
}
EXCHANGE_RE = re.compile(r"Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)")
MAX_EXCHANGES = 14


def audit(spark, name, fn):
    df = fn(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    hits = []
    for flag, rx in FLAGS.items():
        if rx.search(plan) and flag not in ALLOW.get(name, {}):
            hits.append(flag)
    # global window: a windowspecdefinition whose arg list starts with the
    # frame spec directly (no partition columns before the sort spec)
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        args = m.group(1)
        # partitioned specs look like "col#1, col#2 ASC NULLS FIRST, ...";
        # global ones start with the sort spec or the frame directly
        first = args.split(",")[0].strip()
        if ("ASC" in first or "DESC" in first or first.startswith("specifiedwindowframe")) and (
            "global_window" not in ALLOW.get(name, {})
        ):
            hits.append("global_window")
            break
    n_ex = len(EXCHANGE_RE.findall(plan))
    return hits, n_ex


def main(argv):
    from classic_fcd_spark.queries import query_fn_map
    from classic_fcd_spark.session import get_spark

    spark = get_spark()
    qmap = dict(query_fn_map())
    extras = "--extras" in argv
    argv = [a for a in argv if a != "--extras"]
    if extras:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        import bench as _bench

        extra = _bench._extra_workloads()
        # trainer workloads run FULL training just to build a plan (and
        # bpe_train_50's result is a driver-local LocalRelation — zero
        # audit signal); their search-plan properties are asserted in
        # their own tests (test_pq no-cartesian, recall contracts)
        for name in _bench.TRAIN_WORKLOADS:
            extra.pop(name, None)
        qmap.update(extra)
    names = argv or sorted(qmap)
    bad = 0
    for name in names:
        try:
            hits, n_ex = audit(spark, name, qmap[name])
        except Exception as e:  # noqa: BLE001 — audit must visit every query
            print(f"ERROR {name}: {e}")
            bad += 1
            continue
        note = f" exchanges={n_ex}" + (" (HIGH)" if n_ex > MAX_EXCHANGES else "")
        if hits:
            print(f"FLAG  {name}: {','.join(sorted(set(hits)))}{note}")
            bad += 1
        else:
            print(f"ok    {name}{note}")
    print(f"\n{len(names) - bad}/{len(names)} clean")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
