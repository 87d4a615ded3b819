"""Thin response-shape wrappers for the remaining reference read
endpoints — governance votes/deposits pages, the staking account view,
and the market price/swaprate probes.

Each wrapper preserves the reference controller's response DICT shape
(field names, nesting, pagination fields) while the query underneath is
the distributed plan from the query layer:

- get_proposal_votes    ← GET /v1/gov/proposals/:id/votes
  (src/service/governance/getVotes.ts:41-79: uniqBy-latest-vote-per-
  voter, option filter AFTER dedupe, drop/take paging, getAccountInfo
  voter enrichment)
- get_proposal_deposits ← GET /v1/gov/proposals/:id/deposits
  (src/service/governance/getDeposits.ts:30-57: reversed deposit list,
  drop/take paging, depositor enrichment)
- get_staking_account_view ← GET /v1/staking/:account
  (src/service/staking/getStaking.ts:74-90 joinValidatorsWithMyDelegation
  + getMyDelegations ordered by amount desc + delegationTotal)
- get_market_price      ← GET /v1/market/price?denom=&interval=
  (src/service/market/getPrice.ts:92-116: interval-bucketed averages
  newest-50-then-reversed, lastPrice, oneDayVariation/Rate)
- get_denom_swap_rate   ← GET /v1/market/swaprate/:base
  (src/service/market/getSwapRate.ts:19-40 + helper.ts:42-60 getSwapRate)

One plan per request.  A warm request on this engine costs mostly fixed
per-job overhead (job submission, stage scheduling, task launch), not
executor CPU, so a wrapper whose response is one relation answers with
one collected plan: the existence check, the page and its total ride in
that plan, not in extra collects.  The driver only reorders or sums rows
it has already collected, and only dim-bounded ones (the 20-validator
dim, one row per denom); the unbounded work (vote dedupe, delegation
rollup, price bucketing) stays in the distributed plan.  Each bench
route family's warm job count is a reviewed budget
(tests/test_job_budget.py, WARM_ROUTE_BUDGETS).  Money strings are
decimal(38,10)-scale (the engine's DECIMAL_T policy, SURVEY §1.3); the
reference's BigNumber default precision differs in trailing digits only.
"""

from __future__ import annotations

import contextlib
from decimal import ROUND_DOWN, Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from classic_fcd_spark.sources.fixtures import (
    FIXTURE_NOW_EPOCH,
    gen_delegations,
    gen_deposits,
    gen_prices,
    gen_proposals,
    gen_validators,
    gen_votes,
)

_TEN_DP = Decimal("0.0000000001")  # decimal(38,10) scale


def _money(x) -> str:
    """BigNumber-style string at the engine's decimal scale (ROUND_DOWN,
    matching lib/math.ts's truncating getIntegerPortion family).  Plain
    positional notation always — BigNumber.toString() never emits
    scientific notation for these magnitudes."""
    q = Decimal(str(x)).quantize(_TEN_DP, rounding=ROUND_DOWN)
    s = format(q, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    # values in (-1e-10, 0) truncate to negative zero — BigNumber's
    # toString never emits "-0"
    return "0" if s in ("", "-", "-0") else s


def _account_info(row, addr_field: str) -> dict:
    """getAccountInfo.ts:18-32: account address plus operator/moniker
    when (and only when) the account belongs to a validator."""
    info = {"accountAddress": row[addr_field]}
    if row["operator_address"] is not None:
        info["operatorAddress"] = row["operator_address"]
        info["moniker"] = row["moniker"]
    return info


def _proposal_page(
    spark: SparkSession,
    proposal_id: int,
    rows: DataFrame,
    addr_col: str,
    id_col: str,
    page: int,
    limit: int,
) -> tuple[int, list]:
    """(totalCnt, page rows) of one proposal's `rows` (votes or
    deposits) in one collect: the total is `count(*) over ()`, the page
    is newest `id_col` first with its `addr_col` account enriched from
    the validator dim, and a marker row from the proposals table is the
    existence check.  Raises KeyError for an unknown proposal.  A page
    past the end carries no total, so only then a second job counts."""
    paged = (
        rows.withColumn("total_cnt", F.count("*").over(Window.partitionBy()))
        .join(
            F.broadcast(
                gen_validators(spark).select(
                    "account_address", "operator_address", "moniker"
                )
            ),
            F.col(addr_col) == F.col("account_address"),
            "left",
        )
        .orderBy(F.col(id_col).desc())
        .offset((page - 1) * limit)
        .limit(limit)
    )
    found = (
        gen_proposals(spark)
        .filter(F.col("proposal_id") == proposal_id)
        .select(F.lit(True).alias("found"))
    )
    got = paged.unionByName(found, allowMissingColumns=True).collect()
    if not any(r["found"] for r in got):
        raise KeyError(f"Proposal not found: {proposal_id}")
    page_rows = [r for r in got if not r["found"]]
    total_cnt = page_rows[0]["total_cnt"] if page_rows else rows.count()
    return total_cnt, page_rows


def get_proposal_votes(
    spark: SparkSession,
    proposal_id: int,
    page: int = 1,
    limit: int = 10,
    option: str | None = None,
) -> dict:
    """getVotes.ts:41-79 — one page of a proposal's votes.

    Semantics order matters and is preserved exactly: (1) LATEST vote
    per voter (uniqBy(reverse(votes), 'voter') keeps each voter's newest
    vote), (2) newest-first ordering, (3) the option filter runs AFTER
    the dedupe (a voter whose final vote is 'No' does not appear in the
    'Yes' page even if an earlier vote was 'Yes'), (4) totalCnt counts
    the FILTERED set, (5) drop/take paging.  Raises KeyError for an
    unknown proposal (the reference's APIError NOT_FOUND)."""
    latest = (
        gen_votes(spark)
        .filter(F.col("proposal_id") == proposal_id)
        # the page and its total need the whole deduped set in one
        # partition: one shuffle puts it there, and the dedupe, the
        # count and the page then run with no further exchange
        .repartition(1, "voter")
        .groupBy("voter")
        .agg(F.max_by(F.struct("vote_id", "option"), "vote_id").alias("v"))
        .select("voter", "v.vote_id", "v.option")
    )
    if option is not None:
        latest = latest.filter(F.col("option") == option)
    total_cnt, page_rows = _proposal_page(
        spark, proposal_id, latest, "voter", "vote_id", page, limit
    )
    return {
        "totalCnt": total_cnt,
        "page": page,
        "limit": limit,
        "votes": [
            {"answer": r["option"], "voter": _account_info(r, "voter")}
            for r in page_rows
        ],
    }


def get_proposal_deposits(
    spark: SparkSession, proposal_id: int, page: int = 1, limit: int = 5
) -> dict:
    """getDeposits.ts:30-57 — one page of a proposal's deposits, newest
    first (the reference reverses the stored order before paging);
    deposit amounts keep the Coin[] shape; depositor enriched like the
    votes page.  Raises KeyError for an unknown proposal."""
    deps = gen_deposits(spark).filter(F.col("proposal_id") == proposal_id)
    total_cnt, page_rows = _proposal_page(
        spark, proposal_id, deps, "depositor", "deposit_id", page, limit
    )
    return {
        "totalCnt": total_cnt,
        "page": page,
        "limit": limit,
        "deposits": [
            {
                "deposit": [
                    {"denom": c["denom"], "amount": c["amount"]} for c in r["amount"]
                ],
                "depositor": _account_info(r, "depositor"),
            }
            for r in page_rows
        ],
    }


def get_staking_account_view(spark: SparkSession, address: str) -> dict:
    """getStaking.ts:74-90 — the account staking view: every validator
    (with the caller's delegation grafted on as `myDelegation` where one
    exists — joinValidatorsWithMyDelegation), `myDelegations` ordered by
    amount desc (getMyDelegations' orderBy), and `delegationTotal` (the
    reduce-plus over delegations).  The delegation rollup is a groupBy
    on the distributed table; only the validator-dim-bounded result is
    collected."""
    mine = (
        gen_delegations(spark)
        .filter(F.col("delegator_address") == address)
        .groupBy(F.col("validator_address").alias("operator_address"))
        .agg(F.sum("shares").cast("long").alias("my_shares"))
    )
    rows = (
        gen_validators(spark)
        .join(mine, "operator_address", "left")
        .orderBy(F.col("voting_power").desc(), F.col("operator_address"))
        .select("operator_address", "moniker", "voting_power", "my_shares")
        .collect()
    )
    # W10: the caller's undelegation schedule (helper.ts
    # getUndelegateSchedule via getStaking.ts:119) — delegator-filtered
    # BEFORE the flatten, so the collect is response-bounded
    from classic_fcd_spark.queries.fcd_read import fcd_undelegation_schedule

    my_undelegations = [
        {
            "releaseTime": r["release_time"],
            "amount": _money(r["amount"]),
            "validatorName": r["validator_name"],
            "validatorAddress": r["validator_address"],
            "validatorStatus": r["validator_status"],
            "creationHeight": str(r["creation_height"]),
        }
        for r in fcd_undelegation_schedule(spark, "")
        .filter(F.col("delegator_address") == address)
        .collect()
    ]
    return _assemble_staking_view(rows, my_undelegations)


def _assemble_staking_view(rows, my_undelegations: list[dict]) -> dict:
    """getStaking.ts:74-90 response assembly from power-ordered
    validator rows carrying (operator_address, moniker, voting_power,
    my_shares-or-None): graft myDelegation/myUndelegation per
    validator, order myDelegations by amount desc then address
    (getMyDelegations' orderBy), delegationTotal = the reduce-plus.
    Pure function of the collected, dim-bounded rows so the ordering
    and total math is gated cross-engine directly
    (tests/test_serving_e2e.py::TestStakingAccountViewOracle)."""
    validators = []
    my_delegations = []
    total = 0
    for r in rows:
        v = {
            "operatorAddress": r["operator_address"],
            "description": {"moniker": r["moniker"]},
            "votingPower": _money(r["voting_power"]),
            # getStaking.ts:86-89 grafts the filtered schedule onto EVERY
            # validator — an empty array is truthy in JS, so the key is
            # always present (quirk preserved deliberately)
            "myUndelegation": [
                u
                for u in my_undelegations
                if u["validatorAddress"] == r["operator_address"]
            ],
        }
        if r["my_shares"] is not None:
            v["myDelegation"] = _money(r["my_shares"])
            my_delegations.append(
                {
                    "validatorName": r["moniker"],
                    "validatorAddress": r["operator_address"],
                    "amountDelegated": _money(r["my_shares"]),
                }
            )
            total += int(r["my_shares"])
        validators.append(v)
    my_delegations.sort(
        key=lambda d: (-Decimal(d["amountDelegated"]), d["validatorAddress"])
    )
    return {
        "validators": validators,
        "myDelegations": my_delegations,
        "delegationTotal": _money(total),
        "undelegations": my_undelegations,
    }


# helper.ts:21-40 getOnedayBefore: the newest price at or before
# midnight-minus-one-minute of "now" is the one-day-ago price
_DAY_CUT_S = (FIXTURE_NOW_EPOCH // 86400) * 86400 - 60


def _latest_prices(spark: SparkSession) -> tuple[dict, dict]:
    """(newest price per denom, newest at or before the one-day cut) —
    the getActiveOraclePrices / getOnedayBefore pair from one aggregate
    over the minute table, |denoms| rows collected.  A denom with no
    price at or before the cut is absent from the second dict."""
    cut = F.col("datetime") <= F.timestamp_seconds(F.lit(_DAY_CUT_S))
    rows = (
        gen_prices(spark)
        .groupBy("denom")
        .agg(
            F.max_by("price", "datetime").alias("now"),
            F.max_by(
                F.when(cut, F.col("price")), F.when(cut, F.col("datetime"))
            ).alias("before"),
        )
        .collect()
    )
    return (
        {r["denom"]: float(r["now"]) for r in rows},
        {r["denom"]: float(r["before"]) for r in rows if r["before"] is not None},
    )


def get_market_price(
    spark: SparkSession, denom: str, interval_minutes: int = 15
) -> dict:
    """getPrice.ts:92-116 — {lastPrice, oneDayVariation,
    oneDayVariationRate, prices}.

    prices = per-interval averages, newest 50 buckets fetched DESC then
    re-reversed for display (the L5 contract), each point carrying the
    bucket's MIN(datetime) as epoch-milliseconds.  Averages use the
    integer-e6 policy (sum of price-cents * 10000 div count) so the
    emitted floats are order-free deterministic, then /1e6.
    oneDayVariation = lastPrice - the newest price at or before
    midnight-minus-one-minute (helper.ts:21-40 getOnedayBefore);
    oneDayVariationRate = variation / lastPrice (both BigNumber strings
    in the reference — money-string scale here)."""
    from classic_fcd_spark.pipeline.prices import price_interval_buckets_e6

    p = gen_prices(spark).filter(F.col("denom") == denom)
    agg = (
        price_interval_buckets_e6(p, interval_minutes)
        .orderBy(F.col("w.start").desc())
        .limit(50)
        .select("avg_price_e6", "min_dt")
        .collect()
    )
    prices = [
        {
            "denom": denom,
            "price": r["avg_price_e6"] / 1e6,
            "datetime": int(r["min_dt"].timestamp()) * 1000,
        }
        for r in reversed(agg)
    ]
    now, day_before = _latest_prices(spark)
    last = now.get(denom)
    before = day_before.get(denom)
    variation = None
    rate = None
    if last is not None and before is not None:
        variation = _money(Decimal(str(last)) - Decimal(str(before)))
        rate = _money(
            (Decimal(str(last)) - Decimal(str(before))) / Decimal(str(last))
        )
    return {
        "lastPrice": last,
        "oneDayVariation": variation,
        "oneDayVariationRate": rate,
        "prices": prices,
    }


def get_dashboard_general_info(spark: SparkSession) -> dict:
    """GET /v1/dashboard's general payload (getGeneralInfo.ts; field
    list pinned by the reference's e2e spec dashboard.spec.ts:22-50):
    latest oracle prices per denom (money strings keyed by denom),
    taxRate + per-denom taxCaps (the engine's F13 constants —
    pipeline/medallion.py's tax math), per-denom issuances, and the
    stakingPool ratio/bonded/notBonded from the newest general-info
    snapshot.  The issuances are the fixture's constant dict, read in
    Python; every other piece is a dim-bounded or 1-row collect."""
    from classic_fcd_spark.pipeline.medallion import (
        DEFAULT_TAX_CAP,
        TAX_CAPS,
        TAX_RATE_E6,
    )
    from classic_fcd_spark.sources.fixtures import ISSUANCES, gen_general_info

    prices = {d: _money(p) for d, p in _latest_prices(spark)[0].items()}
    issuances = {d: _money(a) for d, a in sorted(ISSUANCES.items())}
    gi = (
        gen_general_info(spark)
        .orderBy(F.col("datetime").desc())
        .limit(1)
        .collect()[0]
    )
    bonded = int(gi["bonded_tokens"])
    ratio = Decimal(int(gi["staking_ratio_e6"])) / Decimal(1_000_000)
    # not-bonded backed out of ratio = bonded / (bonded + notBonded)
    not_bonded = int(bonded / float(ratio)) - bonded if ratio else 0
    return {
        "prices": prices,
        "taxRate": _money(Decimal(TAX_RATE_E6) / Decimal(1_000_000)),
        "taxCaps": [
            {"denom": d, "taxCap": _money(c)} for d, c in sorted(TAX_CAPS.items())
        ]
        + [{"denom": "*", "taxCap": _money(DEFAULT_TAX_CAP)}],
        "issuances": issuances,
        "stakingPool": {
            "stakingRatio": _money(ratio),
            "bondedTokens": _money(bonded),
            "notBondedTokens": _money(not_bonded),
        },
    }


def get_last_hour_ops_and_txs(spark: SparkSession) -> dict:
    """lastHourOpsAndTxs.ts:55-60 — {last_1h_op, last_1h_tx} over the
    final hour window; the counting semantics (ops = txs + MultiSend
    output fan-out, NO success filter) are the driver-gated
    fcd_last_hour_ops query."""
    from classic_fcd_spark.queries.fcd import fcd_last_hour_ops

    r = fcd_last_hour_ops(spark, "").collect()[0]
    return {"last_1h_op": int(r["last_1h_op"]), "last_1h_tx": int(r["last_1h_tx"])}


def get_validators_listing(spark: SparkSession) -> list[dict]:
    """getValidators.ts — the validator listing, power-desc (L6), each
    row the reference's response subset the fixture dimension carries:
    operatorAddress, accountAddress, description.moniker, votingPower
    (weight + share-of-total rate, both money strings), and
    commissionInfo.rate.  One dim-bounded collect; the share denominator
    is the sum of the collected rows."""
    rows = sorted(
        gen_validators(spark).collect(),
        key=lambda r: (-r["voting_power"], r["operator_address"]),
    )
    total = sum(Decimal(str(r["voting_power"])) for r in rows)
    out = []
    for r in rows:
        weight = Decimal(str(r["voting_power"]))
        out.append(
            {
                "operatorAddress": r["operator_address"],
                "accountAddress": r["account_address"],
                "description": {"moniker": r["moniker"]},
                "votingPower": {
                    "weight": _money(weight),
                    "rate": _money(weight / total),
                },
                "commissionInfo": {"rate": _money(r["commission_rate"])},
            }
        )
    return out


def get_proposals_listing(spark: SparkSession) -> list[dict]:
    """getProposals.ts:24-36 — the proposals page: each row the
    driver-gated fcd_proposals semantics (on-chain-removal anti-join,
    display maps, latest-vote tallies, non-voting validator count)
    reshaped into the reference's response nesting:
    {id, proposer, type, status, title, deposit, vote: {count, total,
    nonVotingCount}}."""
    from classic_fcd_spark.queries.fcd_read import fcd_proposals

    rows = fcd_proposals(spark, "").orderBy("proposal_id").collect()
    return [
        {
            "id": str(r["proposal_id"]),
            "proposer": {"accountAddress": r["proposer"]},
            "type": r["type_display"],
            "status": r["status_display"],
            "title": r["title"],
            "deposit": {"totalDeposit": [{"denom": "uluna", "amount": _money(r["deposit_total"])}]},
            "vote": {
                "count": {
                    "Yes": int(r["yes"]),
                    "No": int(r["no"]),
                    "NoWithVeto": int(r["no_with_veto"]),
                    "Abstain": int(r["abstain"]),
                },
                "total": int(r["yes"]) + int(r["no"]) + int(r["no_with_veto"]) + int(r["abstain"]),
                "nonVotingCount": int(r["n_nonvoting_validators"]),
            },
        }
        for r in rows
    ]


# ---------------------------------------------------------------------------
# Bronze-source seam: in production the dashboard/account endpoint
# family reads STORED bronze/silver tables written by the streaming
# ingest; the fixture generators stand in for those tables in the
# default (test/demo) deployment.  bronze_sources() swaps the stored
# tables in for a scope — the day-in-the-life e2e pins endpoint
# responses over the INGESTED tables against the fixture-bronze twins
# (the engine's analogue of dashboard.spec.ts running over a freshly
# collected database).  The scope lives in a ContextVar holding an
# IMMUTABLE mapping: nested and concurrent scopes are safe by
# construction — each enter builds a merged copy and each exit restores
# the caller's view via the token, instead of relying on a
# single-writer convention over a module-global dict.
# ---------------------------------------------------------------------------
import contextvars as _contextvars
from types import MappingProxyType as _MappingProxy

_SOURCE_OVERRIDES: _contextvars.ContextVar = _contextvars.ContextVar(
    "bronze_source_overrides", default=_MappingProxy({})
)


def _overrides():
    return _SOURCE_OVERRIDES.get()


@contextlib.contextmanager
def bronze_sources(
    txs: DataFrame | None = None,
    blocks: DataFrame | None = None,
    account_tx: DataFrame | None = None,
):
    """Scope the endpoint family onto stored bronze/silver tables:
    `txs` (tx bronze), `blocks` (block bronze with reward events),
    `account_tx` (the account_tx silver — pass the streamed one to skip
    re-deriving the regex address walk the ingest already paid for).

    Thread-locality: the scope lives in a ContextVar, so a worker
    thread SPAWNED INSIDE this scope starts from the default
    empty context and falls back to fixture sources — unlike the old
    module-global dict, which was process-visible.  Nothing in the repo
    threads through here today; if a future serving layer does, pass
    ``contextvars.copy_context()`` to the executor (or run the thread's
    body via ``ctx.run``) so the override propagates."""
    merged = dict(_overrides())
    for k, v in (("txs", txs), ("blocks", blocks), ("account_tx", account_tx)):
        if v is not None:
            merged[k] = v
    token = _SOURCE_OVERRIDES.set(_MappingProxy(merged))
    try:
        yield
    finally:
        _SOURCE_OVERRIDES.reset(token)


def _txs_bronze(spark: SparkSession) -> DataFrame:
    if "txs" in _overrides():
        return _overrides()["txs"]
    from classic_fcd_spark.sources.fixtures import gen_txs

    return gen_txs(spark)


def _blocks_bronze(spark: SparkSession) -> DataFrame:
    if "blocks" in _overrides():
        return _overrides()["blocks"]
    from classic_fcd_spark.sources.fixtures import gen_blocks

    return gen_blocks(spark)


def _day_ms(day: str) -> int:
    """'yyyy-MM-dd' -> epoch milliseconds at UTC midnight (the reference
    serializes Date.getTime() of the day's timestamp)."""
    import datetime

    d = datetime.datetime.strptime(day, "%Y-%m-%d").replace(
        tzinfo=datetime.timezone.utc
    )
    return int(d.timestamp()) * 1000


def _account_tx(spark: SparkSession):
    """The account_tx silver (the to_json + regex address walk — the
    serving layer's most expensive derivation), materialized ONCE per
    session via the bronze cache: _dashboard_days and
    _new_accounts_by_day both consume it, and without sharing each
    account endpoint would run the walk twice per request."""
    from classic_fcd_spark.pipeline.medallion import account_tx_silver
    from classic_fcd_spark.sources.fixtures import bronze_table, gen_txs

    # the seam bypasses the session cache: an overridden source is a
    # stored table (already materialized by the ingest), and caching it
    # under the fixture key would leak the override past its scope
    if "account_tx" in _overrides():
        return _overrides()["account_tx"]
    if "txs" in _overrides():
        return account_tx_silver(_overrides()["txs"])

    @bronze_table
    def _account_tx_bronze(s: SparkSession):
        return account_tx_silver(gen_txs(s))

    # stable cache key: decorate once at module import would rebuild per
    # reload; keying off the inner fn name is stable per session
    return _account_tx_bronze(spark)


def _dashboard_days(spark: SparkSession) -> list:
    """The day-grain dashboard gold rows, ascending — the shared input of
    every dashboard endpoint (dashboardHistory.ts): bounded by the chain's
    day count, so the collect is the response size."""
    from classic_fcd_spark.pipeline.medallion import (
        dashboard_gold,
        minute_rewards_silver,
    )

    return (
        dashboard_gold(
            _txs_bronze(spark),
            _account_tx(spark),
            minute_rewards_silver(_blocks_bronze(spark)),
        )
        .orderBy("day")
        .collect()
    )


def _new_accounts_by_day(spark: SparkSession) -> dict[str, int]:
    """day -> count of accounts whose FIRST-ever activity falls on that
    day — the engine's registration series (the reference counts account
    rows created by the collector; the fixture has no separate
    registration stream, so first-seen IS registration).  One groupBy on
    account (min day) + one day rollup; |days| rows collected."""
    at = _account_tx(spark)
    firsts = at.groupBy("account").agg(
        F.min(F.date_format("timestamp", "yyyy-MM-dd")).alias("day")
    )
    return {
        r["day"]: int(r["n"])
        for r in firsts.groupBy("day").agg(F.count("*").alias("n")).collect()
    }


def get_account_growth(spark: SparkSession) -> dict:
    """getAccountGrowth.ts:6-37 — {cumulative, periodic} account-count
    series: totalAccountCount = cumulative DISTINCT registered accounts
    (first-seen, _new_accounts_by_day — an account active on five days
    registers once), activeAccountCount = the reference's running sum of
    per-day actives (cumulative) / the day's active count (periodic).
    Shapes mirror the reference exactly: cumulative drops the first
    element, periodic starts at index 1 with day-over-day total deltas."""
    rows = _dashboard_days(spark)
    new_by_day = _new_accounts_by_day(spark)
    cumulative, periodic = [], []
    running_active = 0
    total = 0
    prev_total = None
    for r in rows:
        running_active += int(r["active_accounts"])
        total += new_by_day.get(r["day"], 0)
        cumulative.append(
            {
                "datetime": _day_ms(r["day"]),
                "totalAccountCount": total,
                "activeAccountCount": running_active,
            }
        )
        if prev_total is not None:
            periodic.append(
                {
                    "datetime": _day_ms(r["day"]),
                    "totalAccountCount": total - prev_total,
                    "activeAccountCount": int(r["active_accounts"]),
                }
            )
        prev_total = total
    return {"cumulative": cumulative[1:] if cumulative else [], "periodic": periodic}


def get_active_accounts(spark: SparkSession) -> dict:
    """getActiveAccounts.ts:4-15 — {total, periodic}: per-day active
    account counts plus the final registered (distinct first-seen)
    total."""
    rows = _dashboard_days(spark)
    new_by_day = _new_accounts_by_day(spark)
    periodic = [
        {"datetime": _day_ms(r["day"]), "value": int(r["active_accounts"])}
        for r in rows
    ]
    return {"total": sum(new_by_day.values()) if rows else 0, "periodic": periodic}


def get_registered_accounts(spark: SparkSession) -> dict:
    """getRegisteredAccounts.ts:4-29 — {total, periodic, cumulative}
    registered-account series (distinct first-seen accounts per day);
    first elements dropped like the reference's slice(1)."""
    rows = _dashboard_days(spark)
    if not rows:
        return {"total": 0, "periodic": [], "cumulative": []}
    new_by_day = _new_accounts_by_day(spark)
    running = 0
    cumulative, periodic = [], []
    for r in rows:
        n_new = new_by_day.get(r["day"], 0)
        running += n_new
        ms = _day_ms(r["day"])
        cumulative.append({"datetime": ms, "value": running})
        periodic.append({"datetime": ms, "value": n_new})
    return {
        "total": running,
        "periodic": periodic[1:],
        "cumulative": cumulative[1:],
    }


def get_transaction_vol(spark: SparkSession) -> dict:
    """getTransactionVol.ts:5-36 — per-denom {periodic, cumulative} tx
    volume series: [{denom, data: [{datetime, txVolume}]}], volumes as
    money strings, cumulative = running plus() per denom.  The rollup is
    the distributed tx_volume silver reduced to day grain; only
    day x denom rows are collected."""
    from classic_fcd_spark.pipeline.medallion import tx_volume_minute_silver

    rows = (
        tx_volume_minute_silver(_txs_bronze(spark))
        .withColumn("day", F.substring("minute", 1, 10))
        .groupBy("day", "denom")
        .agg(F.sum("volume").alias("vol"))
        .orderBy("day", "denom")
        .collect()
    )
    periodic: dict[str, list] = {}
    cumulative: dict[str, list] = {}
    running: dict[str, int] = {}
    for r in rows:
        d = r["denom"]
        ms = _day_ms(r["day"])
        v = int(r["vol"])
        periodic.setdefault(d, []).append({"datetime": ms, "txVolume": _money(v)})
        running[d] = running.get(d, 0) + v
        cumulative.setdefault(d, []).append(
            {"datetime": ms, "txVolume": _money(running[d])}
        )
    return {
        "periodic": [{"denom": d, "data": periodic[d]} for d in sorted(periodic)],
        "cumulative": [
            {"denom": d, "data": cumulative[d]} for d in sorted(cumulative)
        ],
    }


def get_block_rewards(spark: SparkSession) -> dict:
    """getBlockRewards.ts:5-27 — {periodic, cumulative} of the day's
    reward total (the reference's taxReward column), money strings,
    cumulative = running plus()."""
    rows = _dashboard_days(spark)
    periodic, cumulative = [], []
    running = 0
    for r in rows:
        v = int(r["reward_total"] or 0)
        ms = _day_ms(r["day"])
        periodic.append({"datetime": ms, "blockReward": _money(v)})
        running += v
        cumulative.append({"datetime": ms, "blockReward": _money(running)})
    return {"periodic": periodic, "cumulative": cumulative}


def _general_info_daily(spark: SparkSession) -> list:
    from classic_fcd_spark.queries.fcd_read import fcd_general_info_daily

    return fcd_general_info_daily(spark, "").orderBy(F.col("day").desc()).collect()


def get_seigniorage_proceeds(spark: SparkSession) -> list[dict]:
    """getSeigniorageProceeds.ts:17-31 — per-day seigniorage, newest
    first, DISTINCT ON (date) earliest snapshot (the W7 first-row-per-day
    shape the gated fcd_general_info_daily already computes)."""
    return [
        {
            "datetime": _day_ms(r["day"]),
            "seigniorageProceeds": _money(int(r["seigniorage"])),
        }
        for r in _general_info_daily(spark)
    ]


def get_staking_ratio(spark: SparkSession) -> list[dict]:
    """getStakingRatio.ts:17-32 — per-day staking ratio, newest first,
    same first-snapshot-per-day source; ratio emitted as the float the
    reference's column carries (exact: e6 integer / 1e6)."""
    return [
        {
            "datetime": _day_ms(r["day"]),
            "stakingRatio": int(r["staking_ratio_e6"]) / 1e6,
        }
        for r in _general_info_daily(spark)
    ]


def get_price_history(spark: SparkSession, day_count: int | None = None) -> dict:
    """getPriceHistory.ts:16-31 — {'<YYYY-MM-DD><denom>': avg-price
    money string}: the daily-average map keyed date||denom (the exact
    reference key format, getPriceObjKey).  Averages come from the gated
    A17 integer-e6 rollup (pipeline.prices.daily_avg_price_e6) so they
    are order-free exact; `day_count` keeps only the newest N days."""
    from classic_fcd_spark.pipeline.prices import daily_avg_price_e6
    from classic_fcd_spark.sources.fixtures import gen_prices

    rows = daily_avg_price_e6(gen_prices(spark)).collect()
    if day_count is not None:
        keep = sorted({r["day"] for r in rows}, reverse=True)[:day_count]
        rows = [r for r in rows if r["day"] in keep]
    return {
        f"{r['day']}{r['denom']}": _money(Decimal(int(r["avg_e6"])) / Decimal(1_000_000))
        for r in rows
    }


def get_denom_swap_rate(spark: SparkSession, base: str) -> list[dict]:
    """getSwapRate.ts:19-40 — swap rates of every active denom against
    `base`, with one-day variation.  getSwapRate (helper.ts:42-60):
    base uluna returns oracle prices as-is; otherwise uluna's rate is
    1/price[base] and every other denom's is price[d]/price[base].
    Output rows sorted by denom for determinism (the reference's
    Object.keys order is insertion-dependent)."""

    def swap_rates(prices: dict) -> dict:
        if base == "uluna":
            # Decimal, not float: the reference's variation math runs in
            # BigNumber decimal space even on this pass-through arm
            # (minus(1.71, 1.51) is exactly 0.2; float subtraction says
            # 0.19999999999999996 — caught by TestSwapRateOracle)
            return {d: Decimal(str(v)) for d, v in prices.items()}
        if base not in prices:
            return {}
        pb = Decimal(str(prices[base]))
        out = {"uluna": Decimal(1) / pb}
        for d, v in prices.items():
            if d != base:
                out[d] = Decimal(str(v)) / pb
        return out

    now, day_before = _latest_prices(spark)
    now_rates = swap_rates(now)
    before_rates = swap_rates(day_before)
    rows = []
    for d in sorted(now_rates):
        cur = now_rates[d]
        prev = before_rates.get(d)
        rows.append(
            {
                "denom": d,
                "swaprate": _money(cur),
                "oneDayVariation": _money(cur - prev) if prev is not None else "0",
                "oneDayVariationRate": _money(cur / prev - 1)
                if prev is not None
                else "0",
            }
        )
    return rows
