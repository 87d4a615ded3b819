"""Response-shape wrappers for the last reference read endpoints that
previously had only query-layer gates (the manifest's `query` rows):
proposal detail, the per-operator staking pages (delegations / claims /
delegators / return), the bank balance view, and the treasury surface
(taxproceeds / richlist / totalsupply / circulatingsupply), plus the
dashboard staking-return series.

Same contract as serving/endpoints.py: each wrapper preserves the
reference controller's response DICT shape while the work underneath is
the distributed plan already gated at the query layer; every collect is
page-, dim-, or day-bounded (the response size), never the corpus.

- get_staking_return          ← GET /v1/dashboard/staking_return
  (src/service/dashboard/getStakingReturn.ts:15-44: dailyReturn =
  (reward + airdrop) / avgStaking, 30-day moving average, ×365)
- get_proposal_detail         ← GET /v1/gov/proposals/:proposalId
  (src/service/governance/getProposal.ts:36-57: ProposalBasic +
  content array + tallyingParameters + validatorsNotVoted)
- get_delegation_txs          ← GET /v1/staking/validators/:op/delegations
  (src/service/staking/getDelegationTxs.ts:27-112 extractEvents +
  helper.ts getRawDelegationTxs keyset paging, limit+1 next probe)
- get_claims                  ← GET /v1/staking/validators/:op/claims
  (src/service/staking/getClaims.ts:62-199: withdraw msgs, amounts
  from the per-msg log events, same keyset paging)
- get_delegators_page         ← GET /v1/staking/validators/:op/delegators
  (src/service/staking/getDelegators.ts:33-48 getPaginatedDelegators)
- get_validator_return_by_op  ← GET /v1/staking/return/:operatorAddr
  (src/service/staking/getValidatorReturn.ts:11-48)
- get_account_balance         ← GET /v1/bank/:account
  (src/service/bank/getBalance/index.ts:16-34 + calculate.ts +
  getVesting.ts)
- get_tax_proceeds            ← GET /v1/taxproceeds
  (src/service/treasury/tax.ts:9-46)
- get_rich_list               ← GET /v1/richlist/:denom
  (src/service/treasury/richList.ts:9-31)
- get_total_supply            ← GET /v1/totalsupply/:denom
  (src/service/treasury/totalSupply.ts:6-16)
- get_circulating_supply      ← GET /v1/circulatingsupply/:denom
  (src/service/treasury/circulatingSupply.ts:15-59)
"""

from __future__ import annotations

import json
import re
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from classic_fcd_spark import session
from classic_fcd_spark.serving.endpoints import (
    _dashboard_days,
    _day_ms,
    _latest_prices,
    _money,
)
from classic_fcd_spark.sources.fixtures import (
    gen_delegations,
    gen_general_info,
    gen_txs,
    gen_validators,
)

# lib/constant.ts
MOVING_AVG_WINDOW_IN_DAYS = 30
DAYS_IN_YEAR = 365

# lib/common.ts:99 — the canonical coin ordering of every response
DENOM_ORDER = ["uluna", "ukrw", "usdr", "uusd"]

# lib/common.ts:120 isActiveCurrency + currencyToDenom: the currency
# aliases the supply endpoints accept alongside raw denoms
_ACTIVE_CURRENCIES = {"luna": "uluna", "krw": "ukrw", "sdr": "usdr", "usd": "uusd"}


def _sort_denoms(coins: list[dict]) -> list[dict]:
    """lib/common.ts sortDenoms: DENOM_ORDER index, unknowns last
    (stable)."""
    return sorted(
        coins,
        key=lambda c: DENOM_ORDER.index(c["denom"])
        if c["denom"] in DENOM_ORDER
        else 999,
    )


_AMOUNT_DENOM_RE = re.compile(r"[A-Z]{1,16}|[^A-Z]{1,64}", re.IGNORECASE)


def _split_denom_and_amount(s: str) -> dict:
    """lib/common.ts:111 splitDenomAndAmount ('123uluna' -> Coin)."""
    m = _AMOUNT_DENOM_RE.findall(s)
    return {"amount": m[0] if m else "", "denom": m[1] if len(m) > 1 else ""}


# ---------------------------------------------------------------------------
# GET /v1/dashboard/staking_return
# ---------------------------------------------------------------------------
def _daily_staking_inputs(spark: SparkSession) -> list[tuple[str, int, int, int]]:
    """(day, reward, airdrop, avg_staking) ascending — the DashboardEntity
    columns getStakingReturn reads, assembled from the day-grain gold
    (reward) and the general_info minute snapshots (avg bonded tokens;
    the fixture's airdrop series is the A15 (day_num+1)*1000+500 used by
    the gated fcd_total_staking_return airdrop column)."""
    gi = (
        gen_general_info(spark)
        .withColumn("m", (F.col("datetime").cast("long") - 1609459200) / 60)
        .groupBy(F.date_format("datetime", "yyyy-MM-dd").alias("day"))
        .agg(
            (F.min("m").cast("long") / 1440).cast("long").alias("day_num"),
            F.expr("CAST(SUM(bonded_tokens) div COUNT(*) AS BIGINT)").alias("staked"),
        )
        .collect()
    )
    by_day = {r["day"]: (int(r["day_num"]), int(r["staked"])) for r in gi}
    out = []
    for r in _dashboard_days(spark):
        day_num, staked = by_day.get(r["day"], (0, 0))
        out.append((r["day"], int(r["reward_total"] or 0), (day_num + 1) * 1000 + 500, staked))
    return out


def get_staking_return(spark: SparkSession) -> list[dict]:
    """getStakingReturn.ts:15-44 — per-day {datetime, dailyReturn,
    annualizedReturn}: dailyReturn = (reward + airdrop) / avgStaking
    ('0' when avgStaking is 0), annualized = 365 × the trailing
    30-day moving average with the reference's exact early-window
    divisor (len+1 before the window fills).  Day-bounded driver math
    (Decimal, money strings)."""
    return staking_return_series(_daily_staking_inputs(spark))


def staking_return_series(
    rows: list[tuple[str, int, int, int]]
) -> list[dict]:
    """The pure reduce of getStakingReturn.ts:18-38 over ascending
    (day, reward, airdrop, avg_staking) rows — separated from the
    fixture assembly so the cross-engine DuckDB oracle
    (tests/test_serving_detail.py::TestStakingReturnOracle) can drive
    it over a window-filling 40-day series as well as the endpoint's
    own inputs."""
    out: list[dict] = []
    moving_sum = Decimal(0)
    daily_returns: list[Decimal] = []
    for day, reward, airdrop, staked in rows:
        daily = (
            Decimal(reward + airdrop) / Decimal(staked) if staked else Decimal(0)
        )
        moving_sum += daily
        if len(daily_returns) >= MOVING_AVG_WINDOW_IN_DAYS:
            moving_sum -= daily_returns[len(daily_returns) - MOVING_AVG_WINDOW_IN_DAYS]
        divisor = (
            MOVING_AVG_WINDOW_IN_DAYS
            if len(daily_returns) >= MOVING_AVG_WINDOW_IN_DAYS
            else len(daily_returns) + 1
        )
        avg_daily = moving_sum / Decimal(divisor)
        out.append(
            {
                "datetime": _day_ms(day),
                "dailyReturn": _money(daily),
                "annualizedReturn": _money(avg_daily * DAYS_IN_YEAR),
            }
        )
        daily_returns.append(daily)
    return out


# ---------------------------------------------------------------------------
# GET /v1/gov/proposals/:proposalId
# ---------------------------------------------------------------------------
# The reference stores the LCD tallying-params snapshot per proposal
# (getProposal.ts:71); the fixture pins the chain-wide default values —
# a config-valued field, same class as MIN_GAS_PRICES in the manifest.
TALLYING_PARAMETERS = {"quorum": "0.400000000000000000", "threshold": "0.500000000000000000", "veto": "0.334000000000000000"}


def get_proposal_detail(
    spark: SparkSession, proposal_id: int, account: str | None = None
) -> dict:
    """getProposal.ts:36-57 — ProposalBasic (the listing row shape) plus
    content, tallyingParameters, and — for an account on a VotingPeriod
    proposal — validatorsNotVoted: active validators the account
    delegates to whose validator account has no (latest) vote on the
    proposal.  Raises KeyError for a proposal that is absent or removed
    from chain (the D1 anti-join; reference 404s)."""
    from classic_fcd_spark.serving.endpoints import get_proposals_listing

    basics = {p["id"]: p for p in get_proposals_listing(spark)}
    basic = basics.get(str(proposal_id))
    if basic is None:
        raise KeyError(f"Proposal not found: {proposal_id}")
    # fixture proposals carry only title+description content, which
    # makeContentArray filters out — content is the (empty) remainder
    detail = {**basic, "content": [], "tallyingParameters": TALLYING_PARAMETERS}
    if not account or basic["status"] != "Voting":
        return detail
    from classic_fcd_spark.operators.windows import latest_per_key
    from classic_fcd_spark.sources.fixtures import gen_votes

    delegated_ops = gen_delegations(spark).filter(
        F.col("delegator_address") == account
    ).select(F.col("validator_address").alias("operator_address")).distinct()
    voters = {
        r["voter"]
        for r in latest_per_key(
            gen_votes(spark).filter(F.col("proposal_id") == proposal_id),
            ["voter"],
            "vote_id",
        )
        .select("voter")
        .collect()
    }
    vals = (
        gen_validators(spark)
        .join(F.broadcast(delegated_ops), "operator_address", "left_semi")
        .select("operator_address", "account_address", "moniker")
        .collect()
    )
    detail["validatorsNotVoted"] = [
        {
            "operatorAddress": r["operator_address"],
            "accountAddress": r["account_address"],
            "description": {"moniker": r["moniker"]},
        }
        for r in vals
        if r["account_address"] not in voters
    ]
    return detail


# ---------------------------------------------------------------------------
# Staking pages: delegations / claims keyset paging (helper.ts
# getRawDelegationTxs / getClaims.ts getClaimTxs — `id < offset`,
# ORDER BY timestamp DESC, take limit+1, next = second-to-last id).
# ---------------------------------------------------------------------------
def _txs_with_id(txs: DataFrame) -> DataFrame:
    """The reference pages on TxEntity.id (insertion order).  The fixture
    regenerates txs, so insertion order IS (timestamp, hash) order — a
    deterministic window stamps the equivalent id.  Bounded: runs over
    the already-filtered tx stream, and only pages are collected."""
    w = Window.orderBy(F.col("timestamp").asc(), F.col("hash").asc())
    return txs.withColumn("id", F.row_number().over(w))


# Pages of one filter chain share one persisted id-stamped frame, so a
# cursor walk does not re-run the global id-stamping sort per page (the
# serving soft spot the extract exists to avoid).  Entries live in the
# session registry under ("stamped", scope); scopes are per-operator or
# per-account strings, so at most _STAMPED_CAP of them are kept and a
# miss at the cap drops the least recently used one, keeping a
# long-lived serving session's executor storage bounded.  The memo
# assumes a tx source that is immutable for the session's lifetime.
_STAMPED_CAP = 32


def _stamped_for(scope: str | None, filtered: DataFrame) -> DataFrame:
    if scope is None:
        return _txs_with_id(filtered)

    def build():
        # the registry keeps recency order, so the first is the LRU one
        stamped = [k for k in session._SESSION_MEMO if k[1][:1] == ("stamped",)]
        if len(stamped) >= _STAMPED_CAP:
            session._evict(stamped[0].__eq__)
        return _txs_with_id(filtered).persist()

    return session._lookup(filtered.sparkSession, ("stamped", scope), build)


def _keyset_page(
    filtered: DataFrame, limit: int, offset: int | None, scope: str | None = None
):
    """(page_rows, next): the getClaimTxs paging contract — id < offset,
    newest first, limit+1 probe; next is rows[limit-1].id when a full
    probe came back."""
    q = _stamped_for(scope, filtered)
    if offset:
        q = q.filter(F.col("id") < offset)
    rows = (
        q.orderBy(F.col("timestamp").desc(), F.col("id").desc())
        .limit(limit + 1)
        .collect()
    )
    next_id = None
    if len(rows) == limit + 1:
        next_id = rows[limit - 1]["id"]
        rows = rows[:limit]
    return rows, next_id


def _iso(ts) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def get_delegation_txs(
    spark: SparkSession,
    operator: str,
    limit: int = 10,
    offset: int | None = None,
    txs: DataFrame | None = None,
) -> dict:
    """getDelegationTxs.ts:100-112 — {next, limit, events} for one
    operator: successful txs passing the P3 OR-of-brackets filter
    (helper.ts:21-70, the driver-gated delegation_tx_filter), each msg
    mapped per extractEvents (Delegate / Create Validator / Redelegate
    with src-side negation / Undelegate with negation); msg JSON parsed
    driver-side for the one page only."""
    from classic_fcd_spark.queries.fcd import delegation_tx_filter

    src = txs if txs is not None else gen_txs(spark)
    rows, next_id = _keyset_page(
        src.filter(delegation_tx_filter(operator)),
        limit,
        offset,
        # fixture frames share one stamped persist per operator; an
        # injected tx frame (tests) skips the memo to stay hermetic
        scope=f"delegation:{operator}" if txs is None else None,
    )
    events = []
    for r in rows:
        for m in r["msgs"]:
            v = json.loads(m["value"])
            ev = None
            if m["type"] == "staking/MsgDelegate" and v.get("validator_address") == operator:
                ev = ("Delegate", v["amount"])
            elif m["type"] == "staking/MsgCreateValidator" and v.get("validator_address") == operator:
                ev = ("Create Validator", v["value"])
            elif m["type"] == "staking/MsgBeginRedelegate":
                src_a, dst_a = v.get("validator_src_address"), v.get("validator_dst_address")
                if operator in (src_a, dst_a):
                    amt = v.get("amount", {}).get("amount")
                    if src_a == operator and amt:
                        amt = f"-{amt}"
                    ev = ("Redelegate", {"denom": "uluna", "amount": amt})
            elif m["type"] == "staking/MsgUndelegate" and v.get("validator_address") == operator:
                ev = ("Undelegate", {"denom": v["amount"]["denom"], "amount": f"-{v['amount']['amount']}"})
            if ev is not None:
                events.append(
                    {
                        "id": r["id"],
                        "chainId": r["chain_id"],
                        "height": str(r["height"]),
                        "txhash": r["hash"],
                        "type": ev[0],
                        "amount": ev[1],
                        "timestamp": _iso(r["timestamp"]),
                    }
                )
    return {"next": next_id, "limit": limit, "events": events}


_WITHDRAW_TYPES = (
    "distribution/MsgWithdrawValidatorCommission",
    "distribution/MsgWithdrawDelegationReward",
)


def _operator_account(spark: SparkSession, operator: str) -> str | None:
    """operator -> account address via the validators dim (the
    reference's bech32 convertAddress; the fixture dim pins the pairs)."""
    rows = (
        gen_validators(spark)
        .filter(F.col("operator_address") == operator)
        .select("account_address")
        .collect()
    )
    return rows[0]["account_address"] if rows else None


def get_claims(
    spark: SparkSession,
    operator: str,
    limit: int = 10,
    offset: int | None = None,
    txs: DataFrame | None = None,
) -> dict:
    """getClaims.ts:187-199 — {next, limit, claims} for one operator:
    successful txs whose msgs contain a commission withdrawal for the
    operator OR a delegation-reward withdrawal for the operator by its
    own account (the addClaimFilterToQuery brackets, getClaims.ts:
    140-165); per-msg amounts come from the msg's log events
    (withdraw_commission / withdraw_rewards attributes[0].value, the
    columbus-3+ parseTxEntity arm, getClaims.ts:62-110), split and
    denom-sorted.  The default fixture has no withdraw msgs — the page
    machinery is exercised in tests with an injected tx frame."""
    acct = _operator_account(spark, operator)

    def m_pred(m):
        vaddr = F.get_json_object(m["value"], "$.validator_address")
        daddr = F.get_json_object(m["value"], "$.delegator_address")
        return (
            (m["type"] == _WITHDRAW_TYPES[0]) & (vaddr == operator)
        ) | (
            (m["type"] == _WITHDRAW_TYPES[1])
            & (vaddr == operator)
            & (daddr == F.lit(acct))
        )

    src = txs if txs is not None else gen_txs(spark)
    filtered = src.filter(F.col("code").isNull() & F.exists("msgs", m_pred))
    rows, next_id = _keyset_page(
        filtered, limit, offset,
        scope=f"claims:{operator}" if txs is None else None,
    )
    claims = []
    for r in rows:
        logs = json.loads(r["logs_json"]) if r["logs_json"] else []
        for i, m in enumerate(r["msgs"]):
            if m["type"] == _WITHDRAW_TYPES[0]:
                ctype, ev_type = "Commission", "withdraw_commission"
            elif m["type"] == _WITHDRAW_TYPES[1]:
                ctype, ev_type = "Reward", "withdraw_rewards"
            else:
                continue
            events = logs[i].get("events", []) if i < len(logs) else []
            ev = next((e for e in events if e.get("type") == ev_type), None)
            if ev is None:
                continue
            raw = (ev.get("attributes") or [{}])[0].get("value", "")
            amounts = _sort_denoms(
                [_split_denom_and_amount(c) for c in raw.split(",") if c]
            )
            claims.append(
                {
                    "chainId": r["chain_id"],
                    "txhash": r["hash"],
                    "tx": r["hash"],
                    "type": ctype,
                    "amounts": amounts,
                    "timestamp": _iso(r["timestamp"]),
                }
            )
    return {"next": next_id, "limit": limit, "claims": claims}


# ---------------------------------------------------------------------------
# GET /v1/staking/validators/:operatorAddr/delegators
# ---------------------------------------------------------------------------
def get_delegators_page(
    spark: SparkSession, operator: str, page: int = 1, limit: int = 10
) -> dict:
    """getDelegators.ts:33-48 — {totalCnt, page, limit, delegators} with
    weight = shares / total (money string), weight-desc (A21, the gated
    fcd_delegator_weights semantics generalized to any operator);
    address tiebreak keeps the fixture page deterministic."""
    mine = (
        gen_delegations(spark)
        .filter(F.col("validator_address") == operator)
        .groupBy(F.col("delegator_address").alias("address"))
        .agg(F.sum("shares").cast("long").alias("amount"))
    )
    # a popular validator's delegator set is unbounded: the
    # page order + LIMIT run in Spark (TakeOrdered — distributed, no
    # unpartitioned window) and only page*limit rows ever reach the
    # driver; totalCnt/total come from one bounded 1-row aggregate
    tot = mine.agg(
        F.count("*").alias("cnt"), F.sum("amount").alias("total")
    ).collect()[0]
    total_cnt, total = int(tot["cnt"]), tot["total"]
    start = (page - 1) * limit
    rows = (
        mine.orderBy(F.col("amount").desc(), "address")
        .limit(page * limit)
        .collect()[start : start + limit]
    )
    delegators = [
        {
            "address": r["address"],
            "amount": _money(r["amount"]),
            "weight": _money(Decimal(r["amount"]) / Decimal(total)),
        }
        for r in rows
    ]
    return {
        "totalCnt": total_cnt,
        "page": page,
        "limit": limit,
        "delegators": delegators,
    }


# ---------------------------------------------------------------------------
# GET /v1/staking/return/:operatorAddr
# ---------------------------------------------------------------------------
def get_validator_return_by_op(
    spark: SparkSession, operator: str | None = None
) -> dict:
    """getValidatorReturn.ts:11-48 — {operatorAddress: {stakingReturn,
    isNewValidator}}: the A14 annualized per-validator return (gated
    fcd_validator_annual_return) plus the A15 airdrop annual average,
    isNewValidator when the validator has < 15 data points.  One
    dim-bounded collect; `operator` narrows to one validator (the $1
    parameter arm of the raw query)."""
    from classic_fcd_spark.queries.fcd import (
        _airdrop_annual_return,
        fcd_validator_annual_return,
    )

    rets = fcd_validator_annual_return(spark, "")
    if operator is not None:
        rets = rets.filter(F.col("operator_address") == operator)
    airdrop_e12 = int(
        _airdrop_annual_return(spark).collect()[0]["airdrop_annual_e12"]
    )
    out = {}
    for r in rets.collect():
        ret = (
            Decimal(int(r["annual_return_e6"])) / Decimal(1_000_000)
            + Decimal(airdrop_e12) / Decimal(10**12)
        )
        out[r["operator_address"]] = {
            "stakingReturn": _money(ret),
            "isNewValidator": bool(r["is_new_validator"]),
        }
    return out


# ---------------------------------------------------------------------------
# GET /v1/bank/:account
# ---------------------------------------------------------------------------
def get_account_balance(spark: SparkSession, address: str) -> dict:
    """getBalance/index.ts:16-34 — {balance, vesting, delegations,
    unbondings}: the F16/F17 normalize→freed-rate→vesting-balance
    composition of the gated fcd_bank_balance, widened with the
    per-denom delegatedVesting / delegatable / unbonding fields and the
    per-schedule vesting detail of calculate.ts:85-93 / getVesting.ts:
    13-38, both coin lists denom-sorted.  Raises KeyError for an
    unknown account (the LCD 404)."""
    from classic_fcd_spark.functions.compat import (
        freed_rate,
        normalize_account,
        vesting_balance,
    )
    from classic_fcd_spark.queries.fcd_read import _BALANCE_ACCOUNTS, _NOW_MS

    raw = spark.createDataFrame(
        [(json.dumps(a),) for a in _BALANCE_ACCOUNTS], ["raw"]
    )
    acc_rows = (
        raw.select(normalize_account("raw").alias("a"))
        .filter(F.col("a.address") == address)
        .collect()
    )
    if not acc_rows:
        raise KeyError(f"Account not found: {address}")
    a = acc_rows[0]["a"]
    ov_map = {c["denom"]: c["amount"] for c in (a["original_vesting"] or [])}
    dv_map = {c["denom"]: c["amount"] for c in (a["delegated_vesting"] or [])}
    sch_map = {
        v["denom"]: v["schedules"] for v in (a["vesting_schedules"] or [])
    }
    # the per-coin arithmetic stays the gated column algebra, but as ONE
    # plan over the coins array — one row per coin carrying its own
    # schedules, freed_rate and vesting_balance evaluated in the same
    # select, one collect (not a Spark job per coin and per vesting
    # schedule in a Python loop)
    coin_rows = [
        (
            c["denom"],
            float(c["amount"]),
            float(ov_map.get(c["denom"], 0)),
            float(dv_map.get(c["denom"], 0)),
            [
                (s["start_time"], s["end_time"], s["ratio"])
                for s in (sch_map.get(c["denom"]) or [])
            ],
            # calculate.ts:61-62: isVested = isLuna || usdr
            c["denom"] in ("uluna", "usdr"),
        )
        for c in (a["coins"] or [])
    ]
    balance = []
    if coin_rows:
        cdf = spark.createDataFrame(
            coin_rows,
            "denom string, amount double, ov double, dv double, "
            "sch array<struct<start_time:string,end_time:string,ratio:string>>, "
            "is_vested boolean",
        )
        rows = cdf.select(
            "denom",
            "amount",
            "dv",
            vesting_balance(
                F.col("amount"),
                F.col("ov"),
                F.col("dv"),
                F.coalesce(freed_rate(F.col("sch"), _NOW_MS), F.lit(0.0)),
                F.col("is_vested"),
            ).alias("b"),
        ).collect()
        for r in rows:
            balance.append(
                {
                    "denom": r["denom"],
                    "available": _money(r["b"]["available"]),
                    "delegatedVesting": _money(r["dv"]),
                    "delegatable": _money(r["amount"])
                    if r["denom"] == "uluna"
                    else "0",
                    "freedVesting": _money(r["b"]["freed_vesting"]),
                    "unbonding": "0",  # no unbonding fixture stream
                    "remainingVesting": _money(r["b"]["remaining_vesting"]),
                }
            )
    vesting = []
    for denom in (c["denom"] for c in (a["original_vesting"] or [])):
        ov = Decimal(ov_map.get(denom, "0"))
        schedules = []
        for s in sch_map.get(denom) or []:
            start, end = int(float(s["start_time"])), int(float(s["end_time"]))
            fr = (
                (min(end, _NOW_MS) - start) / (end - start)
                if end != start
                else 0.0
            )
            schedules.append(
                {
                    "amount": _money(ov * Decimal(s["ratio"])),
                    "startTime": start,
                    "endTime": end,
                    "ratio": float(s["ratio"]),
                    "freedRate": fr if fr > 0 else 0,
                }
            )
        vesting.append(
            {"denom": denom, "total": _money(ov), "schedules": schedules}
        )
    delegations = [
        {
            "delegator_address": r["delegator_address"],
            "validator_address": r["validator_address"],
            "shares": _money(r["shares"]),
        }
        for r in gen_delegations(spark)
        .filter(F.col("delegator_address") == address)
        .collect()
    ]
    # unbondings in the raw LCD staking/unbonding_delegations shape
    # (getBalance/index.ts:27 passes them through; getStaking flattens
    # them via getUndelegateSchedule) — delegator-filtered, bounded
    from classic_fcd_spark.sources.fixtures import gen_unbondings

    unbondings = [
        {
            "delegator_address": r["delegator_address"],
            "validator_address": r["validator_address"],
            "entries": [
                {
                    "creation_height": str(e["creation_height"]),
                    "completion_time": e["completion_time"],
                    "balance": _money(e["balance"]),
                }
                for e in r["entries"]
            ],
        }
        for r in gen_unbondings(spark)
        .filter(F.col("delegator_address") == address)
        .collect()
    ]
    return {
        "balance": _sort_denoms(balance),
        "vesting": _sort_denoms(vesting),
        "delegations": delegations,
        "unbondings": unbondings,
    }


# ---------------------------------------------------------------------------
# Treasury: taxproceeds / richlist / totalsupply / circulatingsupply
# ---------------------------------------------------------------------------
def get_tax_proceeds(spark: SparkSession) -> dict:
    """tax.ts:9-46 — {total, taxProceeds: [{denom, amount,
    adjustedAmount}]}: per-denom tax sums from the F13 per-tx tax
    aggregate (the fcd_minute_fees input), adjusted into Luna terms by
    the active oracle price; denoms without a price are dropped, uluna
    passes through, total accumulates adjusted amounts.  One
    denom-bounded collect."""
    from classic_fcd_spark.pipeline.medallion import tax_per_tx_denom

    sums = (
        tax_per_tx_denom(gen_txs(spark))
        .groupBy("denom")
        .agg(F.sum("tax").alias("amount"))
        .collect()
    )
    prices = _latest_prices(spark)[0]
    total = Decimal(0)
    proceeds = []
    for r in _sort_denoms([{"denom": r["denom"], "amount": int(r["amount"])} for r in sums]):
        denom, amount = r["denom"], Decimal(r["amount"])
        if denom == "uluna":
            total += amount
            proceeds.append(
                {"denom": denom, "amount": _money(amount), "adjustedAmount": _money(amount)}
            )
            continue
        price = prices.get(denom)
        if not price:
            continue
        adjusted = amount / Decimal(str(price))
        total += adjusted
        proceeds.append(
            {"denom": denom, "amount": _money(amount), "adjustedAmount": _money(adjusted)}
        )
    return {"total": _money(total), "taxProceeds": proceeds}


def get_rich_list(
    spark: SparkSession, denom: str, page: int = 1, limit: int = 10
) -> list[dict]:
    """richList.ts:9-31 — one page of {account, amount}, amount-desc
    (the S6 CSV source the gated fcd_richlist reads); denoms without a
    tracking file serve an empty list (the reference's empty
    RichListEntity result)."""
    if not denom or limit < 1 or page < 1:
        raise ValueError("invalid parameter")
    import os as _os

    from classic_fcd_spark.queries.fcd import _fixture_files_dir
    from classic_fcd_spark.sources.files import read_richlist_lines

    path = _os.path.join(_fixture_files_dir(spark), f"tracking-{denom}.csv")
    if not _os.path.exists(path):
        return []
    # the file's relation is held open as a view: re-reading it per
    # request re-lists the file, and a DataFrame plan costs a py4j round
    # trip per call; the page never reads the share-of-total column
    key = ("richlist", path)
    session._lookup_view(spark, key, lambda: read_richlist_lines(spark, path))
    rows = spark.sql(
        f"SELECT account, amount FROM {session.view_name(key)}"
        " ORDER BY amount DESC, account LIMIT :n",
        args={"n": page * limit},
    ).collect()
    return [
        {"account": r["account"], "amount": _money(int(r["amount"]))}
        for r in rows[(page - 1) * limit : page * limit]
    ]


def _resolve_denom(inp: str) -> str:
    return _ACTIVE_CURRENCIES.get(inp.lower(), inp)


def get_total_supply(spark: SparkSession, inp: str) -> str:
    """totalSupply.ts:6-16 — the denom's issuance as a string; a
    currency alias ('luna') resolves to its denom and divides by 1e6
    (macro units)."""
    from classic_fcd_spark.sources.fixtures import ISSUANCES

    denom = _resolve_denom(inp)
    supply = Decimal(ISSUANCES.get(denom, 0))
    return _money(supply / 1_000_000) if inp != denom else _money(supply)


def get_circulating_supply(spark: SparkSession, inp: str) -> str:
    """circulatingSupply.ts:15-59 — total supply minus the latest
    unvested amount for the denom (the S7 JSON vesting source the gated
    fcd_unvested reads; newest row, the ORDER BY id DESC take 1).  The
    uluna community-pool / bank-wallet subtractions are zero here (no
    fixture stream; config.BANK_WALLETS empty).  Currency aliases
    divide like totalSupply."""
    import os as _os

    from classic_fcd_spark.queries.fcd import _fixture_files_dir
    from classic_fcd_spark.sources.files import read_vesting_json
    from classic_fcd_spark.sources.fixtures import ISSUANCES

    denom = _resolve_denom(inp)
    supply = Decimal(ISSUANCES.get(denom, 0))
    path = _os.path.join(_fixture_files_dir(spark), "vesting.json")
    unvested = (
        read_vesting_json(spark, path)
        .filter(F.col("denom") == denom)
        .orderBy(F.col("datetime").desc())
        .limit(1)
        .collect()
    )
    if unvested:
        supply -= Decimal(str(unvested[0]["amount"]))
    return _money(supply / 1_000_000) if inp != denom else _money(supply)
