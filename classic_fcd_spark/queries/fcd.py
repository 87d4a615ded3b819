"""fcd domain pipeline inventory — oracle-checked end to end.

The fixture (sources/fixtures.py) is a pure arithmetic function of the
row index, so these oracles REGENERATE the data in SQL and recompute the
aggregates directly — skipping Spark's path entirely.  A hash match
therefore proves the whole domain pipeline: JSON construction →
from_json typed parse → explode → filter → window/groupBy → joins.

(sf_dir is ignored: the fixture is self-contained and scale-independent;
the driver still gets deterministic, hash-stable results.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.pipeline.medallion import (
    account_tx_silver,
    swap_volume_minute_silver,
    dashboard_gold,
    minute_rewards_silver,
    reward_minute_fees,
    tx_volume_minute_silver,
    validator_returns_gold,
)
from classic_fcd_spark.pipeline.governance import vote_tally
from classic_fcd_spark.pipeline.prices import (
    daily_avg_price_e6,
    luna_value_e6,
    usd_value_e6,
    with_day_prices,
)
from classic_fcd_spark.queries.registry import register
from classic_fcd_spark.sources.fixtures import (
    FIXTURE_N_BLOCKS as N,
)
from classic_fcd_spark.sources.fixtures import (
    FIXTURE_N_PRICE_MINUTES as NP,
)
from classic_fcd_spark.sources.fixtures import (
    BLOCK_SPACING_S,
    DUCK_ACCOUNT_TX_CTE,
    DUCK_ACCOUNTS_DIM_CTE,
    DUCK_DELEGATIONS,
    DUCK_ISSUANCES,
    DUCK_PRICES,
    DUCK_VOTES,
    duck_addr,
    duck_denom,
    duck_valaddr,
    gen_account_tx_page,
    gen_accounts_dim,
    gen_blocks,
    gen_delegations,
    gen_issuances,
    gen_prices,
    gen_txs,
    gen_validators,
    gen_votes,
)

# ---------------------------------------------------------------------------
# Session-persisted fixture SILVERS over the persisted bronzes (gen_txs /
# gen_blocks): without them every query call re-derives its silver, and
# the account_tx regex JSON walk and the minute-rewards rollup each have
# several consumers per pass (the queries here and the serving
# endpoints).  In the streamed deployment these silvers are exactly what
# the ingest stores (serving/endpoints.bronze_sources); the fixture path
# matches that shape.  Fixtures are deterministic per session, so a
# static key is the correct generation key.
# ---------------------------------------------------------------------------
def _account_tx_silver_cached(spark: SparkSession) -> DataFrame:
    from classic_fcd_spark.session import session_silver

    return session_silver(
        spark, "fcd:account_tx_silver", lambda: account_tx_silver(gen_txs(spark))
    )


def _minute_rewards_silver_cached(spark: SparkSession) -> DataFrame:
    from classic_fcd_spark.session import session_silver

    return session_silver(
        spark, "fcd:minute_rewards_silver", lambda: minute_rewards_silver(gen_blocks(spark))
    )


_TS = f"make_timestamp((1609459200 + h * {BLOCK_SPACING_S}) * 1000000)"
_MINUTE = f"strftime(date_trunc('minute', {_TS}), '%Y-%m-%d %H:%M:%S')"
_DAY = f"strftime({_TS}, '%Y-%m-%d')"

_TXBASE = f"""
    txbase AS (
        SELECT h, k, h * 3 + k AS i
        FROM (SELECT unnest(range(1, {N} + 1)) AS h),
             (SELECT unnest(range(0, 3)) AS k)
        WHERE k < h % 3
    )
"""


# ---------------------------------------------------------------------------
# A5/D2/P2/P4 + T3: tx volume per minute × denom through the real
# JSON-parse path.
# ---------------------------------------------------------------------------
@register(
    "fcd_tx_volume_minute",
    f"""
    WITH {_TXBASE},
    coins AS (
        SELECT h, {duck_denom("i")} AS denom, i * 37 % 1000 + 1 AS amount
        FROM txbase WHERE i % 5 < 2 AND i % 10 <> 0
        UNION ALL
        SELECT h, {duck_denom("i")}, i * 37 % 1000 + 1
        FROM txbase WHERE i % 5 = 2 AND i % 10 <> 0
        UNION ALL
        SELECT h, {duck_denom("i + 1")}, i * 37 % 1000 + 6
        FROM txbase WHERE i % 5 = 2 AND i % 10 <> 0
    )
    SELECT {_MINUTE} AS minute, denom,
           CAST(SUM(amount) AS BIGINT) AS volume,
           COUNT(*) AS n_coins
    FROM coins GROUP BY 1, 2
    """,
    doc="A5 minute tx volume (MsgSend amounts + MsgMultiSend input coins, "
    "successful only — src/collector/block/network.ts:14-107) + D2 merge "
    "+ P4 success filter + T3 minute grain.  Spark side runs the REAL "
    "path (nested JSON → from_json → exists-filter → explode → window); "
    "the oracle recomputes from the fixture arithmetic — a hash match "
    "proves the whole parse/explode/aggregate pipeline.",
)
def fcd_tx_volume_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx_volume_minute_silver(gen_txs(spark))


# ---------------------------------------------------------------------------
# F4/D5: account_tx explode.
# ---------------------------------------------------------------------------
@register(
    "fcd_account_tx_counts",
    f"""
    WITH {_TXBASE},
    peraddr AS (
        SELECT i, unnest(list_distinct(
            CASE
                WHEN i % 5 < 2 THEN [{duck_addr("i % 50")}, {duck_addr("(i * 7 + 1) % 50")}]
                WHEN i % 5 = 2 THEN [{duck_addr("i % 50")}, {duck_addr("(i * 7 + 1) % 50")}, {duck_addr("(i * 7 + 2) % 50")}]
                WHEN i % 5 = 3 THEN [{duck_addr("i % 50")}, {duck_valaddr("i % 20")}]
                ELSE [{duck_addr("i % 50")}]
            END)) AS account
        FROM txbase
    )
    SELECT account, COUNT(*) AS n_txs
    FROM peraddr
    WHERE regexp_matches(account, '^terra(valoper)?1[a-z0-9]{{38}}$')
    GROUP BY account
    """,
    doc="F4 exhaustive address extraction (regex over serialized msgs — "
    "src/collector/block/accountTx.ts:5-58) + D5 per-tx distinct + the "
    "account_tx explode + P9 address-shape validation (the rlike form of "
    "src/lib/constant.ts:7-9's route regexes) run as a cross-engine "
    "predicate on BOTH sides: every extracted "
    "address must clear the anchored bech32-shape regex in Spark AND "
    "DuckDB — regex-semantics parity is now driver-hash-gated, not "
    "unit-only.  Oracle reconstructs the address membership from the "
    "fixture arithmetic; match proves regex extraction finds exactly "
    "the planted addresses (both terra1 and terravaloper1 forms).",
)
def fcd_account_tx_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    at = _account_tx_silver_cached(spark)
    # P9 validation predicate (serving/api.py ACCOUNT_REGEX/OPERATOR_REGEX
    # in their set form): malformed addresses must never reach the silver
    # rollup — on the fixture this is accept-all (addresses are well
    # formed by construction; reject cases are unit-gated in
    # tests/test_serving_e2e.py), so the driver hash pins that the two
    # engines' regex engines AGREE on the accept side.
    return (
        at.filter(F.col("account").rlike(r"^terra(valoper)?1[a-z0-9]{38}$"))
        .groupBy("account")
        .agg(F.count("*").alias("n_txs"))
    )


# ---------------------------------------------------------------------------
# A13/A14 + J5: validator returns with broadcast dim join.
# ---------------------------------------------------------------------------
@register(
    "fcd_validator_returns",
    f"""
    WITH blocks AS (SELECT unnest(range(1, {N} + 1)) AS h),
    ev AS (
        SELECT {_DAY} AS day, {duck_valaddr("h % 20")} AS operator_address,
               (h * 13 % 500 + 1) + (h * 11 % 300 + 1) AS amt
        FROM blocks
        UNION ALL
        SELECT {_DAY}, {duck_valaddr("(h + 1) % 20")}, h * 7 % 200 + 1 FROM blocks
    ),
    daily AS (
        SELECT day, operator_address, CAST(SUM(amt) AS BIGINT) AS reward_sum
        FROM ev GROUP BY 1, 2
    ),
    vals AS (
        SELECT {duck_valaddr("v")} AS operator_address,
               'validator-' || CAST(v AS VARCHAR) AS moniker,
               v * 1000 + 5000 AS voting_power
        FROM (SELECT unnest(range(0, 20)) AS v)
    )
    SELECT day, daily.operator_address, moniker, reward_sum,
           CAST(reward_sum * 1000000 // voting_power AS BIGINT) AS return_e6
    FROM daily JOIN vals ON daily.operator_address = vals.operator_address
    """,
    doc="A13 per-(day, validator) reward rollup from per-validator events "
    "(src/collector/staking/rewardAndCommissionSum.ts:11-78) + J5 "
    "broadcast validator-dim join + A14-style normalized return "
    "(integer-µ encoding for exact cross-engine compare).",
)
def fcd_validator_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return validator_returns_view(gen_blocks(spark), gen_validators(spark))


def validator_returns_view(blocks: DataFrame, validators: DataFrame) -> DataFrame:
    """The gated A13/J5/A14 select over ANY reward-event block source —
    shared by the fixture-bronze driver row above and the ingest-derived
    daily-gold composition (tests/test_e2e_day.py runs it over the
    streamed blockreward bronze)."""
    vr = validator_returns_gold(blocks, validators)
    return vr.select(
        "day",
        "operator_address",
        "moniker",
        F.col("reward_sum").cast("bigint").alias("reward_sum"),
        F.expr(
            "CAST(CAST(reward_sum AS DECIMAL(38,0)) * 1000000 "
            "div CAST(voting_power AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("return_e6"),
    )


# ---------------------------------------------------------------------------
# A8-A12 + A24: daily dashboard assembly (full-outer day join).
# ---------------------------------------------------------------------------
@register(
    "fcd_dashboard",
    f"""
    WITH {_TXBASE},
    tx_count AS (
        SELECT {_DAY} AS day, COUNT(*) AS tx_count
        FROM txbase WHERE i % 10 <> 0 GROUP BY 1
    ),
    peraddr AS (
        SELECT h, unnest(list_distinct(
            CASE
                WHEN i % 5 < 2 THEN [{duck_addr("i % 50")}, {duck_addr("(i * 7 + 1) % 50")}]
                WHEN i % 5 = 2 THEN [{duck_addr("i % 50")}, {duck_addr("(i * 7 + 1) % 50")}, {duck_addr("(i * 7 + 2) % 50")}]
                WHEN i % 5 = 3 THEN [{duck_addr("i % 50")}, {duck_valaddr("i % 20")}]
                ELSE [{duck_addr("i % 50")}]
            END)) AS account
        FROM txbase
    ),
    active AS (
        SELECT {_DAY} AS day, COUNT(DISTINCT account) AS active_accounts
        FROM peraddr GROUP BY 1
    ),
    rewards AS (
        SELECT {_DAY} AS day,
               CAST(SUM((h * 13 % 500 + 1) + (h * 11 % 300 + 1) + (h * 7 % 200 + 1)) AS BIGINT) AS reward_total
        FROM (SELECT unnest(range(1, {N} + 1)) AS h) GROUP BY 1
    )
    SELECT COALESCE(tx_count.day, active.day, rewards.day) AS day,
           COALESCE(tx_count, 0) AS tx_count,
           COALESCE(active_accounts, 0) AS active_accounts,
           COALESCE(reward_total, 0) AS reward_total,
           strftime(make_timestamp(CAST(1609459200 + {N} * {BLOCK_SPACING_S} AS BIGINT) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS max_block_ts,
           strftime(make_timestamp(CAST(1609459200 + ({NP} - 1) * 60 AS BIGINT) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS max_price_ts
    FROM tx_count
    FULL OUTER JOIN active ON tx_count.day = active.day
    FULL OUTER JOIN rewards ON COALESCE(tx_count.day, active.day) = rewards.day
    """,
    doc="A24 daily dashboard assembly (src/collector/dashboard/"
    "collectDashboard.ts:15-67): A8 reward sums + A12 daily active "
    "accounts + tx counts, full-outer joined on day — each input already "
    "day-grain so the join is tiny; late-day corrections are a MERGE over "
    "the trailing 3-day window (T5).  Also carries the A23 freshness "
    "stamps (MAX(ts) probes, src/collector/dashboard/helpers.ts:16-37 — "
    "the same collector consults them) as scalar columns.",
)
def fcd_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    txs = gen_txs(spark)
    gold = dashboard_gold(
        txs, _account_tx_silver_cached(spark), _minute_rewards_silver_cached(spark)
    )
    return gold.crossJoin(F.broadcast(_freshness_probes(spark)))


# ---------------------------------------------------------------------------
# The price-join family: J6 + F9 + F10 + A6 + A17.  Shared oracle CTEs:
# regenerate the minute prices arithmetically and average them per day in
# pure integer math (µ-unit encoding, see pipeline/prices.py).
# ---------------------------------------------------------------------------
_DUCK_AVGP = (
    DUCK_PRICES.format(n=NP)
    + """,
    avgp AS (
        SELECT day, denom, CAST(SUM(price_e2) * 10000 // COUNT(*) AS BIGINT) AS avg_e6
        FROM prices GROUP BY 1, 2
    ),
    uusd AS (SELECT day, avg_e6 AS p_uusd_e6 FROM avgp WHERE denom = 'uusd')
"""
)

_DUCK_DAILY_REWARDS = f"""
    blocks AS (SELECT unnest(range(1, {N} + 1)) AS h),
    coins AS (
        SELECT h, 'rewards' AS rtype, 'ukrw' AS denom, h * 13 % 500 + 1 AS amt FROM blocks
        UNION ALL
        SELECT h, 'rewards', 'uluna', h * 11 % 300 + 1 FROM blocks
        UNION ALL
        SELECT h, 'commission', 'uusd', h * 7 % 200 + 1 FROM blocks
    ),
    daily AS (
        SELECT {_DAY} AS day, denom, rtype, CAST(SUM(amt) AS BIGINT) AS total
        FROM coins GROUP BY 1, 2, 3
    )
"""


@register(
    "fcd_rewards_converted",
    f"""
    WITH {_DUCK_DAILY_REWARDS},
    {_DUCK_AVGP}
    SELECT d.day AS day, d.denom AS denom, d.rtype AS rtype, d.total AS total,
           CAST(CASE
               WHEN p_uusd_e6 IS NULL THEN 0
               WHEN d.denom = 'uusd'  THEN CAST(d.total AS HUGEINT) * 1000000
               WHEN d.denom = 'uluna' THEN CAST(d.total AS HUGEINT) * p_uusd_e6
               WHEN avgp.avg_e6 IS NOT NULL
                    THEN CAST(d.total AS HUGEINT) * p_uusd_e6 * 1000000 // avgp.avg_e6
               ELSE 0 END AS BIGINT) AS total_usd_e6,
           CAST(CASE
               WHEN d.denom = 'uluna' THEN CAST(d.total AS HUGEINT) * 1000000
               WHEN avgp.avg_e6 IS NOT NULL
                    THEN CAST(d.total AS HUGEINT) * 1000000 * 1000000 // avgp.avg_e6
               ELSE NULL END AS BIGINT) AS total_luna_e6
    FROM daily d
    LEFT JOIN avgp ON d.day = avgp.day AND d.denom = avgp.denom
    LEFT JOIN uusd ON d.day = uusd.day
    """,
    doc="The full price-conversion family in one gated query (rewards in "
    "usd and luna plus the daily average price): "
    "A1-A3 reward CSV decode → daily rollup, A17 daily avg price "
    "(regenerated in the oracle's avgp CTE), J6 rewards x price broadcast "
    "join, F9 getUSDValue (src/collector/block/helper.ts:8-23 — uusd "
    "identity, uluna x price(uusd), other via price ratio, 0 when prices "
    "missing) and F10 Luna normalization (rewardAndCommissionSum.ts:56-78 "
    "— NULL when the denom has no price, which the reference skips: "
    "stakingReturn.ts:63-65).  Broadcast joins against the (day, denom) "
    "price table — the fact side never shuffles.",
)
def fcd_rewards_converted(spark: SparkSession, sf_dir: str) -> DataFrame:
    mr = _minute_rewards_silver_cached(spark)
    daily = (
        mr.withColumn("day", F.substring("minute", 1, 10))
        .groupBy("day", "denom", "rtype")
        .agg(F.sum("total").alias("total"))
    )
    out = with_day_prices(daily, daily_avg_price_e6(gen_prices(spark)))
    return out.select(
        "day",
        "denom",
        "rtype",
        "total",
        usd_value_e6("total").alias("total_usd_e6"),
        # luna_value_e6 divides by p_denom_e6: NULL price -> NULL result,
        # matching the oracle's explicit NULL branch
        luna_value_e6("total").alias("total_luna_e6"),
    )


_DUCK_MPRICES = f"""
    mprices AS (
        SELECT strftime(make_timestamp((1609459200 + m * 60) * 1000000), '%Y-%m-%d %H:%M:%S') AS minute,
               denom, CAST((100 + (m * seed) % 100) * 10000 AS BIGINT) AS price_e6
        FROM (SELECT unnest(range(0, {NP})) AS m),
             (SELECT * FROM (VALUES ('ukrw', 17), ('usdr', 29), ('uusd', 41)) AS t(denom, seed))
    ),
    muusd AS (SELECT minute, price_e6 AS p_uusd_e6 FROM mprices WHERE denom = 'uusd')
"""


@register(
    "fcd_minute_fees",
    f"""
    WITH {_TXBASE},
    taxcoins AS (
        SELECT i, h, denom, amt FROM (
            SELECT i, h, {duck_denom("i")} AS denom, i * 37 % 1000 + 1 AS amt
            FROM txbase WHERE i % 5 < 2 AND i % 10 <> 0
            UNION ALL
            SELECT i, h, {duck_denom("i")}, i * 37 % 1000 + 1
            FROM txbase WHERE i % 5 = 2 AND i % 10 <> 0
            UNION ALL
            SELECT i, h, {duck_denom("i + 1")}, i * 37 % 1000 + 6
            FROM txbase WHERE i % 5 = 2 AND i % 10 <> 0
        ) WHERE denom <> 'uluna'
    ),
    taxed AS (
        SELECT i, h, denom,
               SUM(LEAST(amt * 100000 // 1000000,
                         CASE WHEN denom = 'ukrw' THEN 60 ELSE 1000000 END)) AS tax
        FROM taxcoins GROUP BY 1, 2, 3
    ),
    tax_minute AS (SELECT {_MINUTE} AS minute, denom, SUM(tax) AS tax FROM taxed GROUP BY 1, 2),
    fees AS (SELECT i, h, {duck_denom("i + 3")} AS denom, i % 90 + 10 AS fee_amt FROM txbase),
    gas_rows AS (
        SELECT f.h AS h, f.denom AS denom, f.fee_amt - COALESCE(t.tax, 0) AS gas
        FROM fees f LEFT JOIN taxed t ON f.i = t.i AND f.denom = t.denom
    ),
    gas_minute AS (SELECT {_MINUTE} AS minute, denom, SUM(gas) AS gas FROM gas_rows GROUP BY 1, 2),
    blocks AS (SELECT unnest(range(1, {N} + 1)) AS h),
    sum_minute AS (
        SELECT minute, denom, SUM(amt) AS reward_sum FROM (
            SELECT {_MINUTE} AS minute, 'ukrw' AS denom, h * 13 % 500 + 1 AS amt FROM blocks
            UNION ALL
            SELECT {_MINUTE}, 'uluna', h * 11 % 300 + 1 FROM blocks
        ) GROUP BY 1, 2
    ),
    grid AS (
        SELECT COALESCE(t.minute, g.minute, s.minute) AS minute,
               COALESCE(t.denom, g.denom, s.denom) AS denom,
               COALESCE(tax, 0) AS tax, COALESCE(gas, 0) AS gas,
               COALESCE(reward_sum, 0) AS reward_sum
        FROM tax_minute t
        FULL OUTER JOIN gas_minute g ON t.minute = g.minute AND t.denom = g.denom
        FULL OUTER JOIN sum_minute s
          ON COALESCE(t.minute, g.minute) = s.minute AND COALESCE(t.denom, g.denom) = s.denom
    ),
    grid2 AS (SELECT *, GREATEST(0, reward_sum - tax - gas) AS oracle_amt FROM grid),
    {_DUCK_MPRICES}
    SELECT g.minute AS minute, g.denom AS denom,
           CAST(tax AS BIGINT) AS tax, CAST(gas AS BIGINT) AS gas,
           CAST(reward_sum AS BIGINT) AS reward_sum,
           CAST(oracle_amt AS BIGINT) AS oracle_amt,
           CAST(CASE
               WHEN p_uusd_e6 IS NULL THEN 0
               WHEN g.denom = 'uusd'  THEN CAST(tax AS HUGEINT) * 1000000
               WHEN g.denom = 'uluna' THEN CAST(tax AS HUGEINT) * p_uusd_e6
               WHEN p.price_e6 IS NOT NULL
                    THEN CAST(tax AS HUGEINT) * p_uusd_e6 * 1000000 // p.price_e6
               ELSE 0 END AS BIGINT) AS tax_usd_e6,
           CAST(CASE
               WHEN p_uusd_e6 IS NULL THEN 0
               WHEN g.denom = 'uusd'  THEN CAST(oracle_amt AS HUGEINT) * 1000000
               WHEN g.denom = 'uluna' THEN CAST(oracle_amt AS HUGEINT) * p_uusd_e6
               WHEN p.price_e6 IS NOT NULL
                    THEN CAST(oracle_amt AS HUGEINT) * p_uusd_e6 * 1000000 // p.price_e6
               ELSE 0 END AS BIGINT) AS oracle_usd_e6
    FROM grid2 g
    LEFT JOIN mprices p ON g.minute = p.minute AND g.denom = p.denom
    LEFT JOIN muusd u ON g.minute = u.minute
    """,
    doc="F13 per-msg tax (min(floor(amount x taxRate), taxCap), uluna "
    "exempt — src/collector/block/tx.ts:30-81) + A2 minute fee rollup "
    "(gas = fee - tax for successful txs, whole fee for failed — "
    "tx.ts:98-135 + reward.ts:16-82) + A4 oracle = max(0, sum - tax - "
    "gas) with USD via the ACTIVE minute price "
    "(reward.ts:123-157).  The last fixture minute has no price row — "
    "exercising getUSDValue's missing-price zero branch.",
)
def fcd_minute_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    return reward_minute_fees(
        gen_blocks(spark),
        gen_txs(spark),
        gen_prices(spark),
        minute_rewards=_minute_rewards_silver_cached(spark),
    )


# Oracle of the in-test DuckDB gate (tests/test_fcd_pipeline.py): this
# query is a thin J6+A6 twin of fcd_rewards_converted (same daily-avg-price
# join, same usd_value_e6 conversion), which is driver-gated.
MARKET_CAP_ORACLE_SQL = f"""
    WITH {_DUCK_AVGP},
    {DUCK_ISSUANCES},
    days AS (SELECT DISTINCT day FROM avgp)
    SELECT days.day AS day, i.denom AS denom, i.issuance AS issuance,
           CAST(CASE
               WHEN p_uusd_e6 IS NULL THEN 0
               WHEN i.denom = 'uusd'  THEN CAST(i.issuance AS HUGEINT) * 1000000
               WHEN i.denom = 'uluna' THEN CAST(i.issuance AS HUGEINT) * p_uusd_e6
               WHEN avgp.avg_e6 IS NOT NULL
                    THEN CAST(i.issuance AS HUGEINT) * p_uusd_e6 * 1000000 // avgp.avg_e6
               ELSE 0 END AS BIGINT) AS market_cap_usd_e6
    FROM days CROSS JOIN issuances i
    LEFT JOIN avgp ON days.day = avgp.day AND i.denom = avgp.denom
    LEFT JOIN uusd ON days.day = uusd.day
    """


def fcd_market_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 market cap = issuance x USD price per (day, denom)
    (src/collector/block/network.ts:94-98 getMarketCap over F9).  The
    issuance dim is a fixture stand-in for the LCD /supply/total
    snapshot; HUGEINT/DECIMAL(38) intermediates — issuance x e6-price
    overflows int64.  Gated by the in-test oracle (MARKET_CAP_ORACLE_SQL);
    fcd_rewards_converted keeps the shared J6/F9 pattern driver-gated."""
    avgp = daily_avg_price_e6(gen_prices(spark))
    days = avgp.select("day").distinct()
    base = days.crossJoin(F.broadcast(gen_issuances(spark)))
    out = with_day_prices(base, avgp)
    return out.select(
        "day", "denom", "issuance", usd_value_e6("issuance").alias("market_cap_usd_e6")
    )


# ---------------------------------------------------------------------------
# J8 + A20 + D6: governance vote tally with voting power.
# ---------------------------------------------------------------------------
@register(
    "fcd_vote_tally",
    f"""
    WITH {DUCK_VOTES},
    {DUCK_DELEGATIONS},
    vals AS (
        SELECT {duck_valaddr("x")} AS operator, {duck_addr("x + 1000")} AS acct,
               x * 1000 + 5000 AS base_power
        FROM (SELECT unnest(range(0, 20)) AS x)
    ),
    latest AS (
        SELECT proposal_id, voter, option FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY proposal_id, voter ORDER BY vote_id DESC) AS rn
            FROM votes
        ) WHERE rn = 1
    ),
    vdeleg AS (
        SELECT l.proposal_id, l.voter, deleg.validator, deleg.shares
        FROM (SELECT DISTINCT proposal_id, voter FROM latest) l
        JOIN deleg ON l.voter = deleg.delegator
    ),
    addp AS (
        SELECT proposal_id, voter AS acct, SUM(shares) AS add_power
        FROM vdeleg GROUP BY 1, 2
    ),
    subp AS (
        SELECT proposal_id, vals.acct AS acct, SUM(shares) AS sub_power
        FROM vdeleg JOIN vals ON vdeleg.validator = vals.operator
        GROUP BY 1, 2
    ),
    power AS (
        SELECT l.proposal_id, l.voter, l.option,
               COALESCE(v.base_power, 0) - COALESCE(s.sub_power, 0)
                 + COALESCE(a.add_power, 0) AS power
        FROM latest l
        LEFT JOIN vals v ON l.voter = v.acct
        LEFT JOIN subp s ON l.proposal_id = s.proposal_id AND l.voter = s.acct
        LEFT JOIN addp a ON l.proposal_id = a.proposal_id AND l.voter = a.acct
    )
    SELECT proposal_id, option,
           CAST(SUM(power) AS BIGINT) AS power_sum,
           COUNT(*) AS n_votes
    FROM power GROUP BY 1, 2
    """,
    doc="J8 votes x delegations voting power + A20 power-weighted tally "
    "+ D6 latest-vote-per-voter dedup, all proposals in one plan "
    "(src/service/governance/helper/voteSummary.ts:15-152): power(a) = "
    "validator bonded power − shares delegated by voters to a's "
    "validator + a's own delegated shares; voters absent from the power "
    "array contribute 0 exactly like the reference's unset votingPower.",
)
def fcd_vote_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    return vote_tally(gen_votes(spark), gen_delegations(spark), gen_validators(spark))


# ---------------------------------------------------------------------------
# A7 + F19: swap volume from msgs + log events.
# ---------------------------------------------------------------------------
@register(
    "fcd_swap_volume",
    f"""
    WITH {_TXBASE},
    swaps AS (SELECT i, h FROM txbase WHERE i % 5 = 4 AND i % 10 <> 0),
    flat AS (
        SELECT h, {duck_denom("i")} AS denom, 'in' AS kind, i * 37 % 1000 + 1 AS amt FROM swaps
        UNION ALL
        SELECT h, {duck_denom("i + 2")}, 'out', i * 23 % 800 + 1 FROM swaps
        UNION ALL
        SELECT h, {duck_denom("i + 2")}, 'fee', i * 3 % 50 + 1 FROM swaps
    )
    SELECT {_MINUTE} AS minute, denom,
           CAST(COALESCE(SUM(CASE WHEN kind = 'in'  THEN amt END), 0) AS BIGINT) AS swap_in,
           CAST(COALESCE(SUM(CASE WHEN kind = 'out' THEN amt END), 0) AS BIGINT) AS swap_out,
           CAST(COALESCE(SUM(CASE WHEN kind = 'fee' THEN amt END), 0) AS BIGINT) AS swap_fee
    FROM flat GROUP BY 1, 2
    """,
    doc="A7 swap in/out/fee minute rollup + F19 swap coin/fee extraction "
    "from log events (src/collector/block/swap.ts:15-207, "
    "getSwapCoinFromLog :42-70): IN from the MsgSwap offer_coin, OUT/FEE "
    "from the 'swap' event's swap_coin/swap_fee '123denom' attributes, "
    "successful txs only, msg i paired with log i via posexplode.  "
    "Spread is LCD-simulation-backed in the reference and out of engine "
    "scope (SURVEY A7).",
)
def fcd_swap_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return swap_volume_minute_silver(gen_txs(spark))


# ---------------------------------------------------------------------------
# Serving read paths: P6 compaction, P7 hash lookup, J3 block-with-txs,
# A14 annualized validator return.
# ---------------------------------------------------------------------------
from classic_fcd_spark.serving.api import (  # noqa: E402
    compact_msgs,
    get_block_with_txs,
    get_tx_by_hash,
)
from classic_fcd_spark.sources.fixtures import addr_str, tx_hash_str  # noqa: E402

_ACCT7 = addr_str(7)
_TX300 = tx_hash_str(300)


@register(
    "fcd_tx_list_compact",
    f"""
    WITH {_TXBASE},
    txs AS (
        SELECT i, h, md5('tx:' || CAST(i AS VARCHAR)) AS hash,
               CASE
                   WHEN i % 5 < 2 THEN [{duck_addr("i % 50")}, {duck_addr("(i * 7 + 1) % 50")}]
                   WHEN i % 5 = 2 THEN [{duck_addr("i % 50")}, {duck_addr("(i * 7 + 1) % 50")}, {duck_addr("(i * 7 + 2) % 50")}]
                   WHEN i % 5 = 3 THEN [{duck_addr("i % 50")}, {duck_valaddr("i % 20")}]
                   ELSE [{duck_addr("i % 50")}]
               END AS addrs,
               CASE WHEN i % 5 < 2 THEN 'bank/MsgSend'
                    WHEN i % 5 = 2 THEN 'bank/MsgMultiSend'
                    WHEN i % 5 = 3 THEN 'staking/MsgDelegate'
                    ELSE 'market/MsgSwap' END AS msg_type
        FROM txbase
    )
    SELECT hash, h AS height, msg_type, 1 AS n_msgs
    FROM txs WHERE list_contains(addrs, '{_ACCT7}')
    ORDER BY h DESC, hash DESC LIMIT 20
    """,
    doc="P6 per-address msg compaction + L1/J4 account tx page "
    "(src/service/transaction/getTxList.ts:64-183): keyset-ordered first "
    "page of txs touching the account, msgs stripped to those mentioning "
    "it (filter() HOF, no explode).  Every fixture tx has one msg that "
    "does mention the selected account, so n_msgs = 1; the multi-msg "
    "strip path is unit-tested (tests/test_fcd_pipeline.py).",
)
def fcd_tx_list_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    txs = gen_txs(spark)
    at = _account_tx_silver_cached(spark)
    page = at.filter(F.col("account") == _ACCT7).select("hash", "height")
    rows = txs.join(F.broadcast(page), ["hash", "height"], "left_semi")
    compacted = compact_msgs(rows, _ACCT7)
    return (
        compacted.orderBy(F.col("height").desc(), F.col("hash").desc())
        .limit(20)
        .select(
            "hash",
            "height",
            F.get("msgs", 0)["type"].alias("msg_type"),
            F.size("msgs").cast("int").alias("n_msgs"),
        )
    )


# P7 is not a driver slot (fcd_account_txs_enriched, the salted
# enrichment workload, holds it).  This is the SQL of the former
# fcd_tx_by_hash driver row; the in-test gate
# is tests/test_fcd_pipeline.py::TestTxByHashOracle, and the point-lookup
# pattern stays exercised by the serving extract (lookup_tx plan asserts)
# and benched via bench.py extras.
TX_BY_HASH_ORACLE_SQL = f"""
    SELECT '{_TX300}' AS hash, 100 AS height,
           'bank/MsgSend' AS msg_type, FALSE AS success
    """


def fcd_tx_by_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 case-insensitive tx point lookup (src/service/transaction/
    getTx.ts:6-13: hash = lower(:h) OR hash = upper(:h)) — probed with
    the UPPER-cased hash to exercise the normalization; i=300 is a
    failed tx (code = 4), so success is false.  The oracle is the
    arithmetic expectation for that single tx."""
    txs = gen_txs(spark)
    return get_tx_by_hash(txs, _TX300.upper()).select(
        "hash",
        F.col("height").cast("int").alias("height"),
        F.get("msgs", 0)["type"].alias("msg_type"),
        F.col("code").isNull().alias("success"),
    )


@register(
    "fcd_account_txs_enriched",
    f"""
    WITH {DUCK_ACCOUNT_TX_CTE},
    {DUCK_ACCOUNTS_DIM_CTE}
    SELECT {duck_addr("a.i")} AS account,
           md5('atx:' || CAST(a.r AS VARCHAR)) AS hash,
           a.r // 3 AS height,
           d.label AS label,
           d.segment AS segment,
           d.lifetime_txs AS lifetime_txs
    FROM atx a LEFT JOIN accounts_dim d ON a.i = d.i
    """,
    doc="The account-page enrichment workload behind src/service/"
    "transaction/getTxList.ts:152-153 (where the reference forces a "
    "bitmap scan for exactly this hot-account shape): every account_tx "
    "fact row gains its account's dim attributes through "
    "serving/api.enrich_account_txs — the MG-gated auto_salted_join "
    "(operators/skewjoin.py).  The fixture plants the exchange wallet "
    "on 20% of rows, so detection ENGAGES the salt (plan-asserted in "
    "tests/test_skewjoin.py::TestEnrichedDriverRow) while uniform-key "
    "corpora degenerate to the plain join; the oracle is the plain "
    "LEFT JOIN over the same integer arithmetic, so the hash match "
    "proves the salted plan is row-identical to the unsalted join "
    "(dim holes keep NULL labels observable — left semantics).",
)
def fcd_account_txs_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.serving.api import enrich_account_txs

    fact = gen_account_tx_page(spark)
    dim = gen_accounts_dim(spark)
    # fixtures are deterministic per session, so the MG hot-key
    # detection verdict is memoized under a static key (the same
    # contract as the _account_tx_silver_cached family above)
    return enrich_account_txs(fact, dim, memo_key="fcd:account_tx_page").select(
        "account", "hash", "height", "label", "segment", "lifetime_txs"
    )


@register(
    "fcd_block_txs",
    f"""
    SELECT 'fixture-1' AS chain_id, 35 AS height,
           strftime(make_timestamp(CAST(1609459200 + 35 * {BLOCK_SPACING_S} AS BIGINT) * 1000000),
                    '%Y-%m-%d %H:%M:%S') AS timestamp_str,
           {duck_valaddr("15")} AS proposer,
           'validator-15' AS proposer_moniker,
           2 AS n_txs,
           array_to_string(list_sort(['{tx_hash_str(105)}', '{tx_hash_str(106)}']), ',') AS tx_hashes_csv
    """,
    doc="J3 block ⟕ txs with ordered collected children + J5 proposer "
    "moniker broadcast join (src/service/transaction/getBlock.ts:16-43): "
    "block 35 carries txs i=105,106; children are collect_list'd and "
    "sorted for a deterministic page payload.",
)
def fcd_block_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = get_block_with_txs(gen_blocks(spark), gen_txs(spark), gen_validators(spark), 35)
    return out.select(
        "chain_id",
        F.col("height").cast("int").alias("height"),
        "timestamp_str",
        "proposer",
        "proposer_moniker",
        F.col("n_txs").cast("int").alias("n_txs"),
        "tx_hashes_csv",
    )


# fcd_validator_annual_return is not a driver slot: the daily-return input
# (A13) is driver-gated via fcd_validator_returns, and the annualization
# arithmetic keeps this oracle as an in-test gate
# (tests/test_fcd_pipeline.py TestValidatorAnnualReturnOracle).
VALIDATOR_ANNUAL_RETURN_ORACLE_SQL = f"""
    WITH blocks AS (SELECT unnest(range(1, {N} + 1)) AS h),
    ev AS (
        SELECT {_DAY} AS day, {duck_valaddr("h % 20")} AS operator_address,
               (h * 13 % 500 + 1) + (h * 11 % 300 + 1) AS amt
        FROM blocks
        UNION ALL
        SELECT {_DAY}, {duck_valaddr("(h + 1) % 20")}, h * 7 % 200 + 1 FROM blocks
    ),
    daily AS (
        SELECT day, operator_address, CAST(SUM(amt) AS BIGINT) AS reward_sum
        FROM ev GROUP BY 1, 2
    ),
    vals AS (
        SELECT {duck_valaddr("v")} AS operator_address, v * 1000 + 5000 AS voting_power
        FROM (SELECT unnest(range(0, 20)) AS v)
    ),
    rets AS (
        SELECT day, daily.operator_address AS operator_address,
               reward_sum * 1000000 // voting_power AS return_e6
        FROM daily JOIN vals ON daily.operator_address = vals.operator_address
    )
    SELECT operator_address,
           CAST(SUM(return_e6) * 365 // COUNT(*) AS BIGINT) AS annual_return_e6,
           COUNT(*) AS n_days,
           COUNT(*) < 15 AS is_new_validator
    FROM rets GROUP BY 1
    """


def fcd_validator_annual_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14 annualized validator return
    (src/service/staking/getValidatorReturn.ts:11-43:
    SUM(return/power) * 365 / COUNT(*), isNewValidator when the window
    has < 15 data points, avg_voting_power > 0 guard).  Integer-µ
    encoding replaces the reference's float division for exact
    cross-engine compare; the fixture spans 4 days so every validator
    flags as new — the flag logic still computes."""
    vr = validator_returns_gold(gen_blocks(spark), gen_validators(spark))
    rets = vr.select(
        "operator_address",
        F.expr(
            "CAST(CAST(reward_sum AS DECIMAL(38,0)) * 1000000 "
            "div CAST(voting_power AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("return_e6"),
    )
    return (
        rets.groupBy("operator_address")
        .agg(
            F.expr("CAST(SUM(return_e6) * 365 div COUNT(*) AS BIGINT)").alias(
                "annual_return_e6"
            ),
            F.count("*").alias("n_days"),
        )
        .withColumn("is_new_validator", F.col("n_days") < 15)
    )


# ---------------------------------------------------------------------------
# T4: one-block-shifted minute reward attribution.
# ---------------------------------------------------------------------------
from classic_fcd_spark.pipeline.medallion import minute_rewards_shifted_silver  # noqa: E402

_TS_PREV = f"make_timestamp((1609459200 + (h - 1) * {BLOCK_SPACING_S}) * 1000000)"
_MINUTE_PREV = f"strftime(date_trunc('minute', {_TS_PREV}), '%Y-%m-%d %H:%M:%S')"


@register(
    "fcd_minute_rewards_shifted",
    f"""
    WITH blocks AS (SELECT unnest(range(2, {N} + 1)) AS h),
    coins AS (
        SELECT h, 'rewards' AS rtype, 'ukrw' AS denom, h * 13 % 500 + 1 AS amt FROM blocks
        UNION ALL
        SELECT h, 'rewards', 'uluna', h * 11 % 300 + 1 FROM blocks
        UNION ALL
        SELECT h, 'commission', 'uusd', h * 7 % 200 + 1 FROM blocks
    )
    SELECT {_MINUTE_PREV} AS minute, denom, rtype,
           CAST(SUM(amt) AS BIGINT) AS total,
           COUNT(*) AS n_events
    FROM coins GROUP BY 1, 2, 3
    """,
    doc="T4 one-block-shifted minute attribution "
    "(src/collector/block/reward.ts:99-113: drop the window's first "
    "block, append the next-height block): block h's rewards land in the "
    "minute of block h-1, realized as a height self-join (h = prev+1) — "
    "no unpartitioned lag window.  Chain block 1 is never attributed; "
    "the oracle shifts the arithmetic by one height.  Also the A1-A3 "
    "gate (the unshifted minute rewards): the plan runs the "
    "same '123ukrw,4uluna' CSV decode (F3 split_denom_and_amount) and "
    "minute/denom/rtype rollup, only shifted.",
)
def fcd_minute_rewards_shifted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minute_rewards_shifted_silver(gen_blocks(spark))


# ---------------------------------------------------------------------------
# Staking return family: A10 + A15 + A16.
# ---------------------------------------------------------------------------
from classic_fcd_spark.sources.fixtures import DUCK_GENERAL, gen_general_info  # noqa: E402

_DUCK_GI = DUCK_GENERAL.format(n=NP)
_RANGE_MS = N * BLOCK_SPACING_S * 1000
_YEAR_MS = 365 * 24 * 3600 * 1000


# fcd_avg_staking_daily is not a driver slot; its daily
# integer-floor-average pattern is driver-gated via pricing_summary /
# fcd_dashboard and the
# full query keeps this exact oracle as an in-test gate
# (tests/test_fcd_pipeline.py::TestAvgStakingDailyOracle).
AVG_STAKING_DAILY_ORACLE_SQL = f"""
    WITH {_DUCK_GI}
    SELECT day,
           CAST(SUM(staking_ratio_e6) // COUNT(*) AS BIGINT) AS avg_staking_ratio_e6,
           CAST(SUM(bonded_tokens) // COUNT(*) AS BIGINT) AS avg_bonded
    FROM general_info GROUP BY 1
    """


def fcd_avg_staking_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 AVG(staking_ratio)/AVG(bonded_tokens) by date over the
    general_info minute snapshots (src/collector/dashboard/
    stakingReturn.ts:27-52).  Integer floor-average on both engines."""
    gi = gen_general_info(spark)
    return (
        gi.groupBy(F.date_format("datetime", "yyyy-MM-dd").alias("day"))
        .agg(
            F.sum("staking_ratio_e6").alias("sr"),
            F.sum("bonded_tokens").alias("bt"),
            F.count("*").alias("n"),
        )
        .select(
            "day",
            F.expr("CAST(sr div n AS BIGINT)").alias("avg_staking_ratio_e6"),
            F.expr("CAST(bt div n AS BIGINT)").alias("avg_bonded"),
        )
    )


def _airdrop_annual_return(spark: SparkSession) -> DataFrame:
    """A15 airdrop annual average return: SUM(airdrop/avg_staking) * 365
    / COUNT(*) with the avg_staking != 0 guard
    (src/service/dashboard/getStakingReturn.ts:46-55).  One scalar row
    (airdrop_annual_e12); gated inside fcd_total_staking_return — the
    two A15/A16 annualize shapes share one driver row."""
    gi = gen_general_info(spark).withColumn(
        "m", (F.col("datetime").cast("long") - 1609459200) / 60
    )
    per_day = (
        gi.groupBy(F.date_format("datetime", "yyyy-MM-dd").alias("day"))
        .agg(
            (F.min("m").cast("long") / 1440).cast("long").alias("day_num"),
            F.expr("CAST(SUM(bonded_tokens) div COUNT(*) AS BIGINT)").alias("staked"),
        )
        .filter(F.col("staked") != 0)
    )
    terms = per_day.select(
        F.expr(
            "CAST(CAST((day_num + 1) * 1000 + 500 AS DECIMAL(38,0)) "
            "* 1000000000000 div staked AS DECIMAL(38,0))"
        ).alias("term_e12")
    )
    return terms.agg(
        F.expr("CAST(SUM(term_e12) * 365 div COUNT(*) AS BIGINT)").alias(
            "airdrop_annual_e12"
        )
    )


_DUCK_AIRDROP = f"""
    per_day AS (
        SELECT day, MIN(m) // 1440 AS day_num,
               CAST(SUM(bonded_tokens) // COUNT(*) AS BIGINT) AS staked
        FROM general_info GROUP BY day
    ),
    terms AS (
        SELECT CAST(((day_num + 1) * 1000 + 500) AS HUGEINT) * 1000000000000 // staked AS term_e12
        FROM per_day WHERE staked <> 0
    ),
    airdrop AS (
        SELECT CAST(SUM(term_e12) * 365 // COUNT(*) AS BIGINT) AS airdrop_annual_e12
        FROM terms
    )
"""


@register(
    "fcd_total_staking_return",
    f"""
    WITH blocks AS (SELECT unnest(range(1, {N} + 1)) AS h),
    rsums AS (
        SELECT denom, CAST(SUM(amt) AS BIGINT) AS reward_sum FROM (
            SELECT 'ukrw' AS denom, h * 13 % 500 + 1 AS amt FROM blocks
            UNION ALL SELECT 'uluna', h * 11 % 300 + 1 FROM blocks
        ) GROUP BY 1
    ),
    {DUCK_PRICES.format(n=NP)},
    avgp AS (
        SELECT denom, CAST(SUM(price_e2) * 10000 // COUNT(*) AS BIGINT) AS avg_e6
        FROM prices GROUP BY 1
    ),
    luna AS (
        SELECT CAST(SUM(CASE WHEN r.denom = 'uluna' THEN CAST(reward_sum AS HUGEINT) * 1000000
                   ELSE CAST(reward_sum AS HUGEINT) * 1000000 * 1000000 // avg_e6 END) AS HUGEINT) AS total_e6
        FROM rsums r LEFT JOIN avgp ON r.denom = avgp.denom
        WHERE r.denom = 'uluna' OR avg_e6 IS NOT NULL
    ),
    gi AS (
        SELECT CAST(SUM(1000000 + (m * 7919) % 500000) // COUNT(*) AS BIGINT) AS staked
        FROM (SELECT unnest(range(0, {NP})) AS m)
    ),
    {_DUCK_GI},
    {_DUCK_AIRDROP}
    SELECT CAST(total_e6 * {_YEAR_MS} // {_RANGE_MS} * 1000 // staked AS BIGINT) AS annual_return_e9,
           airdrop_annual_e12
    FROM luna, gi, airdrop
    """,
    doc="A16 total staking return (src/service/staking/helper.ts:232-272): "
    "SUM(reward.sum) per denom over the range, Luna-normalized by the "
    "range-average price, divided by AVG(bonded_tokens), annualized by "
    "365d/range.  Whole-fixture range; floor-division sequence is "
    "identical on both engines (HUGEINT / DECIMAL(38) intermediates).  "
    "Also carries the A15 airdrop annual return as a second column "
    "(same annualize shape, so one gated row covers both).",
)
def fcd_total_staking_return(spark: SparkSession, sf_dir: str) -> DataFrame:
    mr = _minute_rewards_silver_cached(spark).filter(F.col("rtype") == "rewards")
    rsums = mr.groupBy("denom").agg(F.sum("total").alias("reward_sum"))
    avgp = (
        gen_prices(spark)
        .select("denom", F.round(F.col("price") * 100).cast("long").alias("p2"))
        .groupBy("denom")
        .agg(F.expr("CAST(SUM(p2) * 10000 div COUNT(*) AS BIGINT)").alias("avg_e6"))
    )
    luna = (
        rsums.join(F.broadcast(avgp), "denom", "left")
        .filter((F.col("denom") == "uluna") | F.col("avg_e6").isNotNull())
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN denom = 'uluna' "
                    "THEN CAST(reward_sum AS DECIMAL(38,0)) * 1000000 "
                    "ELSE CAST(reward_sum AS DECIMAL(38,0)) * 1000000 * 1000000 div avg_e6 END"
                )
            ).alias("total_e6")
        )
    )
    staked = gen_general_info(spark).agg(
        F.expr("CAST(SUM(bonded_tokens) div COUNT(*) AS BIGINT)").alias("staked")
    )
    return (
        luna.crossJoin(staked)
        .select(
            F.expr(
                f"CAST(CAST(total_e6 AS DECIMAL(38,0)) * {_YEAR_MS} div {_RANGE_MS} "
                "* 1000 div staked AS BIGINT)"
            ).alias("annual_return_e9")
        )
        .crossJoin(_airdrop_annual_return(spark))
    )


# ---------------------------------------------------------------------------
# P3 compound msg predicates + J7 staking view + A19/F12 last-hour ops.
# ---------------------------------------------------------------------------
def delegation_tx_filter(operator: str) -> F.Column:
    """P3: the OR-of-brackets delegation/claim filter
    (src/service/staking/helper.ts:21-70): successful txs with a staking
    msg whose validator/src/dst address is the operator.  exists() HOF
    over the typed msgs array — the jsonb containment probes become
    struct-field conjunctions, evaluated without exploding."""
    def m_pred(m):
        vaddr = F.get_json_object(m["value"], "$.validator_address")
        vsrc = F.get_json_object(m["value"], "$.validator_src_address")
        vdst = F.get_json_object(m["value"], "$.validator_dst_address")
        return (
            ((m["type"] == "staking/MsgDelegate") & (vaddr == operator))
            | ((m["type"] == "staking/MsgCreateValidator") & (vaddr == operator))
            | ((m["type"] == "staking/MsgBeginRedelegate") & ((vsrc == operator) | (vdst == operator)))
            | ((m["type"] == "staking/MsgUndelegate") & (vaddr == operator))
        )

    return F.col("code").isNull() & F.exists("msgs", m_pred)


@register(
    "fcd_delegation_txs",
    f"""
    WITH {_TXBASE}
    SELECT md5('tx:' || CAST(i AS VARCHAR)) AS hash, h AS height,
           'staking/MsgDelegate' AS msg_type
    FROM txbase
    WHERE i % 5 = 3 AND i % 10 <> 0 AND i % 20 = 3
    ORDER BY h DESC, hash DESC LIMIT 50
    """,
    doc="P3 compound msg predicates (OR-of-brackets delegation filter, "
    "src/service/staking/helper.ts:21-70) as an exists() HOF with "
    "struct-field conjunctions + L2 ORDER BY timestamp DESC page: all "
    "successful txs delegating to validator 3.  Fixture: delegate msgs "
    "have validator i%20, so the survivors are i%20==3 (and i%5==3 makes "
    "that i%20 in {{3}} ∩ delegate-msgs).",
)
def fcd_delegation_txs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.sources.fixtures import valaddr_str

    txs = gen_txs(spark)
    return (
        txs.filter(delegation_tx_filter(valaddr_str(3)))
        .orderBy(F.col("height").desc(), F.col("hash").desc())
        .limit(50)
        .select("hash", "height", F.get("msgs", 0)["type"].alias("msg_type"))
    )


@register(
    "fcd_last_hour_ops",
    f"""
    WITH {_TXBASE},
    lasthour AS (
        SELECT i FROM txbase
        WHERE (1609459200 + h * {BLOCK_SPACING_S}) >= (1609459200 + {N * BLOCK_SPACING_S} - 3600)
          AND (1609459200 + h * {BLOCK_SPACING_S}) <= (1609459200 + {N * BLOCK_SPACING_S})
    )
    SELECT COUNT(*) AS last_1h_tx,
           CAST(COUNT(*) + COALESCE(SUM(CASE WHEN i % 5 = 2 THEN 2 END), 0) AS BIGINT) AS last_1h_op
    FROM lasthour
    """,
    doc="A19 last-hour tx + ops count (src/service/dashboard/"
    "lastHourOpsAndTxs.ts:7-48): ops = tx count + "
    "SUM(jsonb_array_length(msg[0].outputs)) over MsgMultiSend — F12's "
    "jsonb_array_length is size() on the parsed struct.  No success "
    "filter, exactly like the reference's raw count.  Window = the "
    "fixture's final hour.",
)
def fcd_last_hour_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.pipeline.medallion import MULTISEND_SCHEMA

    txs = gen_txs(spark)
    end = 1609459200 + N * BLOCK_SPACING_S
    inwin = txs.filter(
        (F.col("timestamp").cast("long") >= end - 3600)
        & (F.col("timestamp").cast("long") <= end)
    )
    m0 = F.get("msgs", 0)
    outputs = F.from_json(m0["value"], MULTISEND_SCHEMA).getField("outputs")
    ops = F.when(m0["type"] == "bank/MsgMultiSend", F.size(outputs))
    return inwin.agg(
        F.count("*").alias("last_1h_tx"),
        (F.count("*") + F.coalesce(F.sum(ops), F.lit(0))).cast("long").alias("last_1h_op"),
    )


# fcd_staking_view is not a driver slot (fcd_undelegation_schedule, the
# W10 query it shares the broadcast-dim-join shape with, holds it); this
# oracle holds the in-test gate
# (tests/test_fcd_pipeline.py::TestStakingViewOracle).
STAKING_VIEW_ORACLE_SQL = f"""
    WITH {DUCK_DELEGATIONS},
    vals AS (
        SELECT {duck_valaddr("v")} AS operator_address,
               'validator-' || CAST(v AS VARCHAR) AS moniker,
               v * 1000 + 5000 AS voting_power
        FROM (SELECT unnest(range(0, 20)) AS v)
    ),
    mine AS (
        SELECT validator AS operator_address, CAST(SUM(shares) AS BIGINT) AS my_shares
        FROM deleg WHERE delegator = '{{acct3}}' GROUP BY 1
    )
    SELECT vals.operator_address AS operator_address, moniker,
           CAST(voting_power AS BIGINT) AS voting_power,
           COALESCE(my_shares, 0) AS my_shares
    FROM vals LEFT JOIN mine ON vals.operator_address = mine.operator_address
    """.replace("{acct3}", addr_str(3))


def fcd_staking_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7 validators ⟕ myDelegations (src/service/staking/
    getStaking.ts:74-90): the reference's in-memory keyBy+map join is a
    left join of the validator dim with the caller's delegations
    grouped by validator.  Gated by STAKING_VIEW_ORACLE_SQL in-test and
    benched via extras
    (the shape stays driver-gated via fcd_undelegation_schedule's
    broadcast dim join and fcd_vote_tally's delegation aggregate)."""
    mine = (
        gen_delegations(spark)
        .filter(F.col("delegator_address") == addr_str(3))
        .groupBy(F.col("validator_address").alias("operator_address"))
        .agg(F.sum("shares").cast("long").alias("my_shares"))
    )
    return (
        gen_validators(spark)
        .join(mine, "operator_address", "left")
        .select(
            "operator_address",
            "moniker",
            F.col("voting_power").cast("long").alias("voting_power"),
            F.coalesce("my_shares", F.lit(0)).alias("my_shares"),
        )
    )


# ---------------------------------------------------------------------------
# L5 latest-50-buckets-reversed + A23 freshness probes.
# ---------------------------------------------------------------------------
@register(
    "fcd_price_buckets_15m",
    f"""
    WITH p AS (
        SELECT m, 100 + (m * 17) % 100 AS price_e2
        FROM (SELECT unnest(range(0, {NP})) AS m)
    ),
    agg AS (
        SELECT m // 15 AS bucket,
               strftime(make_timestamp((1609459200 + (m // 15) * 15 * 60) * 1000000),
                        '%Y-%m-%d %H:%M:%S') AS bucket_start,
               CAST(SUM(price_e2) * 10000 // COUNT(*) AS BIGINT) AS avg_price_e6,
               COUNT(*) AS n_quotes
        FROM p GROUP BY 1, 2
    )
    SELECT bucket_start, avg_price_e6, n_quotes
    FROM agg ORDER BY bucket DESC LIMIT 50
    """,
    doc="A18 candle interval buckets + L5 latest-50-buckets-reversed "
    "contract (src/service/market/getPrice.ts:37-90: newest 50 buckets "
    "fetched DESC then re-sorted ASC for display).  window() 15-minute "
    "buckets over the ukrw minute prices, integer-mu average.",
)
def fcd_price_buckets_15m(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.pipeline.prices import price_interval_buckets_e6

    p = gen_prices(spark).filter(F.col("denom") == "ukrw")
    agg = price_interval_buckets_e6(p, 15).select(
        F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("bucket_start"),
        "avg_price_e6",
        "n_quotes",
    )
    # newest 50, then re-sorted ascending (the serving display order)
    return agg.orderBy(F.col("bucket_start").desc()).limit(50).orderBy("bucket_start")


def _freshness_probes(spark: SparkSession) -> DataFrame:
    """A23 MAX(ts) freshness probes (src/collector/dashboard/
    helpers.ts:16-37 getLatestDateOf*): one aggregate per table; on a
    date-partitioned table this reads only the newest partition's footer
    statistics.  One (max_block_ts, max_price_ts) row, gated inside
    fcd_dashboard (the reference's dashboard collector is the consumer
    of these probes)."""
    blocks_max = gen_blocks(spark).agg(
        F.date_format(F.max("timestamp"), "yyyy-MM-dd HH:mm:ss").alias("max_block_ts")
    )
    prices_max = gen_prices(spark).agg(
        F.date_format(F.max("datetime"), "yyyy-MM-dd HH:mm:ss").alias("max_price_ts")
    )
    return blocks_max.crossJoin(prices_max)


# ---------------------------------------------------------------------------
# S6/S7 file sources + A22 richlist share + J11 consensus pubkey join.
# ---------------------------------------------------------------------------
import base64 as _b64  # noqa: E402
import hashlib as _hashlib  # noqa: E402
import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402

from classic_fcd_spark.session import _lookup  # noqa: E402
from classic_fcd_spark.sources.files import read_richlist_csv, read_vesting_json  # noqa: E402
from classic_fcd_spark.sources.fixtures import ISSUANCES, valaddr_str  # noqa: E402

_N_RICH = 200


def _fixture_files_dir(spark: SparkSession) -> str:
    """Deterministic richlist CSV + vesting JSON staged once per session
    (the reference's /tmp/tracking-* and /tmp/vesting-* drops)."""

    def stage() -> str:
        d = _tempfile.mkdtemp(prefix="fcd_files_")
        with open(_os.path.join(d, "tracking-uluna.csv"), "w") as f:
            for r in range(_N_RICH):
                f.write(f"{addr_str(r)},{r * 977 % 100000 + 1000}\n")
        with open(_os.path.join(d, "vesting.json"), "w") as f:
            coins = ",".join(
                f'{{"denom":"{d_}","amount":"{(i + 1) * 12345}"}}'
                for i, d_ in enumerate(["ukrw", "uluna", "usdr", "uusd"])
            )
            f.write(f'{{"datetime":"2021-01-01T00:00:00.000Z","coins":[{coins}]}}\n')
        return d

    return _lookup(spark, ("files_dir",), stage)


@register(
    "fcd_richlist",
    f"""
    WITH rows AS (
        SELECT {duck_addr("r")} AS account,
               CAST(r * 977 % 100000 + 1000 AS BIGINT) AS amount
        FROM (SELECT unnest(range(0, {_N_RICH})) AS r)
    )
    SELECT account, amount,
           CAST(CAST(amount AS HUGEINT) * 1000000000 // {ISSUANCES["uluna"]} AS BIGINT) AS pct_e9
    FROM rows ORDER BY amount DESC, account LIMIT 20
    """,
    doc="S6 CSV richlist source (account,amount lines — "
    "src/collector/richlist.ts:15-37) + A22 percentage = amount / "
    "totalSupply against the issuance dim + W11 top-20 ranking "
    "(src/service/treasury/richList.ts:9-31).  The CSV is staged to a "
    "temp dir exactly like the reference's /tmp/tracking-* files.",
)
def fcd_richlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _os.path.join(_fixture_files_dir(spark), "tracking-uluna.csv")
    df = read_richlist_csv(spark, path, "uluna")
    supply = ISSUANCES["uluna"]
    return (
        df.select(
            "account",
            F.col("amount").cast("bigint").alias("amount"),
            F.expr(
                f"CAST(CAST(CAST(amount AS BIGINT) AS DECIMAL(38,0)) * 1000000000 div {supply} AS BIGINT)"
            ).alias("pct_e9"),
        )
        .orderBy(F.col("amount").desc(), "account")
        .limit(20)
    )


@register(
    "fcd_unvested",
    """
    SELECT * FROM (VALUES
        ('ukrw', CAST(12345 AS BIGINT)),
        ('uluna', 24690),
        ('usdr', 37035),
        ('uusd', 49380)
    ) AS t(denom, amount)
    """,
    doc="S7 JSON vesting file source (latest /tmp/vesting-* coins array — "
    "src/collector/unvested.ts:8-25): schema-on-read JSON, coins "
    "exploded to one unvested row per denom.",
)
def fcd_unvested(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _os.path.join(_fixture_files_dir(spark), "vesting.json")
    return read_vesting_json(spark, path).select(
        "denom", F.col("amount").cast("bigint").alias("amount")
    )


def _consensus_payloads():
    """20 (payload bytes, pubkey value, operator) rows; the payload bytes
    are the ground truth the bech32 decode must round-trip back to.
    hashlib-only — the bech32 ENCODING happens at query time
    (_valset_fixture) so module import does no bech32 work."""
    rows = []
    for v in range(20):
        payload = (
            _hashlib.md5(f"cons:{v}".encode()).digest()
            + _hashlib.md5(f"cons2:{v}".encode()).digest()[:4]
        )
        pubkey_val = _b64.b64encode(_hashlib.md5(f"pk:{v}".encode()).digest()).decode()
        rows.append((payload, pubkey_val, valaddr_str(v)))
    return rows


def _valset_fixture():
    """(consensus bech32 addr, pubkey value, operator, payload hex) rows —
    bech32-encodes the payloads at call time (not import time)."""
    from classic_fcd_spark.functions.bech32 import _convertbits, bech32_encode

    return [
        (
            bech32_encode("terravalcons", _convertbits(list(payload), 8, 5)),
            pubkey_val,
            op,
            payload.hex().upper(),
        )
        for payload, pubkey_val, op in _consensus_payloads()
    ]


@register(
    "fcd_consensus_map",
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{payload.hex().upper()}', '{op}')"
        for payload, _, op in _consensus_payloads()
    )
    + ") AS t(hex_address, operator_address)",
    doc="J11 consensus pubkey -> operator map (src/collector/block/"
    "block.ts:24-51): validator-set rows equi-joined to the validator dim "
    "on the consensus pubkey VALUE, consensus address converted to "
    "uppercase hex via the bech32 decode UDF (F5).  The oracle holds the "
    "raw payload bytes the decode must round-trip to — an independent "
    "check of the bech32 path, not a replay of it.",
)
def fcd_consensus_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.functions.bech32 import bech32_to_hex

    rows = _valset_fixture()
    valset = spark.createDataFrame(
        [(c, p) for c, p, _, _ in rows], ["consensus_address", "pub_key_value"]
    )
    validators = spark.createDataFrame(
        [(p, o) for _, p, o, _ in rows], ["consensus_pubkey_value", "operator_address"]
    )
    joined = valset.join(
        F.broadcast(validators),
        valset.pub_key_value == validators.consensus_pubkey_value,
    )
    return joined.select(
        bech32_to_hex(F.col("consensus_address")).alias("hex_address"),
        "operator_address",
    )


# ---------------------------------------------------------------------------
# W2/W3 cumulative series + A21 delegator weights.  Oracle of the in-test
# DuckDB gate (tests/test_fcd_pipeline.py): the W2/W3 cumulative-window
# pattern is a
# twin of account_growth's (W1, still driver-gated), and the per-denom
# partition adds no new machinery.
# ---------------------------------------------------------------------------
CUMULATIVE_REWARDS_ORACLE_SQL = f"""
    WITH blocks AS (SELECT unnest(range(1, {N} + 1)) AS h),
    coins AS (
        SELECT h, 'ukrw' AS denom, h * 13 % 500 + 1 AS amt FROM blocks
        UNION ALL SELECT h, 'uluna', h * 11 % 300 + 1 FROM blocks
    ),
    daily AS (
        SELECT {_DAY} AS day, denom, CAST(SUM(amt) AS BIGINT) AS reward
        FROM coins GROUP BY 1, 2
    )
    SELECT day, denom, reward,
           CAST(SUM(reward) OVER (PARTITION BY denom ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_reward
    FROM daily
    """


def fcd_cumulative_rewards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 cumulative block rewards + W3 per-denom cumulative series
    (src/service/dashboard/getBlockRewards.ts:5-27,
    getTransactionVol.ts:5-36): the reference's in-JS running sums as a
    denom-partitioned Window — distributes per key instead of
    single-threading the series.  Gated by the in-test oracle
    (CUMULATIVE_REWARDS_ORACLE_SQL)."""
    from classic_fcd_spark.operators.windows import cumulative

    daily = (
        _minute_rewards_silver_cached(spark)
        .filter(F.col("rtype") == "rewards")
        .withColumn("day", F.substring("minute", 1, 10))
        .groupBy("day", "denom")
        .agg(F.sum("total").alias("reward"))
    )
    out = cumulative(daily, "day", "reward", "cumulative_reward", partition_cols=["denom"])
    return out.withColumn("cumulative_reward", F.col("cumulative_reward").cast("long"))


# Oracle of the in-test DuckDB gate (tests/test_fcd_pipeline.py): A21's
# share-of-total arithmetic is a thin twin of A22 (`fcd_richlist`,
# driver-gated), and
# the W11 ranking contract stays driver-gated there too.
DELEGATOR_WEIGHTS_ORACLE_SQL = f"""
    WITH {DUCK_DELEGATIONS},
    mine AS (
        SELECT delegator, CAST(SUM(shares) AS BIGINT) AS shares
        FROM deleg WHERE validator = '{{val3}}'
        GROUP BY 1
    )
    SELECT delegator, shares,
           CAST(CAST(shares AS HUGEINT) * 1000000
                // (SELECT SUM(shares) FROM mine) AS BIGINT) AS weight_e6,
           ROW_NUMBER() OVER (ORDER BY shares DESC, delegator) AS rnk
    FROM mine
    """.replace("{val3}", valaddr_str(3))


def fcd_delegator_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21 delegator weights (src/service/staking/getDelegators.ts:18-48):
    weight = shares / total via an unpartitioned window over the
    per-validator delegator set (bounded by delegator count), ranked desc
    — W11 ordering contract.  Gated by the in-test oracle
    (DELEGATOR_WEIGHTS_ORACLE_SQL); `fcd_richlist` keeps the shared
    share-of-total + ranking pattern driver-gated."""
    from pyspark.sql import Window

    mine = (
        gen_delegations(spark)
        .filter(F.col("validator_address") == valaddr_str(3))
        .groupBy(F.col("delegator_address").alias("delegator"))
        .agg(F.sum("shares").cast("long").alias("shares"))
    )
    total = F.sum("shares").over(Window.partitionBy())
    w = Window.orderBy(F.col("shares").desc(), "delegator")
    return (
        mine.withColumn("__tot", total)
        .select(
            "delegator",
            "shares",
            F.expr(
                "CAST(CAST(shares AS DECIMAL(38,0)) * 1000000 div __tot AS BIGINT)"
            ).alias("weight_e6"),
            F.row_number().over(w).alias("rnk"),
        )
    )


# ---------------------------------------------------------------------------
# L3: in-memory page/limit contract (votes page).
# ---------------------------------------------------------------------------
# Oracle of the in-test DuckDB gate (tests/test_fcd_pipeline.py): the L3
# offset/limit contract is a thin twin of the driver-gated page contracts
# (L1
# `keyset_page_orders`, L5 `fcd_price_buckets_15m`'s LIMIT-50).
VOTES_PAGE_ORACLE_SQL = f"""
    WITH {DUCK_VOTES}
    SELECT vote_id, voter, option
    FROM votes WHERE proposal_id = 1
    ORDER BY vote_id DESC
    LIMIT 10 OFFSET 10
    """


def fcd_votes_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3 page/limit (drop/take) over sorted votes
    (src/service/governance/getVotes.ts:70-79, getDeposits.ts:119-137):
    the reference slices an in-memory array; here ORDER BY + OFFSET +
    LIMIT push into the plan (LimitPushDown) — page 2 of proposal 1's
    votes, newest first.  Gated by the in-test oracle
    (VOTES_PAGE_ORACLE_SQL); L1/L5 keep the paging contracts
    driver-gated."""
    return (
        gen_votes(spark)
        .filter(F.col("proposal_id") == 1)
        .orderBy(F.col("vote_id").desc())
        .offset(10)
        .limit(10)
        .select("vote_id", "voter", "option")
    )
