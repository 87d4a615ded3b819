"""The fcd collector cascade as declarative DataFrame transforms.

Each function maps a reference collector job (file:line cited) onto
Catalyst-friendly operations: typed from_json instead of jsonb walks,
explode + hash aggregate instead of row loops, window() instead of the
minute-boundary trigger, broadcast dim joins instead of point lookups.

Scale notes (100 TB):
- bronze tables partition by date(timestamp); every silver/gold job
  below filters on time first → partition pruning.
- all aggregates are partial-final (map-side combine) hash aggregates on
  (minute|day, denom|account) keys — bounded cardinality, no skew risk
  except `account` (Zipf): AQE skew handling + salting hook noted.
- the only Python in the whole pipeline is the bech32 UDF at ingest
  (§2.10); everything here is JVM Column algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from classic_fcd_spark.functions.common import (
    extract_addresses,
    split_denom_and_amount,
)

SEND_SCHEMA = (
    "from_address string, to_address string, "
    "amount array<struct<denom:string, amount:string>>"
)
MULTISEND_SCHEMA = (
    "inputs array<struct<address:string, coins:array<struct<denom:string, amount:string>>>>, "
    "outputs array<struct<address:string, coins:array<struct<denom:string, amount:string>>>>"
)
SWAP_SCHEMA = (
    "trader string, offer_coin struct<denom:string, amount:string>, ask_denom string"
)
LOGS_SCHEMA = (
    "array<struct<events: array<struct<type:string, "
    "attributes: array<struct<key:string, value:string>>>>>>"
)


def _minute(col) -> F.Column:
    return F.date_format(F.date_trunc("minute", col), "yyyy-MM-dd HH:mm:ss")


def _day(col) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd")


def success(txs: DataFrame) -> DataFrame:
    """P4: failed tx iff code present (src/lib/tx.ts:1-3)."""
    return txs.filter(F.col("code").isNull())


# ---------------------------------------------------------------------------
# silver account_tx — F4 address explode (src/collector/block/accountTx.ts:5-58).
# ---------------------------------------------------------------------------
def tx_accounts() -> F.Column:
    """A tx's accounts: every terra address anywhere in its msg
    payloads, distinct.  to_json serialization makes the regex walk
    exactly as exhaustive as the reference's recursive JSON walk — same
    operator family as SURVEY F4.  The block ingest collects this array
    to learn which account-extract buckets a batch touches."""
    return extract_addresses(F.to_json("msgs"))


def account_tx_silver(txs: DataFrame) -> DataFrame:
    """One row per (account, tx) of `tx_accounts` (D5)."""
    return txs.select(
        "hash",
        "height",
        "timestamp",
        F.explode(tx_accounts()).alias("account"),
    )


# ---------------------------------------------------------------------------
# silver tx volume per minute × denom — A5 (network.ts:14-107) + D2 merge.
# ---------------------------------------------------------------------------
def tx_volume_minute_silver(txs: DataFrame) -> DataFrame:
    """MsgSend amounts + MsgMultiSend input coins, successful txs only,
    merged per (minute, denom).  Typed from_json per msg type (the
    reference's jsonb containment filter P2 becomes exists() on the
    parsed struct)."""
    ok = success(txs)
    # P2: the reference's jsonb containment probe (msg @> '[{"type":
    # "bank/MsgSend"}]') is an exists() HOF on the typed array — txs with
    # no send/multisend msg are dropped BEFORE the explode ever runs
    ok = ok.filter(
        F.exists("msgs", lambda m: m["type"].isin("bank/MsgSend", "bank/MsgMultiSend"))
    )
    msgs = ok.select(
        "timestamp", F.explode("msgs").alias("m")
    )
    send = (
        msgs.filter(F.col("m.type") == "bank/MsgSend")
        .select(
            "timestamp",
            F.explode(F.from_json("m.value", SEND_SCHEMA).getField("amount")).alias("coin"),
        )
    )
    multi = (
        msgs.filter(F.col("m.type") == "bank/MsgMultiSend")
        .select(
            "timestamp",
            F.explode(
                F.flatten(
                    F.from_json("m.value", MULTISEND_SCHEMA)
                    .getField("inputs")
                    .getField("coins")
                )
            ).alias("coin"),
        )
    )
    coins = send.unionByName(multi).select(
        _minute("timestamp").alias("minute"),
        F.col("coin.denom").alias("denom"),
        F.col("coin.amount").cast("long").alias("amount"),
    )
    return coins.groupBy("minute", "denom").agg(
        F.sum("amount").alias("volume"),
        F.count("*").alias("n_coins"),
    )


# ---------------------------------------------------------------------------
# silver swap volume — A7 + F19 (src/collector/block/swap.ts:15-207).
# ---------------------------------------------------------------------------
def swap_volume_minute_silver(txs: DataFrame) -> DataFrame:
    """Per (minute, denom): swap in/out/fee sums.

    Reference getSwapValues (swap.ts:78-118): successful txs only; per
    MsgSwap msg paired with its log — IN from the msg's offer_coin, OUT
    and FEE from the log's 'swap' event attributes swap_coin/swap_fee
    ("123denom" strings).  Spread needs a live LCD simulation and is out
    of engine scope (SURVEY A7 note).

    Spark shape: posexplode pairs msg i with log i exactly like the
    reference's index walk; F19's lodash filters become array filter()
    HOFs + get() (NULL-safe under ANSI); one hash aggregate on the
    bounded (minute, denom) key."""
    ok = success(txs).withColumn("logs", F.from_json("logs_json", LOGS_SCHEMA))
    pairs = ok.select(
        "timestamp", "logs", F.posexplode("msgs").alias("pos", "m")
    ).filter(F.col("m.type") == "market/MsgSwap")
    # log for msg i; reference skips the msg when logs[i] is absent
    pairs = pairs.withColumn("log", F.get("logs", F.col("pos"))).filter(
        F.col("log").isNotNull()
    )
    swap_ev = F.get(F.filter("log.events", lambda e: e["type"] == F.lit("swap")), 0)
    attr = lambda key: F.get(  # noqa: E731
        F.filter(swap_ev["attributes"], lambda a: a["key"] == F.lit(key)), 0
    )["value"]
    offer = F.from_json("m.value", SWAP_SCHEMA).getField("offer_coin")
    kinds = pairs.select(
        _minute("timestamp").alias("minute"),
        offer.alias("offer"),
        split_denom_and_amount(attr("swap_coin")).alias("out_coin"),
        split_denom_and_amount(attr("swap_fee")).alias("fee_coin"),
    )
    flat = (
        kinds.select(
            "minute",
            F.col("offer.denom").alias("denom"),
            F.lit("in").alias("kind"),
            F.col("offer.amount").cast("long").alias("amt"),
        )
        .unionByName(
            kinds.select(
                "minute",
                F.col("out_coin.denom").alias("denom"),
                F.lit("out").alias("kind"),
                F.col("out_coin.amount").cast("long").alias("amt"),
            ).filter(F.col("denom").isNotNull())
        )
        .unionByName(
            kinds.select(
                "minute",
                F.col("fee_coin.denom").alias("denom"),
                F.lit("fee").alias("kind"),
                F.col("fee_coin.amount").cast("long").alias("amt"),
            ).filter(F.col("denom").isNotNull())
        )
    )
    return flat.groupBy("minute", "denom").agg(
        F.coalesce(F.sum(F.when(F.col("kind") == "in", F.col("amt"))), F.lit(0)).alias("swap_in"),
        F.coalesce(F.sum(F.when(F.col("kind") == "out", F.col("amt"))), F.lit(0)).alias("swap_out"),
        F.coalesce(F.sum(F.when(F.col("kind") == "fee", F.col("amt"))), F.lit(0)).alias("swap_fee"),
    )


# ---------------------------------------------------------------------------
# silver block rewards — A1 (block.ts:88-140): CSV amounts → DenomMaps.
# ---------------------------------------------------------------------------
def block_rewards_silver(blocks: DataFrame) -> DataFrame:
    """Per block: reward and commission DenomMaps (map<denom, sum>) plus
    per-validator breakdown — explode → groupBy → map_from_entries."""
    ev = blocks.select(
        "height",
        "timestamp",
        F.explode("reward_events").alias("e"),
    )
    coins = ev.select(
        "height",
        "timestamp",
        F.col("e.validator").alias("validator"),
        F.col("e.type").alias("rtype"),
        F.explode(F.split(F.col("e.amount"), ",")).alias("coin_str"),
    ).select(
        "height",
        "timestamp",
        "validator",
        "rtype",
        split_denom_and_amount(F.col("coin_str")).alias("coin"),
    )
    per_denom = (
        coins.groupBy("height", "timestamp", "rtype", F.col("coin.denom").alias("denom"))
        .agg(F.sum("coin.amount").alias("amt"))
        .groupBy("height", "timestamp", "rtype")
        .agg(F.map_from_entries(F.collect_list(F.struct("denom", "amt"))).alias("denom_map"))
    )
    return per_denom


# ---------------------------------------------------------------------------
# silver minute rewards — A2/A3 (reward.ts:16-121).
# ---------------------------------------------------------------------------
def minute_rewards_silver(blocks: DataFrame) -> DataFrame:
    """Sum reward CSV coins per (minute, denom, type) — the minute rollup
    the reference reads back from Postgres after every minute boundary
    (T3); here one windowed aggregate over the stream/batch."""
    ev = blocks.select("timestamp", F.explode("reward_events").alias("e"))
    coins = ev.select(
        "timestamp",
        F.col("e.type").alias("rtype"),
        F.explode(F.split(F.col("e.amount"), ",")).alias("coin_str"),
    ).select(
        "timestamp",
        "rtype",
        split_denom_and_amount(F.col("coin_str")).alias("coin"),
    )
    return (
        coins.groupBy(
            _minute("timestamp").alias("minute"),
            F.col("coin.denom").alias("denom"),
            "rtype",
        )
        .agg(
            F.sum("coin.amount").cast("long").alias("total"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# T4: one-block-shifted minute attribution (reward.ts:88-121).
# ---------------------------------------------------------------------------
def minute_rewards_shifted_silver(blocks: DataFrame) -> DataFrame:
    """The reference's getRewards drops the first block of each minute
    window and appends the block right after it (height+1) — so block h's
    rewards are attributed to the minute of block h−1, and the first
    block of the chain is never attributed (reward.ts:99-113).

    Spark-first: a height self-join (h = prev.h + 1) carries the
    predecessor's timestamp; contiguous heights make this exact.  An
    equi-join shuffle on height — NOT an unpartitioned lag window, which
    would single-thread the whole chain at scale."""
    prev = blocks.select(
        (F.col("height") + 1).alias("height"),
        F.col("timestamp").alias("prev_timestamp"),
    )
    shifted = blocks.join(prev, "height").select(
        "height", F.col("prev_timestamp").alias("timestamp"), "reward_events"
    )
    return minute_rewards_silver(shifted)


# ---------------------------------------------------------------------------
# silver tax/gas/oracle decomposition — F13 + A2 + A4
# (src/collector/block/tx.ts:30-138, reward.ts:16-81,123-157).
# ---------------------------------------------------------------------------

# Fixture tax params (the reference fetches these per height from LCD —
# lcd.getTaxRate / getTaxCaps, tx.ts:20-28).  Rate is µ-encoded so
# floor(amount × rate) is exact integer math on both engines.
TAX_RATE_E6 = 100_000  # 0.1
TAX_CAPS = {"ukrw": 60}  # binds sometimes on the fixture's <=1005 amounts
DEFAULT_TAX_CAP = 1_000_000  # tx.ts:42 fallback


def _tax_cap() -> F.Column:
    cap = F.lit(DEFAULT_TAX_CAP)
    for denom, c in TAX_CAPS.items():
        cap = F.when(F.col("denom") == denom, F.lit(c)).otherwise(cap)
    return cap


def tax_per_tx_denom(txs: DataFrame) -> DataFrame:
    """F13 getTax (tx.ts:30-81): per successful tx, per non-uluna coin of
    its MsgSend amounts / MsgMultiSend input coins:
    tax = min(floor(amount × taxRate), taxCap(denom)), summed per denom.
    Failed txs contribute nothing (assignGasAndTax bails before writing
    tax into logs when logs are absent — tx.ts:119-122)."""
    msgs = success(txs).select("hash", "timestamp", F.explode("msgs").alias("m"))
    send = msgs.filter(F.col("m.type") == "bank/MsgSend").select(
        "hash",
        "timestamp",
        F.explode(F.from_json("m.value", SEND_SCHEMA).getField("amount")).alias("coin"),
    )
    multi = msgs.filter(F.col("m.type") == "bank/MsgMultiSend").select(
        "hash",
        "timestamp",
        F.explode(
            F.flatten(
                F.from_json("m.value", MULTISEND_SCHEMA)
                .getField("inputs")
                .getField("coins")
            )
        ).alias("coin"),
    )
    coins = (
        send.unionByName(multi)
        .select(
            "hash",
            "timestamp",
            F.col("coin.denom").alias("denom"),
            F.col("coin.amount").cast("long").alias("amount"),
        )
        .filter(F.col("denom") != "uluna")
    )
    taxed = coins.withColumn(
        "tax",
        F.least(F.expr(f"amount * {TAX_RATE_E6} div 1000000"), _tax_cap()),
    )
    return taxed.groupBy("hash", "timestamp", "denom").agg(F.sum("tax").alias("tax"))


def reward_minute_fees(
    blocks: DataFrame,
    txs: DataFrame,
    prices: DataFrame,
    minute_rewards: DataFrame | None = None,
) -> DataFrame:
    """A2 minute fee rollup + A4 oracle decomposition (reward.ts:123-157):

    - tax  per (minute, denom): getFee sums the per-msg tax CSVs written
      into logs (reward.ts:32-57) — here the tax_per_tx_denom aggregate.
    - gas  per (minute, denom): getGas sums fee.amount AFTER
      assignGasAndTax replaced fee with fee−tax for successful txs
      (tx.ts:98-135); failed txs keep their original fee and contribute
      it whole (getFees has no success filter — reward.ts:59-82).
    - sum  per (minute, denom): the block reward map ('rewards' type).
    - oracle = max(0, sum − tax − gas), plus USD values via the ACTIVE
      minute price (getAllActivePrices, not the daily average).

    Shape: three bounded hash-aggregates full-outer-joined on the tiny
    (minute, denom) key, then a broadcast price join — no scan is read
    twice, nothing collects.
    """
    from classic_fcd_spark.pipeline.prices import (
        minute_price_e6,
        usd_value_e6,
        with_day_prices,
    )

    taxed = tax_per_tx_denom(txs)
    tax_minute = taxed.groupBy(
        _minute("timestamp").alias("minute"), "denom"
    ).agg(F.sum("tax").alias("tax"))

    fees = txs.select(
        "hash", "timestamp", "code", F.explode("fee").alias("f")
    ).select(
        "hash",
        "timestamp",
        "code",
        F.col("f.denom").alias("denom"),
        F.col("f.amount").cast("long").alias("fee_amt"),
    )
    gas_rows = fees.join(
        taxed.select("hash", "denom", F.col("tax").alias("msg_tax")),
        ["hash", "denom"],
        "left",
    ).select(
        "timestamp",
        "denom",
        # tax is only ever subtracted from fee denoms the tx actually
        # taxed (feeObj[denom] check, tx.ts:104-106); failed txs never
        # appear in `taxed`, so coalesce keeps their full fee.
        (F.col("fee_amt") - F.coalesce("msg_tax", F.lit(0))).alias("gas"),
    )
    gas_minute = gas_rows.groupBy(_minute("timestamp").alias("minute"), "denom").agg(
        F.sum("gas").alias("gas")
    )

    # `minute_rewards` (r15): reuse a stored minute-rewards silver
    # instead of re-deriving it from the block bronze per call
    sum_minute = (
        (minute_rewards_silver(blocks) if minute_rewards is None else minute_rewards)
        .filter(F.col("rtype") == "rewards")
        .select("minute", "denom", F.col("total").alias("reward_sum"))
    )

    grid = (
        tax_minute.join(gas_minute, ["minute", "denom"], "full")
        .join(sum_minute, ["minute", "denom"], "full")
        .select(
            "minute",
            "denom",
            F.coalesce("tax", F.lit(0)).alias("tax"),
            F.coalesce("gas", F.lit(0)).alias("gas"),
            F.coalesce("reward_sum", F.lit(0)).alias("reward_sum"),
        )
        .withColumn(
            "oracle_amt",
            F.greatest(F.lit(0), F.col("reward_sum") - F.col("tax") - F.col("gas")),
        )
    )
    priced = with_day_prices(grid, minute_price_e6(prices), day_col="minute")
    return priced.select(
        "minute",
        "denom",
        "tax",
        "gas",
        "reward_sum",
        "oracle_amt",
        usd_value_e6("tax").alias("tax_usd_e6"),
        usd_value_e6("oracle_amt").alias("oracle_usd_e6"),
    )


# ---------------------------------------------------------------------------
# gold dashboard — A8-A12 + A24 (collectDashboard.ts:15-67).
# ---------------------------------------------------------------------------
def dashboard_gold(txs: DataFrame, account_tx: DataFrame, minute_rewards: DataFrame) -> DataFrame:
    """Daily assembly: tx volume map, active accounts, reward totals —
    the four-way daily join (A24), each input already reduced to day
    grain so the join is tiny."""
    ok = success(txs)
    tx_count = ok.groupBy(_day("timestamp").alias("day")).agg(
        F.count("*").alias("tx_count")
    )
    active = account_tx.groupBy(_day("timestamp").alias("day")).agg(
        F.countDistinct("account").alias("active_accounts")
    )
    rewards = (
        minute_rewards.withColumn("day", F.substring("minute", 1, 10))
        .groupBy("day")
        .agg(F.sum("total").alias("reward_total"))
    )
    return (
        tx_count.join(active, "day", "full")
        .join(rewards, "day", "full")
        .select(
            "day",
            F.coalesce("tx_count", F.lit(0)).alias("tx_count"),
            F.coalesce("active_accounts", F.lit(0)).alias("active_accounts"),
            F.coalesce("reward_total", F.lit(0)).alias("reward_total"),
        )
    )


# ---------------------------------------------------------------------------
# gold validator returns — A13/A14 (collectValidatorReturn.ts:28-72).
# ---------------------------------------------------------------------------
def validator_returns_gold(blocks: DataFrame, validators: DataFrame) -> DataFrame:
    """Per (day, validator): reward sums from the per-validator events,
    normalized by the validator's voting power (broadcast dim join J5),
    annualized A14-style."""
    ev = blocks.select("timestamp", F.explode("reward_events").alias("e"))
    coins = ev.select(
        _day("timestamp").alias("day"),
        F.col("e.validator").alias("operator_address"),
        F.explode(F.split(F.col("e.amount"), ",")).alias("coin_str"),
    ).select(
        "day",
        "operator_address",
        split_denom_and_amount(F.col("coin_str")).alias("coin"),
    )
    daily = coins.groupBy("day", "operator_address").agg(
        F.sum("coin.amount").cast("decimal(38,10)").alias("reward_sum")
    )
    return (
        daily.join(F.broadcast(validators), "operator_address")
        .select(
            "day",
            "operator_address",
            "moniker",
            "reward_sum",
            "voting_power",
            (F.col("reward_sum") / F.col("voting_power")).alias("daily_return"),
        )
    )
