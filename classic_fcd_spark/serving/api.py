"""REST read paths re-expressed over the medallion tables.

Each function preserves the reference endpoint's *contract* (parameters,
pagination semantics, response shape) while the execution is a pruned
DataFrame plan instead of Postgres queries:

- get_tx_list     ← GET /v1/txs?account=&limit=&offset=
  (src/service/transaction/getTxList.ts:129-183: keyset page over
  account_tx L1, semi-join to tx J4, per-address compaction P6)
- get_dashboard_history ← GET /v1/dashboard (W1-W5 windows over gold)
- get_validator_returns ← GET /v1/staking/return (A14 annualization)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from classic_fcd_spark.operators.windows import cumulative, moving_avg

# P9: route/address validation regexes (src/lib/constant.ts:7-9)
ACCOUNT_REGEX = r"^terra1[a-z0-9]{38}$"
OPERATOR_REGEX = r"^terravaloper1[a-z0-9]{38}$"


def validate_account(account: str) -> bool:
    import re

    return re.match(ACCOUNT_REGEX, account) is not None


def get_tx_list(
    txs: DataFrame,
    account_tx: DataFrame,
    account: str,
    limit: int = 10,
    offset: tuple[int, str] | None = None,
) -> dict:
    """Keyset page of txs touching `account`, newest first.

    Contract (TransactionController.ts:157-173): limit+1 fetch; `next` =
    cursor for the following page; response rows carry the tx payload.
    Cursor = (height, hash): height alone is non-unique (many txs per
    block), so the keyset is the composite — the reference keysets on its
    unique serial tx id; (height, hash) is our equivalent unique monotone
    key, and no boundary row is ever skipped between pages.
    """
    if not validate_account(account):
        raise ValueError(f"invalid account address: {account!r}")  # P9
    page = account_tx.filter(F.col("account") == account)
    if offset is not None:
        oh, ohash = offset
        page = page.filter(
            (F.col("height") < oh)
            | ((F.col("height") == oh) & (F.col("hash") < ohash))
        )
    page = (
        page.select("hash", "height")
        .orderBy(F.col("height").desc(), F.col("hash").desc())
        .limit(limit + 1)
    )
    # J4: page of ids ⋉ tx — broadcast the tiny page side.  The ≤ limit+1
    # matched rows go into keyset order on the driver: a global orderBy
    # here would add a sampling job and an exchange for those few rows
    rows = sorted(
        txs.join(F.broadcast(page), ["hash", "height"], "left_semi").collect(),
        key=lambda r: (r["height"], r["hash"]),
        reverse=True,
    )
    next_cursor = None
    if len(rows) > limit:
        last = rows[limit - 1]
        next_cursor = (last["height"], last["hash"])
        rows = rows[:limit]
    return {
        "limit": limit,
        "next": next_cursor,
        "txs": [
            {
                "hash": r["hash"],
                "height": r["height"],
                "timestamp": r["timestamp"].isoformat(),
                "success": r["code"] is None,
                "msgs": [{"type": m["type"], "value": m["value"]} for m in r["msgs"]],
            }
            for r in rows
        ],
    }


def enrich_account_txs(
    account_tx: DataFrame,
    accounts_dim: DataFrame,
    min_share: float = 0.05,
    salts: int = 16,
    memo_key: str | None = None,
) -> DataFrame:
    """Account-dim enrichment of the account_tx fact — the batch join
    behind the account tx page family (the workload of
    src/service/transaction/getTxList.ts:152-153, where the reference
    resorts to a bitmap-scan hint for exactly this hot-account shape):
    every account_tx row gains its account's dim attributes
    (labels/segments/lifetime stats) before the page extract is built.

    THE exchange-regime join: one deposit-sweep account can hold ~20%
    of all account_tx rows (measured at 20M rows — unsalted straggler
    3.43 s, partition spread 7.15x; 16-salt repair → 1.90x, p99 −28%;
    BENCH_NOTES), and a 1000-executor stage is bounded by that one
    straggler task.  So the join runs through auto_salted_join
    (operators/skewjoin.py): a Misra-Gries heavy-hitters pass detects
    keys above `min_share` of the fact, and ONLY then engages the salt
    — hot fact rows scatter over `salts` sub-keys, dim rows replicate
    for hot keys only.  With no hot key the result IS the plain join
    (no salt machinery in the plan; asserted in tests/test_skewjoin.py)
    — salting is a hot-key tool, not a default, and detection costs one
    bounded Arrow scan of the fact.  Left join: enrichment never drops
    a fact row for a dim miss.

    `memo_key`: when the fact is a per-corpus silver, pass its
    generation key so the detection verdict (the hot-key list) is reused
    across calls instead of re-scanning the fact each time."""
    from classic_fcd_spark.operators.skewjoin import auto_salted_join

    return auto_salted_join(
        account_tx,
        accounts_dim,
        "account",
        salts=salts,
        how="left",
        min_share=min_share,
        memo_key=memo_key,
    )


def compact_msgs(txs: DataFrame, address: str) -> DataFrame:
    """P6 per-address response compaction (src/service/transaction/
    getTxList.ts:64-127 compactTransactionData): keep only the msgs that
    mention `address` anywhere in their payload (hasValueInObject walks
    the object tree; our msg payloads are JSON strings, so exact-value
    membership is the quoted-string containment), and blank raw_log for
    successful txs.  Array filter() HOF — no explode, no shuffle."""
    quoted = f'"{address}"'
    kept = F.filter("msgs", lambda m: m["value"].contains(quoted))
    return txs.withColumn("msgs", kept).withColumn(
        "raw_log",
        F.when(F.col("code").isNull(), F.lit("")).otherwise(
            F.coalesce(F.col("logs_json"), F.lit(""))
        ),
    )


def get_tx_by_hash(txs: DataFrame, txhash: str) -> DataFrame:
    """P7 case-insensitive point lookup (src/service/transaction/
    getTx.ts:6-13: hash=lower(:h) OR hash=upper(:h)).  On a hash- or
    bucket-partitioned tx table this prunes to one partition; the
    predicate pushes down to the scan."""
    return txs.filter(
        (F.col("hash") == txhash.lower()) | (F.col("hash") == txhash.upper())
    )


def get_block_with_txs(
    blocks: DataFrame, txs: DataFrame, validators: DataFrame, height: int
) -> DataFrame:
    """J3 block ⟕ txs with collected, ordered children + proposer moniker
    (src/service/transaction/getBlock.ts:16-43): the reference's
    leftJoinAndSelect + per-block validator findOne becomes a groupBy
    collect (children sorted for determinism) and a broadcast dim join."""
    b = blocks.filter(F.col("height") == height).select(
        "chain_id", "height", "timestamp", "proposer"
    )
    children = (
        txs.filter(F.col("height") == height)
        .groupBy("height")
        .agg(
            F.sort_array(F.collect_list("hash")).alias("tx_hashes"),
            F.count("*").alias("n_txs"),
        )
    )
    val = validators.select(
        F.col("operator_address").alias("proposer"), "moniker"
    )
    return (
        b.join(children, "height", "left")
        .join(F.broadcast(val), "proposer", "left")
        .select(
            "chain_id",
            "height",
            F.date_format("timestamp", "yyyy-MM-dd HH:mm:ss").alias("timestamp_str"),
            "proposer",
            F.coalesce("moniker", F.lit("")).alias("proposer_moniker"),
            F.coalesce(F.col("n_txs"), F.lit(0)).alias("n_txs"),
            F.concat_ws(",", F.coalesce("tx_hashes", F.array())).alias("tx_hashes_csv"),
        )
    )


def get_dashboard_history(dashboard: DataFrame) -> DataFrame:
    """W1 cumulative accounts + W2 cumulative rewards + W5 trailing MA
    over the gold dashboard — the in-JS window math of
    src/service/dashboard/getAccountGrowth.ts etc. as real Window specs."""
    out = cumulative(dashboard, "day", "active_accounts", "cumulative_active")
    out = cumulative(out, "day", "reward_total", "cumulative_reward")
    out = moving_avg(out, "day", "tx_count", "tx_count_ma3", trailing_rows=3)
    w = Window.orderBy("day")
    return out.withColumn(
        "tx_count_diff", F.col("tx_count") - F.lag("tx_count", 1).over(w)
    )


def get_validator_returns(validator_returns: DataFrame, window_days: int = 30) -> DataFrame:
    """A14: annualized return per operator over the trailing window —
    SUM(daily_return) * 365 / COUNT(*), flag isNewValidator when the
    window has too few rows (src/service/staking/getValidatorReturn.ts:11-43)."""
    half = window_days // 2
    return (
        validator_returns.groupBy("operator_address", "moniker")
        .agg(
            (F.sum("daily_return") * 365 / F.count("*")).alias("annualized_return"),
            F.count("*").alias("n_days"),
        )
        .withColumn("is_new_validator", F.col("n_days") < half)
    )
