"""Composed daily gold runner — the reference's per-day cron layer as
ONE idempotent MERGE pass (src/collector/collector.ts:50-67):

  00:10  collectValidatorReturn  (staking/collectValidatorReturn.ts:
         74-118): trailing-3-day window [asof-3, asof), one row per
         (day, validator), an exists-guard per row unless
         updateExisting (generateValidatorReturns:44-47)
  00:20  collectDashboard        (dashboard/collectDashboard.ts:15-67,
         PREVIOUS_DAYS_TO_CALCULATE=3): same trailing window, one row
         per day, same exists-guard (":36-42)
  13:00  collectRichList + collectUnvested (richlist.ts / unvested.ts):
         full snapshot for asof_day, replaced wholesale (the reference
         truncates and reloads from the day's tracking file)

Each job computes its day-grain gold lazily (the same plans the gated
fcd_dashboard / fcd_validator_returns / fcd_richlist / fcd_unvested
queries run); the window collectors MERGE by key, the snapshot
collectors REPLACE their day partition (truncate-and-reload parity),
and both paths commit through the crash-safe two-phase promotion
(sources/promote.py), so a crash at any job boundary — or inside a
promotion — converges on re-run: the batch twin of what
streaming/block_ingest.py does for the per-block transaction.

Scale: every MERGE touches only the window's day partitions (3-4 of
them); the gold inputs are day-grain aggregates, so at 100 TB the read
side is the pruned day partitions of bronze, never the table.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.sources.promote import (
    DAYS,
    PARTITION_COL,
    merge_upsert,
    read_table,
    replace_partitions,
    stored_partitions,
)

DASHBOARD = "dashboard_gold"
VALIDATOR_RETURNS = "validator_returns_gold"
RICHLIST = "richlist_gold"
UNVESTED = "unvested_gold"

# dashboard/collectDashboard.ts:15 and collectValidatorReturn.ts:95 use
# the same trailing recompute horizon
PREVIOUS_DAYS_TO_CALCULATE = 3


def _window_days(asof_day: str) -> list[str]:
    """[asof-3, asof) — 'yesterday and the two days before', never
    today (collectValidatorReturn.ts:107 'toTs -= 10 ... just to make
    sure it doesn't calculate for today')."""
    d = datetime.date.fromisoformat(asof_day)
    return [
        (d - datetime.timedelta(days=i)).isoformat()
        for i in range(PREVIOUS_DAYS_TO_CALCULATE, 0, -1)
    ]


def _merge_window(
    spark: SparkSession,
    gold: DataFrame,
    table_dir: str,
    keys: list[str],
    days: list[str],
    update_existing: bool,
) -> None:
    """The shared shape of the two trailing-window collectors: scope the
    day-grain gold to the window, apply the reference's exists-guard
    (skip days already stored unless updateExisting), MERGE by key."""
    scoped = gold.filter(F.col("day").isin(days))
    if not update_existing:
        # the listing heals first: after a crashed promotion a stored day
        # parked as `day_pt=X__old` would be invisible to the guard and
        # silently recomputed
        skip = set(stored_partitions(table_dir)) & set(days)
        if skip:
            scoped = scoped.filter(~F.col("day").isin(sorted(skip)))
    merge_upsert(spark, scoped, table_dir, keys, partition_expr=F.col("day"))


def collect_dashboard(
    spark: SparkSession,
    out_dir: str,
    asof_day: str,
    update_existing: bool = False,
    gold: DataFrame | None = None,
) -> None:
    """collectDashboard.ts:15-67 — the A24 assembly for the trailing
    window, per-day MERGE.  `gold` injects the day-grain dashboard gold
    (the ingest-derived composition in tests/test_e2e_day.py feeds the
    streamed bronze through pipeline.medallion.dashboard_gold); default
    is the fixture-bronze plan the driver gates."""
    if gold is None:
        from classic_fcd_spark.queries.fcd import fcd_dashboard

        gold = fcd_dashboard(spark, "").drop("max_block_ts", "max_price_ts")
    _merge_window(
        spark,
        gold,
        os.path.join(out_dir, DASHBOARD),
        ["day"],
        _window_days(asof_day),
        update_existing,
    )


def collect_validator_returns(
    spark: SparkSession,
    out_dir: str,
    asof_day: str,
    update_existing: bool = False,
    gold: DataFrame | None = None,
) -> None:
    """collectValidatorReturn.ts:74-118 — per-(day, validator) return
    rows for the trailing window.  The reference's exists-guard is per
    row within a day; rows within a day are all written in one save, so
    the day-grain guard is equivalent for the deterministic gold.
    `gold` injects the return rows (validator_returns_view over the
    streamed blockreward bronze in the composed e2e day test); default
    is the fixture-bronze driver plan."""
    if gold is None:
        from classic_fcd_spark.queries.fcd import fcd_validator_returns

        gold = fcd_validator_returns(spark, "")
    _merge_window(
        spark,
        gold,
        os.path.join(out_dir, VALIDATOR_RETURNS),
        ["day", "operator_address"],
        _window_days(asof_day),
        update_existing,
    )


def collect_richlist(spark: SparkSession, out_dir: str, asof_day: str) -> None:
    """richlist.ts — the day's tracking-file snapshot, stamped with the
    collection day and replaced wholesale: the reference truncates the
    day and reloads from the tracking file, so an account that LEFT the
    file must not survive (an upsert-MERGE would keep it).  The whole
    day partition flips atomically."""
    from classic_fcd_spark.queries.fcd import fcd_richlist

    snap = fcd_richlist(spark, "").select(
        F.lit(asof_day).alias("day"),
        F.lit("uluna").alias("denom"),
        "account",
        "amount",
        "pct_e9",
        F.lit(asof_day).alias(PARTITION_COL),
    )
    replace_partitions(snap, os.path.join(out_dir, RICHLIST), [asof_day], DAYS)


def collect_unvested(spark: SparkSession, out_dir: str, asof_day: str) -> None:
    """unvested.ts — the day's vesting snapshot, per-denom totals,
    replaced wholesale like the richlist."""
    from classic_fcd_spark.queries.fcd import fcd_unvested

    snap = fcd_unvested(spark, "").select(
        F.lit(asof_day).alias("day"),
        "denom",
        "amount",
        F.lit(asof_day).alias(PARTITION_COL),
    )
    replace_partitions(snap, os.path.join(out_dir, UNVESTED), [asof_day], DAYS)


def run_daily_gold(
    spark: SparkSession,
    out_dir: str,
    asof_day: str,
    update_existing: bool = False,
    dashboard_df: DataFrame | None = None,
    validator_returns_df: DataFrame | None = None,
) -> None:
    """One scheduled pass, in the reference's cron order (00:10 return
    calculator, 00:20 dashboard, 13:00 richlist + vesting).  Idempotent
    end-to-end: every sink is a keyed MERGE or a day-partition replace
    of deterministic day-grain gold, so replaying the whole pass — or
    resuming after a crash at any job boundary — converges to the same
    table bytes.  The two window collectors take optional gold
    injections so the pass composes with the streamed ingest's bronze
    (the ingest→gold seam, tests/test_e2e_day.py)."""
    collect_validator_returns(
        spark, out_dir, asof_day, update_existing, gold=validator_returns_df
    )
    collect_dashboard(spark, out_dir, asof_day, update_existing, gold=dashboard_df)
    collect_richlist(spark, out_dir, asof_day)
    collect_unvested(spark, out_dir, asof_day)


def read_gold(spark: SparkSession, out_dir: str, table: str) -> DataFrame:
    return read_table(spark, os.path.join(out_dir, table))
