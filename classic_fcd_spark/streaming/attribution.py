"""Stream-stream interval join: conversion attribution on live events.

The one streaming operator class the rest of the engine didn't yet
exercise: BOTH inputs are unbounded (views and purchases from the same
event stream), and the join predicate is an event-time interval —
`view.ts <= purchase.ts < view.ts + horizon` per user — the classic
"which view converted" attribution query.

Spark-first mechanics (all native, no custom state):
- each side gets a watermark; the range condition lets the engine derive
  a state-retention bound per side (views are held `horizon + watermark`
  past the watermark, purchases only `watermark`) — state is bounded and
  self-evicting, the thing a hand-rolled cache gets wrong;
- the join itself is a plain stream-stream inner join with an equi-key
  (user_id) plus the time-range predicate: shuffle-partitioned on the
  key like any equi-join, state co-located with its partition.

Batch twin for backfill: the SAME predicate as a bucketized interval
join (operators/rangejoin.py) — exact agreement proven in
tests/test_streaming_attribution.py.

Reference parity: classic-fcd has no stream-stream joins (its collector
is a single ingest loop); extension surface, SURVEY §2.9 family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.streaming.drain import drain_collect, events_stream


def attribution_stream(
    spark: SparkSession,
    events_dir: str,
    horizon_seconds: int = 3600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """(user_id, view_id, purchase_id, view_ts, purchase_ts, lag_secs):
    every (view, purchase) pair of one user with the purchase inside
    [view_ts, view_ts + horizon) — unbound plan, caller attaches sink."""
    src = events_stream(spark, events_dir, max_files_per_trigger=1)
    views = (
        src.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    purchases = (
        src.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    cond = (
        (F.col("v_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            < F.col("view_ts") + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")
        )
    )
    return views.join(purchases, cond, "inner").select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")) / 1_000_000
        ).cast("long").alias("lag_secs"),
    )


def attribution_batch(
    events: DataFrame, horizon_seconds: int = 3600
) -> DataFrame:
    """The backfill twin over a bounded events table — same pairs, same
    columns, via the bucketized interval join (the views become the
    intervals [ts, ts + horizon))."""
    from classic_fcd_spark.operators.rangejoin import interval_join

    views = events.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
        (F.col("ts") + F.expr(f"INTERVAL {int(horizon_seconds)} SECONDS")).alias(
            "view_end"
        ),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    joined = interval_join(
        purchases, "purchase_ts", views, "view_ts", "view_end", horizon_seconds
    ).filter(F.col("v_user") == F.col("p_user"))
    return joined.select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        "view_ts",
        "purchase_ts",
        (
            (F.unix_micros("purchase_ts") - F.unix_micros("view_ts")) / 1_000_000
        ).cast("long").alias("lag_secs"),
    )


def run_attribution_available_now(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    horizon_seconds: int = 3600,
    watermark: str = "10 minutes",
) -> list:
    """Drain all available files and return the attributed pairs.  Inner
    stream-stream joins emit a pair as soon as both sides are present —
    no withheld tail (unlike append-mode aggregations); state for
    un-matchable rows is evicted once the watermark passes their
    retention bound."""
    plan = attribution_stream(spark, events_dir, horizon_seconds, watermark)
    return drain_collect(plan, checkpoint_dir)
