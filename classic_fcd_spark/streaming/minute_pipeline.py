"""Streaming minute rollup: the Spark re-expression of the reference's
minute-boundary collector jobs.

Reference semantics mapped (SURVEY §2.9):
- T3 minute-boundary trigger (src/collector/block/block.ts:168-176) →
  1-minute tumbling event-time window; the window closes via watermark
  instead of the "did the wall-clock minute change" check.
- T1 exactly-once per-block transaction (block.ts:142-197) → foreachBatch
  upsert keyed on (minute, event_type): re-delivered micro-batches
  overwrite the same keys, so replay after failure is idempotent.
- T2 resume-from-last-height (block.ts:53-69) → the streaming checkpoint.
- T5 late-data corrections (collectDashboard.ts:15) → watermark: windows
  stay open 10 minutes past max event time and re-emit on update.

The sink is the one partition-scoped MERGE (sources/promote.py),
day-partitioned; the pipeline relies only on its interface, an
idempotent upsert by key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.sources.promote import merge_upsert, read_table
from classic_fcd_spark.streaming.drain import drain, events_stream


def minute_rollup_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Windowed aggregation plan (unbound — caller attaches the sink).

    n_users (countDistinct) is deliberately absent: distinct aggregation
    is not incrementally computable under streaming update mode; the
    serving-side query computes it from the bronze table (A12).
    """
    src = events_stream(spark, events_dir, max_files_per_trigger)
    return (
        src.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 minute").alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).alias("sum_value_dec"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("minute"),
            "event_type",
            "n_events",
            F.col("sum_value_dec").cast("double").alias("sum_value"),
        )
    )


def run_minute_rollup_available_now(
    spark: SparkSession, events_dir: str, checkpoint_dir: str, out_dir: str
) -> DataFrame:
    """Run the rollup over all currently-available files and return the
    merged result table (availableNow trigger: batch-like execution with
    full streaming semantics — the backfill path S2)."""
    plan = minute_rollup_stream(spark, events_dir)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(spark, batch_df, out_dir, ["minute", "event_type"])

    drain(plan, sink, checkpoint_dir, "update")
    return read_table(spark, out_dir)
