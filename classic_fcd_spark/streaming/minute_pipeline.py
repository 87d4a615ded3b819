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

Sink note: this environment has plain parquet only, so `merge_upsert`
implements MERGE as anti-join + union + overwrite — on a production
lakehouse this function body is a one-line Delta `MERGE INTO`.  The
interface (idempotent upsert by key) is what the pipeline relies on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.sources.promote import heal_table, promote_partitions
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


PARTITION_COL = "day_pt"


def _existing_touched(spark: SparkSession, out_dir: str, touched: list[str]) -> DataFrame:
    """The MERGE's read side: ONLY the touched day partitions.  The isin
    filter is on the partition column, so it resolves to PartitionFilters
    on the scan (partition pruning — asserted in tests/test_streaming.py);
    untouched partitions contribute zero files to the read."""
    return spark.read.parquet(out_dir).filter(F.col(PARTITION_COL).isin(touched))


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    out_dir: str,
    keys: list[str],
    partition_expr: F.Column | None = None,
) -> None:
    """Idempotent, PARTITION-SCOPED MERGE-by-key into a day-partitioned
    parquet table.  Production target: Delta `MERGE INTO` (S9 — the
    reference's INSERT … ON CONFLICT UPDATE, tx.ts:240-247).

    Round-1 rewrote the whole table per micro-batch (O(table)); round-2
    scoped reads AND writes to the touched day partitions but staged
    through an unpartitioned temp dir and re-wrote — 2x write
    amplification.  Now the merged rows are written ONCE, partitioned,
    into a staging dir, and the touched partition directories are
    promoted into the table by rename — one data write per batch plus
    O(partitions) metadata moves, which is exactly the shape of a Delta
    MERGE commit (write new files, swap the manifest).

    The os.rename promotion assumes staging and table live on the same
    filesystem (true for this environment's local parquet, and for
    HDFS-style rename-capable stores).  On object stores rename is a
    copy, so the production path is the Delta/Iceberg MERGE INTO this
    function stands in for — the parquet rename is the test-environment
    mechanism, not the deployment design.  r9: the swap is the shared
    crash-safe two-phase promotion (sources/promote.py) — a crash at
    any rename boundary loses no merged history and heals on the next
    merge or read."""
    if partition_expr is None:
        partition_expr = F.substring(keys[0], 1, 10)  # minute -> day prefix
    # keep partition values opaque strings; date/number inference would
    # flip the column type between first write and later reads
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    updates = updates.withColumn(PARTITION_COL, partition_expr).cache()
    try:
        heal_table(out_dir)
        touched = [r[0] for r in updates.select(PARTITION_COL).distinct().collect()]
        if not touched:
            return
        if os.path.exists(out_dir) and any(
            f.startswith(f"{PARTITION_COL}=") for f in os.listdir(out_dir)
        ):
            existing = _existing_touched(spark, out_dir, touched)
            cond = [existing[k] == updates[k] for k in keys]
            keep = existing.join(updates, cond, "left_anti")
            merged = keep.unionByName(updates)
        else:
            merged = updates
        # single partitioned write to staging, then promote each touched
        # partition dir (two-phase, crash-safe) — untouched partitions
        # are never read, written, or moved
        import shutil

        tmp = out_dir.rstrip("/") + "__tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        merged.write.mode("overwrite").partitionBy(PARTITION_COL).parquet(tmp)
        promote_partitions(tmp, out_dir, PARTITION_COL, touched)
    finally:
        updates.unpersist()


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
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    heal_table(out_dir)
    return spark.read.parquet(out_dir).drop(PARTITION_COL)
