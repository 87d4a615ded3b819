"""Bucketed table layout: pre-shuffled storage for co-located joins.

The biggest recurring cost of a 100 TB star/fact-fact workload is
re-shuffling the same fact table on the same join key every query.
Spark's answer is BUCKETING (Hive-compatible): write the table
pre-hash-partitioned into N buckets on the join key, optionally sorted
within each bucket.  A join (or aggregation) on the bucket key then
consumes the stored clustering — the plan has NO Exchange on the
bucketed side(s), and with sorted buckets the sort-merge join needs no
Sort either.  It is the storage-level analogue of the reference's
B-tree-on-join-key (sql/customIndex.sql): pay once at write, skip the
shuffle on every read.

Rules that make it work (all plan-asserted in tests/test_bucketed.py):
- both sides bucketed on the join key with the SAME bucket count (or a
  divisor — Spark 3.1+ coalesces compatible counts);
- bucket columns must exactly cover the join key prefix;
- `spark.sql.sources.bucketing.enabled` on (default).

At 100 TB choose the bucket count so one bucket ≈ one task's worth of
data (buckets are the parallelism floor AND ceiling for bucket-local
stages)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort: bool = True,
) -> None:
    """Persist df as a bucketed (and bucket-sorted) parquet table in the
    session catalog.  Bucketed layout is a catalog property, so this
    goes through saveAsTable — path-only parquet cannot carry it."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(
        num_buckets, *bucket_cols
    )
    if sort:
        w = w.sortBy(*bucket_cols)
    w.saveAsTable(table)

