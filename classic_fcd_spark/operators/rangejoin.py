"""Interval (range) join: events x time-intervals without a nested loop.

Open-source Spark compiles `e.ts BETWEEN i.start AND i.end` joins to
BroadcastNestedLoopJoin (or a cartesian product) — O(|events| x
|intervals|) and a guaranteed scale-killer; there is no OSS range-join
optimization.  The standard fix (used by every production time-series
store) is BUCKETIZATION: quantize time into fixed-width buckets, explode
each interval across the buckets it covers, equi-join events to interval
fragments on the bucket id, then apply the exact predicate as a residual
filter.

Cost model at 100 TB:
- events side: one bucket id per row (pure projection, no expansion);
- interval side: expands by ceil(span / bucket) rows — pick
  `bucket_seconds` near the MEDIAN interval span so the expansion is a
  small constant (the classic tradeoff: wider buckets = fewer fragments
  but more false candidates for the residual filter);
- the join is a plain equi-join on the bucket id: shuffle-partitionable,
  AQE-skew-splittable, broadcastable when the interval side is small.

Semantics: half-open [start, end) — an event at exactly `end` does not
match (the convention of window/bucket systems; makes adjacent intervals
partition time instead of double-matching the boundary).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    events: DataFrame,
    ts_col: str,
    intervals: DataFrame,
    start_col: str,
    end_col: str,
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join events to intervals containing them ([start, end) half-open).

    Returns events columns + intervals columns (caller projects).
    `how` is 'inner' or 'left' (left keeps unmatched events with null
    interval columns — the enrichment shape; requires event rows to be
    distinct, which any keyed event table satisfies)."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    bus = int(bucket_seconds) * 1_000_000  # bucket width in microseconds
    # microsecond-exact bucket math on both sides (unix_timestamp would
    # truncate sub-second event times to a possibly-different bucket than
    # the residual predicate implies); floordiv of negatives also floors,
    # so pre-epoch timestamps bucket correctly too
    ev = events.withColumn(
        "__bucket", F.expr(f"CAST(floor(unix_micros({ts_col}) / {bus}) AS BIGINT)")
    )
    # explode each interval across its covered buckets; end is EXCLUSIVE,
    # so an interval ending exactly on a bucket boundary does not cover
    # the next bucket: last covered bucket = floor((end_us - 1) / bus)
    start_b = F.expr(f"CAST(floor(unix_micros({start_col}) / {bus}) AS BIGINT)")
    end_b = F.expr(f"CAST(floor((unix_micros({end_col}) - 1) / {bus}) AS BIGINT)")
    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(start_b, F.greatest(end_b, start_b)))
    )
    resid = (F.col(ts_col) >= F.col(start_col)) & (F.col(ts_col) < F.col(end_col))
    joined = ev.join(iv, ["__bucket"], "inner").filter(resid).drop("__bucket")
    if how == "inner":
        return joined
    # left: re-attach unmatched events with null interval columns
    matched_keys = joined.select(*events.columns)
    unmatched = ev.drop("__bucket").join(matched_keys, events.columns, "left_anti")
    for c in intervals.columns:
        unmatched = unmatched.withColumn(c, F.lit(None))
    return joined.unionByName(unmatched)

