"""Throttled dimension refresh — T7 (src/collector/watcher.ts:17-53).

The reference accumulates validator addresses seen in stream events into
a Set and drains it every 5 seconds, calling updateValidator once per
address (D7 dedup across events).  Spark-first: the Set-and-drain is a
micro-batch — `foreachBatch` receives everything since the last trigger,
dedups with `distinct()` (per-batch, exactly the Set semantics), and
invokes the refresh callback once per address.  The 5-second throttle is
the processing-time trigger interval; no custom timer state needed.

The callback side-effect (an LCD refetch in the reference) is injected,
so tests — and any non-HTTP deployment — pass a recorder.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from classic_fcd_spark.streaming.drain import drain, file_stream


def dim_refresh_sink(
    address_col: str, refresh: Callable[[list[str]], None]
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: drain the batch's distinct addresses into one
    refresh() call.  The address set is dimension-sized (validators:
    hundreds), so the collect is bounded by construction."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        addrs = [
            r[0]
            for r in batch_df.select(address_col).distinct().collect()
            if r[0] is not None
        ]
        if addrs:
            refresh(sorted(addrs))

    return sink


def run_dim_refresh(
    spark,
    events_dir: str,
    checkpoint_dir: str,
    address_col: str,
    refresh: Callable[[list[str]], None],
    trigger_interval: str | None = None,
) -> None:
    """Attach the refresh sink to a file stream.  `trigger_interval`
    ('5 seconds' to mirror the reference) applies in live mode; tests use
    availableNow (None)."""
    src = file_stream(spark, events_dir)
    sink = dim_refresh_sink(address_col, refresh)
    if trigger_interval:
        # live mode: the caller manages the query's lifecycle
        return (
            src.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(processingTime=trigger_interval)
            .start()
        )
    drain(src, sink, checkpoint_dir)
    return None
