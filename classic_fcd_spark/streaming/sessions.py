"""Streaming sessionization: the live twin of operators.windows.sessionize.

Structured Streaming has a native session_window (gap-merging event-time
windows with watermark-driven state eviction); the batch operator and
this stream compute the SAME sessions — proven by the equivalence test
in tests/test_sessionize.py — so a pipeline can backfill with the batch
path and serve live with this one, the same batch/stream duality the
minute rollup uses (streaming/minute_pipeline.py).

State size is bounded by open sessions x keys; the watermark closes
sessions `gap + watermark` after their last event and evicts them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.streaming.drain import drain_collect, events_stream


def session_stats_stream(
    spark: SparkSession,
    events_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 600,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Unbound per-session aggregate plan over a file-source stream
    (caller attaches the sink) — same output columns as the batch
    session_stats.

    Session-window aggregation supports APPEND output only: a session
    row is emitted once, when the watermark passes its end — so the sink
    sees each session exactly once, closed.  One file per micro-batch so
    the watermark advances between files like live ingestion."""
    src = events_stream(spark, events_dir, max_files_per_trigger=1)
    return (
        src.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("w"),
            *key_cols,
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            *key_cols,
            F.col("w.start").alias("session_start"),
            # session_window's end = last event + gap; subtract the gap to
            # report the LAST EVENT time like the batch session_stats
            (
                F.col("w.end").cast("timestamp")
                - F.expr(f"INTERVAL {int(gap_seconds)} SECONDS")
            ).alias("session_end"),
            "n_events",
        )
    )


def run_session_stats_available_now(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 600,
    flush: bool = False,
) -> list:
    """Drain all available files (availableNow) and return the CLOSED
    session rows — the backfill/catch-up path.

    Append-mode caveat (inherent to watermarked session windows): a
    session is emitted only once the watermark passes its end + gap, so
    sessions whose last event lies within gap+watermark of the stream's
    max event time are withheld when the stream drains — they are
    still-open state, not lost rows, and a later run (or any newer event
    file) flushes them.

    ``flush=True`` completes the tail NOW, without polluting the source
    with a far-future sentinel: after the drain, the batch twin
    (operators.windows.session_stats — proven row-identical on closed
    sessions in tests/test_sessionize.py) recomputes all sessions over
    the same files and the ones the stream withheld are appended.  The
    extra cost is one batch pass over the events — the price of a
    complete backfill; a caller that will run again later (live ingest)
    should keep flush=False and let the watermark do it."""
    plan = session_stats_stream(
        spark, events_dir, key_cols, ts_col, gap_seconds
    )
    sink = drain_collect(plan, checkpoint_dir)
    if not flush:
        return sink

    from classic_fcd_spark.operators.windows import session_stats
    from classic_fcd_spark.session import normalize_event_time

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    events = normalize_event_time(spark.read.parquet(events_dir))
    all_sessions = session_stats(events, key_cols, ts_col, gap_seconds).collect()
    emitted = {
        (*[r[k] for k in key_cols], r["session_start"]) for r in sink
    }
    tail = [
        r
        for r in all_sessions
        if (*[r[k] for k in key_cols], r["session_start"]) not in emitted
    ]
    # batch rows carry the same (keys, start, end, n_events) fields the
    # stream emits (plus duration_secs, dropped for shape parity)
    from pyspark.sql import Row

    out_fields = [*key_cols, "session_start", "session_end", "n_events"]
    sink.extend(Row(**{f: r[f] for f in out_fields}) for r in tail)
    return sink
