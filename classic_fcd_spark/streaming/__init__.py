"""Structured Streaming pipelines — SURVEY §2.9 (T1-T7).

The reference's collector is an imperative websocket/poll loop with one
Postgres transaction per block (src/collector/block/block.ts:142-197);
here ingestion is Structured Streaming with event-time windows, a
watermark for late data (T5's trailing-3-day recompute window), and
idempotent MERGE in foreachBatch (T1's exactly-once commit semantics,
keyed on the natural key, replayable from the checkpoint — T2).

Drain contract: every `run_*_available_now` entry point builds its source
with `drain.file_stream` (or `drain.events_stream`) and runs it with
`drain.drain` / `drain.drain_collect`; nothing else starts an availableNow
query.
- One checkpoint per drain: the caller's `checkpoint_dir` is the replay
  boundary for every sink the drain's foreachBatch writes, so a restart
  resumes after the last committed micro-batch.
- Sink errors propagate: an exception in the sink fails the query and
  re-raises from the drain call; the batch is not committed and replays on
  the next run, which is why every sink is idempotent per batch id.
- Output mode is the caller's choice: `append` by default, `update` for
  the stateful aggregations that re-emit changed rows.
"""

from classic_fcd_spark.streaming.minute_pipeline import (  # noqa: F401
    merge_upsert,
    minute_rollup_stream,
    run_minute_rollup_available_now,
)
