"""Mempool TTL state — S5/T10 (src/lib/mempool.ts:33-152).

The reference keeps an in-memory hash->tx map fed by a 1-second
`/unconfirmed_txs` poller; entries leave the map when a NewBlock event
includes them or when they stop appearing in polls (connection-loss
fallback, mempool.ts:74-121).

Spark-first re-expression: the poll/inclusion feed becomes a stream of
(ts, txhash, kind) observations and the map becomes per-key state in
`applyInPandasWithState`:

- kind='seen'     -> create/refresh state (first_seen kept, mempool.ts:88-94)
- kind='included' -> emit eviction(reason='included'), clear state
- event-time timeout (no observation for `ttl_seconds` as the watermark
  advances) -> emit eviction(reason='expired'), clear state — the
  "no longer exists in mempool" sweep.

The emitted stream is the eviction log; `getTransaction*` serving reads
are queries over the still-keyed state store (or the log's complement).
State size = live mempool size (bounded); shuffles once on txhash.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from classic_fcd_spark.streaming.drain import drain_collect, file_stream

OBSERVATION_SCHEMA = "ts timestamp, txhash string, kind string"
EVICTION_SCHEMA = (
    "txhash string, first_seen timestamp, last_seen timestamp, reason string"
)
_STATE_SCHEMA = "first_seen long, last_seen long"


def _make_update(ttl_seconds: int):
    def _update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (txhash,) = key
        if state.hasTimedOut:
            first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "txhash": [txhash],
                    "first_seen": [pd.Timestamp(first_us, unit="us")],
                    "last_seen": [pd.Timestamp(last_us, unit="us")],
                    "reason": ["expired"],
                }
            )
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        ts_us = rows["ts"].astype("int64") // 1000  # ns -> µs
        first_us = int(ts_us.min())
        last_us = int(ts_us.max())
        if state.exists:
            prev_first, prev_last = state.get
            first_us = min(first_us, prev_first)  # original timestamp survives
            last_us = max(last_us, prev_last)

        if (rows["kind"] == "included").any():
            state.remove()
            yield pd.DataFrame(
                {
                    "txhash": [txhash],
                    "first_seen": [pd.Timestamp(first_us, unit="us")],
                    "last_seen": [pd.Timestamp(last_us, unit="us")],
                    "reason": ["included"],
                }
            )
            return

        # event-time TTL: expire when the watermark passes last_seen + ttl.
        # Stateful ops do NOT drop late rows — with reordered input (e.g. a
        # file source listing by modification time, where a parallel write
        # finishes in arbitrary order) a group can be touched AFTER the
        # frontier already passed last_seen + ttl, and registering that
        # timeout would throw INVALID_TIMEOUT_TIMESTAMP.  Such an entry is
        # expired-on-arrival: emit the eviction instead of a dead timeout.
        timeout_ms = last_us // 1000 + ttl_seconds * 1000
        if timeout_ms <= state.getCurrentWatermarkMs():
            state.remove()
            yield pd.DataFrame(
                {
                    "txhash": [txhash],
                    "first_seen": [pd.Timestamp(first_us, unit="us")],
                    "last_seen": [pd.Timestamp(last_us, unit="us")],
                    "reason": ["expired"],
                }
            )
            return

        state.update((first_us, last_us))
        state.setTimeoutTimestamp(timeout_ms)
        yield pd.DataFrame(
            columns=["txhash", "first_seen", "last_seen", "reason"]
        ).astype({"txhash": str, "reason": str})

    return _update


def mempool_eviction_stream(
    observations: DataFrame, ttl_seconds: int = 60, watermark: str = "0 seconds"
) -> DataFrame:
    """observations: streaming DataFrame with OBSERVATION_SCHEMA columns.
    Returns the eviction log stream (EVICTION_SCHEMA)."""
    return (
        observations.withWatermark("ts", watermark)
        .groupBy("txhash")
        .applyInPandasWithState(
            _make_update(ttl_seconds),
            EVICTION_SCHEMA,
            _STATE_SCHEMA,
            "update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_mempool_available_now(
    spark: Any, obs_dir: str, checkpoint_dir: str, ttl_seconds: int = 60
) -> list:
    """Drain all available observation files (availableNow, one file per
    micro-batch so watermark/timeout semantics execute like live
    ingestion) and return the collected eviction rows."""
    from classic_fcd_spark.session import normalize_event_time

    # Same load-boundary canonicalization as load_tables/events_stream:
    # withWatermark rejects TIMESTAMP_NTZ, and observation files written by
    # a pyarrow writer without an explicit tz arrive exactly that way.
    out = mempool_eviction_stream(
        normalize_event_time(file_stream(spark, obs_dir)), ttl_seconds=ttl_seconds
    )
    return drain_collect(out, checkpoint_dir, "update")
