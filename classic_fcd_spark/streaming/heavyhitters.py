"""Streaming heavy hitters: Misra-Gries summaries as keyed stream state
— the unbounded-stream twin of operators/heavyhitters.approx_top_items.

The batch operator summarizes per PARTITION then recounts exactly; a
stream has no "end" to recount at, so the summary IS the product.  The
state design:

- items are hashed to `num_buckets` buckets (xxhash64 mod B) — every
  occurrence of one item lands in the SAME bucket, so a bucket's stream
  is the union of its items' full streams and per-bucket Misra-Gries
  guarantees apply globally: any item whose true count exceeds
  n_bucket / capacity survives its bucket's summary (pigeonhole, Misra
  & Gries 1982, public literature).
- state per bucket = (survivor items, MG counters, n seen, d
  decrement-rounds) — FIXED size (<= capacity counters), the whole
  point: an update-mode groupBy(item).count() would grow state with
  key cardinality, which at n-gram cardinality is the corpus.
- each micro-batch updates the bucket's counters and re-emits its
  survivors (update mode) with the classic MG bounds: mg_count <=
  true count <= mg_count + d.  Consumers read the latest emission per
  bucket; an exact recount (batch operator, phase 2) can be run over
  any bounded candidate set on demand.

Buckets also bound per-task memory and spread state across executors —
B is the parallelism dial, capacity the accuracy dial.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from classic_fcd_spark.streaming.drain import drain, file_stream

OUTPUT_SCHEMA = (
    "bucket int, item string, mg_count bigint, err_bound bigint, n_bucket bigint"
)
_STATE_SCHEMA = "items array<string>, counts array<bigint>, n bigint, d bigint"


def _make_mg_update(capacity: int):
    def _update(key: Any, pdf_iter: Iterator[pd.DataFrame], state: Any):
        bucket = int(key[0])
        if state.exists:
            items, counts, n, d = state.get
            counters = dict(zip(items, counts))
            n, d = int(n), int(d)
        else:
            counters, n, d = {}, 0, 0
        for pdf in pdf_iter:
            for item in pdf["item"]:
                n += 1
                if item in counters:
                    counters[item] += 1
                elif len(counters) < capacity:
                    counters[item] = 1
                else:
                    d += 1
                    dead = []
                    for k_ in counters:
                        counters[k_] -= 1
                        if counters[k_] == 0:
                            dead.append(k_)
                    for k_ in dead:
                        del counters[k_]
        state.update(
            (list(counters.keys()), [int(v) for v in counters.values()], n, d)
        )
        yield pd.DataFrame(
            {
                "bucket": [bucket] * len(counters),
                "item": list(counters.keys()),
                "mg_count": [int(v) for v in counters.values()],
                "err_bound": [d] * len(counters),
                "n_bucket": [n] * len(counters),
            }
        )

    return _update


def item_bucket(item_col: str, num_buckets: int):
    """The deterministic item → bucket routing both the stream and any
    offline recount share."""
    return F.pmod(F.xxhash64(F.col(item_col)), F.lit(num_buckets)).cast("int")


def streaming_top_items(
    items: DataFrame,
    item_col: str = "item",
    capacity: int = 64,
    num_buckets: int = 8,
) -> DataFrame:
    """items: streaming DataFrame.  Returns the per-bucket survivor
    stream (OUTPUT_SCHEMA, update mode semantics — latest emission per
    bucket supersedes earlier ones)."""
    # bucket from the CASTED string, so an offline recount applying
    # item_bucket to the emitted string items routes identically even
    # when the source column is non-string
    keyed = items.select(F.col(item_col).cast("string").alias("item")).select(
        "item", item_bucket("item", num_buckets).alias("bucket")
    )
    return keyed.groupBy("bucket").applyInPandasWithState(
        _make_mg_update(capacity),
        OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_available_now(
    spark: Any,
    items_dir: str,
    checkpoint_dir: str,
    item_col: str = "item",
    capacity: int = 64,
    num_buckets: int = 8,
) -> dict[int, dict]:
    """Drain all available item files (one file per micro-batch) and
    return the FINAL summary per bucket: {bucket: {"n": .., "d": ..,
    "counters": {item: mg_count}}} — the latest emission wins, exactly
    how an update-mode consumer reads this stream."""
    out = streaming_top_items(
        file_stream(spark, items_dir), item_col, capacity, num_buckets
    )
    latest: dict[int, dict] = {}

    def collect(batch_df: DataFrame, batch_id: int) -> None:
        for r in batch_df.collect():
            b = r["bucket"]
            cur = latest.setdefault(b, {"n": 0, "d": 0, "counters": {}, "seq": -1})
            if batch_id > cur["seq"] or r["n_bucket"] >= cur["n"]:
                if cur["seq"] != batch_id:
                    cur["counters"] = {}
                cur["counters"][r["item"]] = r["mg_count"]
                cur["n"], cur["d"], cur["seq"] = r["n_bucket"], r["err_bound"], batch_id

    drain(out, collect, checkpoint_dir, "update")
    return {b: {k: v for k, v in d.items() if k != "seq"} for b, d in latest.items()}
