"""Streaming incremental dedup: the live twin of
operators.dedup.incremental_near_dups — the loop a 100 TB ingest
actually runs.

Each micro-batch of new documents:
1. probes the PERSISTED banded signature index (parquet on disk — the
   ~1%-of-corpus (id, band, bh) table) for near-duplicates of anything
   already ingested OR ingested by an earlier micro-batch,
2. emits the verified (new_id, dup_of, jaccard) pairs to the caller's
   sink,
3. appends its own band rows to the index, so later batches dedup
   against it — the index grows as the stream drains.

foreachBatch is the right Structured Streaming tool here (same argument
as the minute-rollup MERGE sink, streaming/minute_pipeline.py): the
per-batch work is a batch join against out-of-stream state (the index
table), which no built-in stateful operator expresses — and foreachBatch
gives exactly-once sink semantics via the checkpointed batch id.

Batch/stream duality proven in tests/test_streaming_dedup.py: draining
the corpus as N file drops yields EXACTLY the pairs of the one-shot
batch operator over the same split (plus intra-drop pairs, which the
batch path defines away by construction), and the final on-disk index
equals the batch-built one.

Reference parity: classic-fcd's collector upserts blocks/txs as they
arrive (src/collector/block/block.ts:142-197) but has no dedup concept;
this is extension surface (SURVEY §2 extensions).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dedup import (
    banded_signatures,
    incremental_near_dups,
    word_shingles,
    ws_tokens,
)
from classic_fcd_spark.streaming.drain import drain, file_stream

_MIN_TOKENS = 3


def _shingled(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return docs.filter(F.size(ws_tokens(text_col)) >= _MIN_TOKENS).select(
        F.col(id_col), word_shingles(text_col).alias("shingles")
    )


def run_streaming_dedup_available_now(
    spark: SparkSession,
    docs_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> list:
    """Drain all available document files (one per micro-batch), probing
    and growing the banded index at `index_dir`; returns the emitted
    duplicate pairs.  Restartable AND idempotent: each batch's band rows
    land in their own `batch_pt=<batch_id>` partition under dynamic
    partition overwrite (the streaming/postings.py discipline), so a
    checkpoint replay REPLACES its partition instead of appending a
    duplicate copy — the index cannot grow unboundedly under crash
    loops."""
    from classic_fcd_spark.streaming.index_store import (
        index_exists,
        read_index_excluding,
        write_index_batch,
    )

    sink: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        new_sh = _shingled(batch_df, id_col, text_col)
        new_banded = banded_signatures(new_sh, id_col, "shingles")
        if index_exists(spark, index_dir):
            index_banded = read_index_excluding(spark, index_dir, batch_id)
            # the raw shingles of candidate index docs are recomputed
            # from the documents seen so far (persisted alongside the
            # bands); production would store them columnar next to the
            # index — here the docs dir IS that store
            seen = _shingled(
                spark.read.parquet(docs_dir).join(
                    index_banded.select(id_col).distinct(), id_col, "left_semi"
                ),
                id_col,
                text_col,
            )
            pairs = incremental_near_dups(
                new_sh, index_banded, seen, id_col, "shingles"
            )
            sink.extend(pairs.collect())
        write_index_batch(new_banded, index_dir, batch_id)

    drain(file_stream(spark, docs_dir), process, checkpoint_dir)
    return sink
