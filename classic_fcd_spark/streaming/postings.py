"""Streaming inverted-index maintenance: keep the BM25 postings silver
current as documents arrive — the retrieval twin of the streaming
incremental-dedup index (streaming/incremental_dedup.py grows the band
table; this grows the postings table).

Contract: the document stream is APPEND-ONLY on the id (the curation
funnel's incremental-dedup stage upstream is what guarantees a doc id
arrives once).  Each micro-batch tokenizes only ITS documents — the
per-batch cost follows the batch, never the corpus — and writes their
(id, dl, term, tf) postings into a batch-id partition; corpus stats
(N, avgdl) and query-term document frequencies are derived from the
postings table at query time (operators/bm25.bm25_topk already reads
both from the postings), so no separate stats state needs maintaining.

Exactly-once: a blind append inside foreachBatch is only at-least-once
(a batch replayed after a crash between the write and the checkpoint
commit would double its docs' tf/df).  The write therefore targets a
`batch_pt=<batch_id>` partition with dynamic partition overwrite — a
replayed batch OVERWRITES its own partition instead of appending next
to its first attempt, the standard idempotent-foreachBatch recipe (the
same mechanism as the streaming MERGE sink).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from classic_fcd_spark.operators.bm25 import bm25_postings
from classic_fcd_spark.streaming.drain import drain, file_stream


def run_postings_available_now(
    spark: Any,
    docs_dir: str,
    postings_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Drain all available document files (one per micro-batch) and
    append each batch's postings to `postings_dir`."""

    def write_batch(bdf: DataFrame, batch_id: int) -> None:
        write_postings_batch(bdf, batch_id, postings_dir, id_col, text_col)

    drain(file_stream(spark, docs_dir), write_batch, checkpoint_dir)


def write_postings_batch(
    bdf: DataFrame,
    batch_id: int,
    postings_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Idempotent per-batch postings write: dynamic overwrite of this
    batch's own partition, so a replay cannot double-append."""
    from pyspark.sql import functions as F

    spark = bdf.sparkSession
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    (
        bm25_postings(bdf, id_col, text_col)
        .withColumn("batch_pt", F.lit(str(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_pt")
        .parquet(postings_dir)
    )


def read_postings(spark: Any, postings_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    return spark.read.parquet(postings_dir).drop("batch_pt")
