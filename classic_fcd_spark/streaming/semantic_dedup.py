"""Streaming incremental SemDeDup: the live twin of
operators.similarity.incremental_semantic_pairs — the semantic analogue
of streaming/incremental_dedup.py.

Each micro-batch of new embeddings:
1. assigns the batch against the FROZEN codebook (broadcast argmax —
   no corpus shuffle),
2. probes the PERSISTED assignment index (parquet: (id, vec, vnorm,
   cell) partitioned by batch) for semantic duplicates of anything
   ingested earlier — a cell equi-join, cost ∝ batch x cell occupancy,
3. appends its own assignment rows into a `batch_pt=<batch_id>`
   partition under dynamic partition overwrite, so a checkpoint replay
   REPLACES rather than duplicates (the postings/band-index discipline)
   and later batches dedup against it.

Codebook retraining is a corpus-regeneration event (centroid drift
invalidates cell locality) — the stream runs against one frozen
codebook per index generation, exactly as the MinHash stream runs
against one banding.

Batch/stream duality gated in tests/test_streaming_semdedup.py: the
drained stream emits exactly the cross-batch subset of the batch
operator's within-cell pair graph, and a restart emits nothing new.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from classic_fcd_spark.operators.similarity import (
    assign_cells,
    incremental_semantic_pairs,
)
from classic_fcd_spark.streaming.drain import drain, file_stream


def run_streaming_semantic_dedup_available_now(
    spark: SparkSession,
    emb_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eps: float = 0.05,
) -> list:
    """Drain all available embedding files (one per micro-batch),
    probing and growing the assignment index; returns the emitted
    (new_id, dup_of, cos_e6) rows."""
    from classic_fcd_spark.streaming.index_store import (
        index_exists,
        read_index_excluding,
        write_index_batch,
    )

    sink: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        assigned = assign_cells(batch_df, centroids, vec_col, id_col)
        if index_exists(spark, index_dir):
            # replay-safe index view (index_store); the pair scan itself
            # is the batch operator — one implementation, no stream copy
            index = read_index_excluding(spark, index_dir, batch_id)
            pairs = incremental_semantic_pairs(
                None, index, None, vec_col, id_col, eps, probe_assigned=assigned
            )
            sink.extend(pairs.collect())
        write_index_batch(
            assigned.select(id_col, vec_col, "vnorm", "cell"), index_dir, batch_id
        )

    drain(file_stream(spark, emb_dir), process, checkpoint_dir)
    return sink
