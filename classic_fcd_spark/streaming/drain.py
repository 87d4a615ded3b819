"""The one file-stream source and availableNow drain every streaming
entry point shares.

A parquet file source needs its schema up front, so `file_stream` takes
it from a batch read of the same directory.  `drain` runs one
foreachBatch query under one checkpoint to the end of the available
files and blocks until it stops; a sink exception fails the query and
re-raises from `awaitTermination()`, which is what the crash-injection
tests rely on for exactly-once replay.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def file_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """Streaming parquet source over `path`.  One file per micro-batch by
    default, so watermarks and state advance file by file as in live
    ingestion; `None` drains every available file in one batch."""
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Event file stream with the same event-time normalization as
    classic_fcd_spark.session.load_tables: withWatermark requires plain
    TIMESTAMP, so every physical ts encoding (bigint nanos, NTZ µs, UTC
    µs) is canonicalized here.  Applies the session read conf because the
    registered streaming query also runs under sessions this package did
    not configure (see session.apply_read_conf)."""
    from classic_fcd_spark.session import apply_read_conf, normalize_event_time

    apply_read_conf(spark)
    return normalize_event_time(
        file_stream(spark, events_dir, max_files_per_trigger)
    )


def drain(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    output_mode: str = "append",
) -> None:
    """Run `sink` on every micro-batch of the currently available input
    (availableNow) and return when the stream is drained."""
    q = (
        stream.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def drain_collect(
    stream: DataFrame, checkpoint_dir: str, output_mode: str = "append"
) -> list:
    """`drain` into a list: every row each micro-batch emitted."""
    rows: list = []
    drain(
        stream,
        lambda batch_df, _batch_id: rows.extend(batch_df.collect()),
        checkpoint_dir,
        output_mode,
    )
    return rows
