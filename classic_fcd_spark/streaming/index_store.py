"""The per-batch growing-index convention shared by the streaming
incremental-dedup twins (MinHash band index, SemDeDup assignment index)
and streaming postings: each micro-batch writes its rows into a
`batch_pt=<batch_id>` partition under DYNAMIC partition overwrite, so a
checkpoint replay REPLACES its partition instead of appending a
duplicate copy — the index cannot grow unboundedly under crash loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BATCH_COL = "batch_pt"


def index_exists(spark: SparkSession, index_dir: str) -> bool:
    """Whether the persisted index has been written yet — via the Hadoop
    FileSystem API so the check is true on s3a://, hdfs://, and any
    other configured scheme, not only the local filesystem (an
    os.path.exists gate would silently skip probing forever on object
    stores while still growing the index)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(index_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(path))


def write_index_batch(df: DataFrame, index_dir: str, batch_id: int) -> None:
    """Append this batch's index rows as their own batch_pt partition
    (idempotent under replay — the partition is overwritten)."""
    (
        df.withColumn(BATCH_COL, F.lit(str(batch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BATCH_COL)
        .parquet(index_dir)
    )


def read_index_excluding(
    spark: SparkSession, index_dir: str, batch_id: int
) -> DataFrame:
    """The probe's view of the index: every batch EXCEPT the one being
    processed.  A replay (crash after the index write, before the
    checkpoint commit) would otherwise probe the batch against its own
    just-written rows and emit self-pairs a clean run never produces."""
    spark.conf.set(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "false"
    )
    return (
        spark.read.parquet(index_dir)
        .filter(F.col(BATCH_COL) != str(batch_id))
        .drop(BATCH_COL)
    )
