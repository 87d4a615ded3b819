"""Write-side data layout: the engine's substitute for the reference's
B-tree indexes (sql/customIndex.sql — height, (account, timestamp), GIN
on jsonb).

A columnar lake gets the same point-lookup/range-scan economics from
LAYOUT instead of indexes:

- day partitions → partition pruning (a time-range query lists only its
  days' directories; the scan shows PartitionFilters);
- within each file, rows sorted by the query key → parquet row-group
  min/max statistics become TIGHT, so a predicate skips whole row
  groups without reading them (the columnar analogue of an index range
  scan);
- one file per (partition, shuffle partition), sized by
  spark.sql.files.maxPartitionBytes at read time.

At 100 TB this is the difference between "scan the table" and "read two
row groups from one partition" — and it is free at write time: the sort
rides the shuffle the partitioned write already does.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DAY_COL = "day_pt"


def write_time_layout(
    df: DataFrame,
    out_dir: str,
    ts_col: str = "ts",
    sort_cols: list[str] | None = None,
    files_per_day: int = 1,
) -> None:
    """Write df day-partitioned by `ts_col`, rows sorted by `sort_cols`
    (default: the timestamp) within each file.

    repartitionByRange(day, ts) + sortWithinPartitions gives each output
    file a contiguous, NON-OVERLAPPING (day, ts) range — the layout that
    makes parquet min/max stats selective — and splits hot days across
    writer tasks in proportion to their sampled row volume.
    `files_per_day` > 1 multiplies the range-partition budget for
    write-heavier layouts (size-based splitting still applies on read)."""
    sort_cols = sort_cols or [ts_col]
    day = F.date_format(F.col(ts_col), "yyyy-MM-dd")
    spark = df.sparkSession
    # RANGE-partition on (day, ts) — not repartition(files_per_day, day),
    # which caps the whole write at files_per_day tasks and still lands
    # each day wholly in one of them (hashing the day alone cannot split
    # a day), and not a hash salt, which interleaves a day's time ranges
    # across its files.  The range partitioner samples the key
    # distribution, so a HOT day automatically spans multiple writer
    # tasks in proportion to its row volume while every produced file
    # covers a contiguous, non-overlapping (day, ts) range — writers
    # parallelize AND row-group min/max stats stay tight for pruning.
    # `files_per_day` scales the partition budget relative to the
    # session's shuffle parallelism for write-heavier layouts.
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200")) * max(
        1, files_per_day
    )
    (
        df.withColumn(DAY_COL, day)
        .repartitionByRange(n_parts, F.col(DAY_COL), F.col(ts_col))
        .sortWithinPartitions(DAY_COL, *sort_cols)
        .write.mode("overwrite")
        .partitionBy(DAY_COL)
        .parquet(out_dir)
    )


def read_time_layout(spark, out_dir: str) -> DataFrame:
    """Read a write_time_layout table; its day partition column is an
    opaque string (session._READ_CONF)."""
    return spark.read.parquet(out_dir)


def compact_time_layout(
    spark,
    out_dir: str,
    ts_col: str = "ts",
    sort_cols: list[str] | None = None,
    max_files_per_day: int = 1,
) -> list[str]:
    """Small-file compaction for a write_time_layout table: rewrite ONLY
    the day partitions holding more than `max_files_per_day` files,
    restoring the sorted single-range layout reads want.

    The 100 TB maintenance reality: streaming/incremental writers leave
    many small files per partition (each micro-batch/task writes its
    own); scans then pay per-file open cost and row-group stats lose
    selectivity.  Compaction is the standard background job — and it
    must be PARTITION-SCOPED: rewriting the whole table to fix 3 hot
    days is how maintenance jobs become the biggest query in the
    cluster.  Dynamic partition overwrite replaces exactly the rewritten
    day directories, same mechanism as the streaming MERGE sink
    (streaming/minute_pipeline.py).

    Returns the list of day values compacted (empty = nothing to do)."""
    sort_cols = sort_cols or [ts_col]
    # enumerate partitions through the Hadoop FileSystem API, NOT a
    # local-filesystem glob — the table may live on s3a://, hdfs://,
    # abfs://, …; a local glob would silently return [] there and the
    # maintenance job would no-op forever while small files pile up
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(root):
        # not-yet-written (or dropped) table: nothing to compact — the
        # no-op contract the old glob form had (listStatus would raise)
        return []
    fragmented = []
    for st in sorted(fs.listStatus(root), key=lambda s: s.getPath().getName()):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(f"{DAY_COL}=")):
            continue
        n_files = sum(
            1
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        if n_files > max_files_per_day:
            fragmented.append(name.split("=", 1)[1])
    if not fragmented:
        return []
    touched = read_time_layout(spark, out_dir).filter(
        F.col(DAY_COL).isin(fragmented)
    )
    if max_files_per_day == 1:
        # hash on the day: EXACTLY one task (one file) per day —
        # the deterministic full-compaction contract
        touched = touched.repartition(len(fragmented), F.col(DAY_COL))
    else:
        # >1 target: range partitioning splits each day into
        # contiguous slices (same reasoning as the writer)
        touched = touched.repartitionByRange(
            len(fragmented) * max_files_per_day,
            F.col(DAY_COL),
            F.col(ts_col),
        )
    touched = touched.sortWithinPartitions(DAY_COL, *sort_cols)
    (
        touched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(DAY_COL)
        .parquet(out_dir)
    )
    return fragmented


SHARD_COL = "shard_pt"
SOURCE_COL = "source_pt"


def write_training_shards(
    docs: DataFrame,
    out_dir: str,
    budget: int = 512,
    bins_per_shard: int = 64,
    id_col: str = "doc_id",
    source_col: str = "source",
    text_col: str = "text",
    shuffle_seed: str | None = None,
    target_file_bytes: int | None = None,
) -> None:
    """The training pipeline's last mile: materialize a curated corpus
    as loader-ready shard files.

    Composes pack_concat_and_cut (bin/offset assignment — a prefix sum
    per source shard) with the partitioned-write layout: shard =
    bins_per_shard consecutive packing bins (~bins_per_shard x budget
    tokens), one directory per (source, shard), EXACTLY one file per
    shard (each shard's rows hash to one writer task), rows inside the
    file in packing order — the loader mmaps one file and reads one
    contiguous token stream.  Parallelism = number of shards; at 100 TB
    that is the write's natural task count and no task holds more than
    one loader file's data.

    `shuffle_seed` packs documents in a DETERMINISTIC pseudo-random
    order — md5(seed || id) — instead of id order: the global training
    shuffle every pretraining loader wants, reproducible from the seed
    alone (re-running with the same seed reproduces byte-identical
    shards; a different seed is a fresh permutation).  The shuffle is
    free: it only changes the window's ORDER BY key — same single
    shuffle per source, no extra pass.

    `target_file_bytes` (r16, guide §6.3): derive bins_per_shard from a
    BYTE goal instead of a fixed bin count — one tiny aggregate over the
    corpus (total text bytes / total tokens) prices a packing bin in
    bytes, and shards are sized so each one-file-per-shard output lands
    near the target (128 MB - 1 GB is the guide's band).  A fixed
    bins_per_shard that suits one corpus writes kilobyte files on short
    docs and multi-GB files on long ones at 100 TB; the byte target
    holds the file-size distribution steady across corpora."""
    from classic_fcd_spark.operators.dedup import ws_tokens
    from classic_fcd_spark.operators.packing import pack_concat_and_cut

    toks = docs.select(
        id_col, source_col, text_col, F.size(ws_tokens(text_col)).cast("long").alias("n_tokens")
    )
    if target_file_bytes is not None:
        row = toks.agg(
            F.sum(F.length(text_col)).alias("bytes"),
            F.sum("n_tokens").alias("toks"),
        ).collect()[0]
        bytes_per_token = (
            float(row["bytes"]) / float(row["toks"]) if row["toks"] else 1.0
        )
        # a full packing bin holds ~budget tokens; ceil-free floor with a
        # minimum of one bin per shard
        bins_per_shard = max(
            1, int(target_file_bytes / max(budget * bytes_per_token, 1.0))
        )
    order_col = id_col
    pack_in = toks.select(id_col, source_col, "n_tokens")
    if shuffle_seed is not None:
        order_col = "__ord"
        pack_in = pack_in.withColumn(
            order_col,
            F.md5(F.concat(F.lit(f"{shuffle_seed}:"), F.col(id_col).cast("string"))),
        )
    packed = pack_concat_and_cut(
        pack_in, source_col, order_col, "n_tokens", budget
    )
    rows = (
        toks.select(id_col, text_col)
        .join(packed, id_col)
        .withColumn(SHARD_COL, F.expr(f"bin_id div {bins_per_shard}").cast("string"))
        .withColumnRenamed(source_col, SOURCE_COL)
    )
    sort_key = F.col(order_col) if shuffle_seed is not None else F.col(id_col)
    n_shards = rows.select(SOURCE_COL, SHARD_COL).distinct().count()
    (
        rows.repartition(max(1, n_shards), F.col(SOURCE_COL), F.col(SHARD_COL))
        .sortWithinPartitions(F.col(SOURCE_COL), F.col(SHARD_COL), sort_key)
        .drop("__ord")
        .write.mode("overwrite")
        .partitionBy(SOURCE_COL, SHARD_COL)
        .parquet(out_dir)
    )


def read_training_shards(spark, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)
