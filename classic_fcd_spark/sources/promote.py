"""How a parquet table is committed and read: the one module that
stages, promotes and heals.  Every partition-scoped sink goes through
it: the serving extracts, the minute rollups, the unified block
ingest's MERGE sinks and the daily gold tables.

- `merge_upsert` is the partition-scoped MERGE by key: only the
  partitions the batch touches are read, anti-joined and rewritten.
- `replace_partitions` commits a DataFrame as the whole content of the
  given partitions (truncate-and-reload); it is also the merge's tail.
- `read_table` and `stored_partitions` heal before they read or list.

A commit rewrites the touched `col=value` partition directories of a
live table from a freshly-written staging tree.  A naive rmtree(dst) +
rename(src) has an unrecoverable window: a crash between the two
permanently drops that partition's previously-merged history.  The
swap is made convergent from ANY crash point:

1. `promote_partitions` commits a manifest (atomic rename) BEFORE any
   live directory moves, then per partition: park the live dir at
   `<dst>__old`, move the staged dir in, drop the parked copy.
2. `heal_table` (idempotent; run by the next merge AND the next reader)
   replays the manifest: un-promoted partitions finish their swap,
   half-swapped partitions complete from the still-present staged dir,
   done partitions drop their parked copy.

At no point is a partition's only copy inside a directory about to be
deleted.  The os.rename promotion assumes staging and table share a
filesystem (local parquet, HDFS-style rename-capable stores).  On
object stores rename is a copy, so the production path is a Delta or
Iceberg `MERGE INTO` (and `REPLACE WHERE` for the partition replace):
these functions stand in for it, a commit of new files plus a manifest
swap, in an environment that has plain parquet only.

Reference parity: the reference gets this atomicity from Postgres
(saveBlockInformation's per-block transaction,
src/collector/block/block.ts:142-197, and INSERT … ON CONFLICT upserts,
src/collector/block/tx.ts:240-247); here the commit point is the
manifest rename and the replay boundary is the streaming checkpoint.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
from typing import NamedTuple

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST = "_promote_manifest.json"
OLD_SUFFIX = "__old"
PARTITION_COL = "day_pt"

# Concurrency contract: ONE writer per table (the streaming checkpoint
# serializes merges).  Readers may call heal_table concurrently with a
# writer's promote_partitions — both then race the same convergent
# per-partition swaps (each individually idempotent) and the same
# manifest/tmp cleanup.  A cleanup-race loser sees the file already
# gone (suppressed FileNotFoundError); a swap-race loser sees its
# rename pair fail AFTER the exists(src) check — _promote_one re-checks
# the end-state (src consumed, dst present) and returns instead of
# failing the streaming batch or the read.  True multi-writer
# needs an exclusive lock file — out of scope for the single-stream
# design this serves.


def _promote_one(tmp: str, table_dir: str, part_col: str, value) -> None:
    """Crash-safe single-partition swap (convergent on replay)."""
    src = os.path.join(tmp, f"{part_col}={value}")
    dst = os.path.join(table_dir, f"{part_col}={value}")
    old = dst + OLD_SUFFIX
    if not os.path.exists(src):
        # promotion already completed for this partition (heal/replay)
        shutil.rmtree(old, ignore_errors=True)
        return
    shutil.rmtree(old, ignore_errors=True)
    try:
        if os.path.exists(dst):
            os.rename(dst, old)
        os.rename(src, dst)
    except OSError:
        # Lost a heal-vs-promote race: both processes
        # passed the exists(src) check; the loser's rename then sees
        # ENOENT/ENOTEMPTY.  Re-check the convergent end-state:
        if not os.path.exists(src):
            if os.path.exists(dst):
                # winner consumed src and put dst in place — this
                # partition is promoted; treat as done instead of
                # failing the streaming batch or the read.
                shutil.rmtree(old, ignore_errors=True)
                return
            if os.path.exists(old):
                # we shoved the winner's COMPLETED dst aside (our
                # dst→old ran after the winner finished) and then our
                # own src→dst failed — restore the winner's result.
                # The restore itself can lose to a THIRD healer that
                # re-creates dst first: re-check the end
                # state instead of propagating — dst present means the
                # partition is promoted, whoever put it there.
                try:
                    os.rename(old, dst)
                except OSError:
                    if not os.path.exists(dst):
                        raise
                    shutil.rmtree(old, ignore_errors=True)
                return
        # src is still staged: if we parked the live partition in
        # __old and never filled dst, put it back before failing so
        # the table stays readable and nothing sits in __old until
        # the next heal.
        if os.path.exists(old) and not os.path.exists(dst):
            with contextlib.suppress(OSError):
                os.rename(old, dst)
        raise
    shutil.rmtree(old, ignore_errors=True)


def promote_partitions(
    tmp: str, table_dir: str, part_col: str, values: list
) -> None:
    """Two-phase promotion of the staged partition dirs under `tmp`
    into `table_dir`: manifest first (atomic via rename), then
    per-partition swaps, then cleanup.  A crash anywhere is healed by
    heal_table."""
    os.makedirs(table_dir, exist_ok=True)
    man = os.path.join(table_dir, MANIFEST)
    man_tmp = man + ".tmp"
    with open(man_tmp, "w") as f:
        json.dump({"tmp": tmp, "part_col": part_col, "values": values}, f)
    os.rename(man_tmp, man)
    for v in values:
        _promote_one(tmp, table_dir, part_col, v)
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(man)


def heal_table(table_dir: str) -> list:
    """Finish (or back out of) a promotion that crashed mid-swap; see
    module docstring.  Returns the partition values it repaired ([]
    when the table is clean).  Idempotent; cheap (one stat) in the
    clean case, so every merge and every open calls it."""
    man = os.path.join(table_dir, MANIFEST)
    if not os.path.exists(man):
        return []
    try:
        with open(man) as f:
            meta = json.load(f)
    except FileNotFoundError:
        return []  # a concurrent heal consumed it between the stat/open
    tmp, part_col, values = meta["tmp"], meta["part_col"], meta["values"]
    healed = []
    for v in values:
        if os.path.exists(os.path.join(tmp, f"{part_col}={v}")) or os.path.exists(
            os.path.join(table_dir, f"{part_col}={v}") + OLD_SUFFIX
        ):
            healed.append(v)
        _promote_one(tmp, table_dir, part_col, v)
    shutil.rmtree(tmp, ignore_errors=True)
    with contextlib.suppress(FileNotFoundError):
        os.remove(man)
    return healed



class Layout(NamedTuple):
    """A partitioned table's write shape: the partition column, and the
    row order inside each partition ("col", or "col DESC")."""

    part_col: str
    order: tuple

    def writer(self, df: DataFrame) -> DataFrameWriter:
        """Overwrite-mode writer of `df` in this layout.  Each partition
        value lands in one shuffle partition, so each partition
        directory gets one file, sorted by `order`.  `part_col` leads
        the sort because the dynamic-partition writer requires that
        order and would otherwise insert its own sort, which does not
        keep the key order inside a file."""
        sort = [F.desc(c[:-5]) if c.endswith(" DESC") else F.col(c) for c in self.order]
        return (
            df.repartition(self.part_col)
            .sortWithinPartitions(self.part_col, *sort)
            .write.mode("overwrite")
            .partitionBy(self.part_col)
        )


DAYS = Layout(PARTITION_COL, ())  # the day-partitioned tables


def stored_partitions(table_dir: str, part_col: str = PARTITION_COL) -> list[str]:
    """The table's committed partition values, from its `part_col=`
    directory names after a heal: no Spark job."""
    heal_table(table_dir)
    if not os.path.isdir(table_dir):
        return []
    prefix = f"{part_col}="
    return [d[len(prefix):] for d in os.listdir(table_dir) if d.startswith(prefix)]


def read_table(
    spark: SparkSession, path: str, part_col: str | None = PARTITION_COL
) -> DataFrame:
    """Heal, then read; the partition column is dropped unless
    `part_col` is None (the extracts keep `kb` to prune lookups)."""
    heal_table(path)
    df = spark.read.parquet(path)
    return df.drop(part_col) if part_col else df


def read_partitions(
    spark: SparkSession,
    table_dir: str,
    values: list,
    part_col: str,
    schema: StructType | None = None,
) -> DataFrame:
    """The MERGE's read side: ONLY the touched partitions.  The isin
    filter is on the partition column, so it resolves to PartitionFilters
    on the scan; untouched partitions contribute zero files to the read.
    A known `schema` (the table's rows are the updates' shape) skips the
    Spark job that infers it from a parquet footer."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(table_dir).filter(F.col(part_col).isin(values))


def replace_partitions(
    df: DataFrame, table_dir: str, values: list, layout: Layout
) -> None:
    """Commit `df` as the whole content of partitions `values`: one
    write to staging in the table's layout, then the two-phase
    promotion.  Rows that left a replaced partition do not survive
    (truncate-and-reload)."""
    # heal before the rmtree: a crashed commit's staging is its only copy
    heal_table(table_dir)
    tmp = table_dir.rstrip("/") + "__tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    layout.writer(df).parquet(tmp)
    # promoting only some of the staged partitions would drop the rest's
    # rows; a caller's partition list can be a superset, never a subset
    prefix = f"{layout.part_col}="
    staged = {d[len(prefix):] for d in os.listdir(tmp) if d.startswith(prefix)}
    missing = staged - {str(v) for v in values}
    if missing:
        raise ValueError(
            f"{table_dir}: staged partitions {sorted(missing)} are not in "
            f"the partitions to replace"
        )
    promote_partitions(tmp, table_dir, layout.part_col, values)


def merge_upsert(
    spark: SparkSession,
    updates: DataFrame,
    out_dir: str,
    keys: list[str],
    partition_expr: F.Column | None = None,
    layout: Layout = DAYS,
    touched: list | None = None,
) -> list:
    """Idempotent, PARTITION-SCOPED MERGE-by-key of `updates` into the
    table at `out_dir` (S9: the reference's INSERT … ON CONFLICT
    UPDATE, tx.ts:240-247); returns the touched partition values.
    `partition_expr` derives the layout's partition column (default:
    the day prefix of the first key, a minute string).  Replaying a
    batch converges: stored rows with an update's key are replaced, the
    rest of each touched partition is kept.  The merged rows are
    written once and the touched directories are promoted by rename:
    one data write per batch plus O(partitions) metadata moves, the
    shape of a Delta MERGE commit.  Untouched partitions are never
    read, written or moved, so a batch costs O(batch + touched
    partitions), not O(table).

    `touched`, when the caller already knows the partition values its
    updates can land in (the block ingest derives them from one key
    collect per batch), skips the collect; it may name partitions no
    update lands in (they are rewritten unchanged), but a missing one
    makes `replace_partitions` raise before anything is promoted."""
    part = layout.part_col
    if partition_expr is None:
        partition_expr = F.substring(keys[0], 1, 10)  # minute -> day prefix
    updates = updates.withColumn(part, partition_expr)
    if touched is None:
        updates = updates.cache()
    try:
        if touched is None:
            # a set over the collected column (batch-sized, one job), not
            # distinct(), whose shuffle is a second job under AQE
            touched = list({r[0] for r in updates.select(part).collect()})
        if not touched:
            return []
        merged = updates
        if stored_partitions(out_dir, part):
            existing = read_partitions(spark, out_dir, touched, part, updates.schema)
            cond = [existing[k] == updates[k] for k in keys]
            merged = existing.join(updates, cond, "left_anti").unionByName(updates)
        replace_partitions(merged, out_dir, touched, layout)
        return touched
    finally:
        updates.unpersist()
