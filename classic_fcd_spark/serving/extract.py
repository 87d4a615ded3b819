"""Point-lookup serving extract: the SURVEY §1.3 hot-serving answer.

The analytics plans serve tx-by-hash at ~52 ms and an account page at
~277 ms p50 (BENCH_NOTES phase table) — Spark job scheduling over a
full-table scan, ~10x the reference's Postgres-indexed page.  The fix
is a STORAGE layout, not a faster plan: materialize small gold extracts
hash-partitioned on the lookup key so a point read touches exactly one
partition directory (partition pruning) and, within it, one sorted
row-group neighborhood (parquet min/max footer stats — the
write_time_layout discipline).

Layout per extract (this module writes both):
- tx lookup:      out_dir/tx_by_hash/kb=<b>/...    sorted by hash
- account pages:  out_dir/account_tx/kb=<b>/...    sorted by account,
                  height desc, hash desc (the page's exact keyset order,
                  so a page is one contiguous run)

The bucket key kb = int(md5(key)[:8], 16) % num_buckets is computed by
BOTH sides from the same bytes: Spark's conv(substr(md5(..)..)) at
write time, Python's hashlib at lookup time — no dependence on Spark's
internal hash or on a catalog (plain paths, works on s3a/hdfs).  This
is the engine's analogue of the reference's B-tree on txhash
(src/orm/TxEntity.ts index decorators + sql/customIndex.sql): pay the
shuffle once at write, then every lookup is O(1 partition).

At 100 TB: num_buckets scales with corpus (one bucket ~ a few hundred
MB); the extract carries ONLY the serving columns, so it is a small
fraction of the warehouse, and upkeep is INCREMENTAL: the merge_*
functions below rewrite only the kb= buckets a batch touches, streamed
per micro-batch by run_extract_maintenance_available_now."""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from classic_fcd_spark import session
from classic_fcd_spark.sources.promote import (
    MANIFEST as _MANIFEST,  # noqa: F401  (the crash tests inspect it here)
    OLD_SUFFIX as _OLD_SUFFIX,  # noqa: F401
    Layout,
    merge_upsert,
    read_table,
)
from classic_fcd_spark.streaming.drain import drain, file_stream

KB = "kb"  # bucket partition column
# Each extract's layout, used by the full rebuild and the merge alike:
# one sorted file per bucket, in the lookup's key order (the account
# page's exact keyset order, so a page is one contiguous run).
TX_BY_HASH = Layout(KB, ("hash",))
ACCOUNT_TX = Layout(KB, ("account", "height DESC", "hash DESC"))


def _bucket_expr(key_col: str, num_buckets: int) -> F.Column:
    """Spark-side bucket id: first 8 md5 hex chars as an int, mod N —
    bit-identical to _bucket_py below."""
    return (
        F.conv(F.substring(F.md5(F.col(key_col)), 1, 8), 16, 10).cast("bigint")
        % num_buckets
    )


def _bucket_py(key: str, num_buckets: int) -> int:
    return int(hashlib.md5(key.encode()).hexdigest()[:8], 16) % num_buckets


def write_tx_lookup_extract(
    txs: DataFrame, out_dir: str, num_buckets: int = 16
) -> None:
    """Materialize the tx-by-hash extract: one shuffle on the bucket id,
    one hash-sorted file per bucket (monotone hash runs -> tight
    row-group min/max)."""
    TX_BY_HASH.writer(
        txs.withColumn(KB, _bucket_expr("hash", num_buckets))
    ).parquet(f"{out_dir}/tx_by_hash")
    _invalidate_open(out_dir)


def write_account_page_extract(
    account_tx: DataFrame, out_dir: str, num_buckets: int = 16
) -> None:
    """Materialize the account-page extract sorted in the page's exact
    keyset order (account, height desc, hash desc) so a page read is one
    contiguous run of one bucket file."""
    ACCOUNT_TX.writer(
        account_tx.withColumn(KB, _bucket_expr("account", num_buckets))
    ).parquet(f"{out_dir}/account_tx")
    _invalidate_open(out_dir)


# ---------------------------------------------------------------------------
# Incremental maintenance: the reference keeps its txhash B-tree fresh
# with per-block INSERT … ON CONFLICT upserts
# (src/collector/block/tx.ts:240-247); the extract's analogue is the
# partition-scoped MERGE of sources/promote.py over the kb= buckets, so
# a block's upkeep costs O(buckets touched by that block), not
# O(corpus).  The full-rebuild write_* paths above remain for
# bootstrap/backfill.
# ---------------------------------------------------------------------------
def _latest_per_key(
    updates: DataFrame, keys: list[str], version_order: list
) -> DataFrame:
    """One row per key of a batch that may repeat keys, picked
    DETERMINISTICALLY (the reference's ON CONFLICT upsert keeps the
    last write, tx.ts:240-247): rank by `version_order` (e.g. height
    desc = newest version wins), then by an md5 of the full row, so the
    survivor is a pure function of the batch CONTENT, identical across
    crash-replays even when versions tie (dropDuplicates' pick depends
    on partition order).  NULL-keyed rows are rejected: the reference
    column is a PRIMARY KEY, so a NULL is a producer bug, and it would
    also break the bucket-id collect."""
    key_ok = F.lit(True)
    for k in keys:
        key_ok = key_ok & F.col(k).isNotNull()
    content_rank = F.md5(F.to_json(F.struct(*updates.columns)))
    w = Window.partitionBy(*keys).orderBy(*version_order, content_rank)
    return (
        updates.filter(key_ok)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def merge_tx_lookup_extract(
    txs: DataFrame, out_dir: str, num_buckets: int = 16, touched: list | None = None
) -> list[int]:
    """Upsert a batch of txs into the tx-by-hash extract (key: hash);
    returns the touched bucket ids.  Intra-batch versions of one hash:
    highest height wins (last write, as the reference's ON CONFLICT DO
    UPDATE).  `touched`: the batch's bucket ids when the caller knows
    them (`_bucket_py` of its hashes), see `merge_upsert`."""
    ver = [F.col("height").desc()] if "height" in txs.columns else []
    touched = merge_upsert(
        txs.sparkSession,
        _latest_per_key(txs, ["hash"], ver),
        f"{out_dir}/tx_by_hash",
        ["hash"],
        _bucket_expr("hash", num_buckets),
        TX_BY_HASH,
        touched,
    )
    _invalidate_open(out_dir)
    return sorted(touched)


def merge_account_page_extract(
    account_tx: DataFrame, out_dir: str, num_buckets: int = 16,
    touched: list | None = None,
) -> list[int]:
    """Upsert a batch of (account, tx) rows into the account-page
    extract, preserving the page's keyset sort order inside each
    bucket; returns the touched bucket ids (`touched` as in
    `merge_tx_lookup_extract`, from the batch's accounts)."""
    keys = ["account", "hash"]
    touched = merge_upsert(
        account_tx.sparkSession,
        _latest_per_key(account_tx, keys, [F.col("height").desc()]),
        f"{out_dir}/account_tx",
        keys,
        _bucket_expr("account", num_buckets),
        ACCOUNT_TX,
        touched,
    )
    _invalidate_open(out_dir)
    return sorted(touched)


def run_extract_maintenance_available_now(
    spark: SparkSession,
    txs_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    num_buckets: int = 16,
) -> None:
    """Stream new tx files into both extracts: foreachBatch applies the
    partition-scoped merges per micro-batch — the streaming twin of the
    reference collector's per-block index upkeep.  availableNow + the
    checkpoint give S2 catch-up semantics: a restart processes only
    files not yet merged."""
    from classic_fcd_spark.pipeline.medallion import account_tx_silver

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.cache()
        try:
            merge_tx_lookup_extract(batch_df, out_dir, num_buckets)
            merge_account_page_extract(
                account_tx_silver(batch_df), out_dir, num_buckets
            )
        finally:
            batch_df.unpersist()

    drain(file_stream(spark, txs_dir, None), sink, checkpoint_dir)


# A serving tier holds an extract's relation open across requests:
# re-running partition discovery and schema inference per lookup costs
# more than the lookup itself (measured: 112 ms vs 33 ms p50 at sf0.1).
# The relations live in the session registry under ("extract", path),
# each registered as the temp view of that key, and every write_*/merge_*
# above drops the entries under its out_dir, so callers never serve
# deleted-file errors off a stale handle (the next open re-registers).
def _invalidate_open(out_dir: str) -> None:
    prefix = out_dir.rstrip("/")
    session._evict(lambda k: k[1][:1] == ("extract",) and k[1][1].startswith(prefix))


def open_extract(spark: SparkSession, path: str, refresh: bool = False) -> DataFrame:
    # read_table heals first: a parked kb=N__old dir would otherwise leak
    # into partition discovery as a bogus kb value
    return session._lookup_view(
        spark, ("extract", path), lambda: read_table(spark, path, None), fresh=refresh
    )


def _extract_view(spark: SparkSession, path: str) -> str:
    open_extract(spark, path)
    return session.view_name(("extract", path))


# A point read is one SQL text over the extract's view, every request
# value a bound parameter: building it as DataFrame calls costs a py4j
# round trip per call and column (~120 per read), more driver time than
# the pruned scan itself.  The kb literal still reaches the scan as a
# partition filter, the key equality as a pushed parquet filter.
def lookup_tx(
    spark: SparkSession, out_dir: str, txhash: str, num_buckets: int = 16
) -> DataFrame:
    """P7 point lookup over the extract: the literal bucket filter
    prunes to ONE partition directory (PartitionFilters in the scan) and
    the hash equality pushes into that file's row groups.  Preserves the
    reference's case-insensitive contract (getTx.ts:6-13) by probing
    both case buckets (distinct buckets in general — md5 of different
    bytes)."""
    view = _extract_view(spark, f"{out_dir}/tx_by_hash")
    lo, hi = txhash.lower(), txhash.upper()
    return spark.sql(
        f"SELECT * EXCEPT ({KB}) FROM {view}"
        f" WHERE {KB} IN (:kb_lo, :kb_hi) AND (hash = :lo OR hash = :hi)",
        args={
            "kb_lo": _bucket_py(lo, num_buckets),
            "kb_hi": _bucket_py(hi, num_buckets),
            "lo": lo,
            "hi": hi,
        },
    )


def lookup_account_page(
    spark: SparkSession,
    out_dir: str,
    account: str,
    limit: int = 10,
    offset: tuple[int, str] | None = None,
    num_buckets: int = 16,
) -> list:
    """The get_tx_list keyset page served from the extract: one pruned
    bucket, the stored sort order IS the page order, limit+1 probe rows
    collected.  Returns the page rows (the caller applies the
    response-shape dict of serving/api.get_tx_list)."""
    view = _extract_view(spark, f"{out_dir}/account_tx")
    args = {"kb": _bucket_py(account, num_buckets), "account": account, "n": limit + 1}
    after = ""
    if offset is not None:
        args["oh"], args["ohash"] = offset
        after = " AND (height < :oh OR (height = :oh AND hash < :ohash))"
    return spark.sql(
        f"SELECT * EXCEPT ({KB}) FROM {view} WHERE {KB} = :kb AND account = :account{after}"
        " ORDER BY height DESC, hash DESC LIMIT :n",
        args=args,
    ).collect()
