"""Point-lookup serving extract (serving/extract.py): equivalence with
the analytics-path endpoints plus plan asserts that the lookup actually
prunes — the partition filter reaches the scan (PartitionFilters) and
the key equality pushes into the parquet reader (PushedFilters), so a
point read touches one bucket directory, not the table.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from classic_fcd_spark.pipeline.medallion import account_tx_silver
from classic_fcd_spark.serving.api import get_tx_by_hash, get_tx_list
from classic_fcd_spark.serving.extract import (
    _bucket_py,
    lookup_account_page,
    lookup_tx,
    write_account_page_extract,
    write_tx_lookup_extract,
)
from classic_fcd_spark.sources.fixtures import gen_txs, tx_hash_str


@pytest.fixture(scope="module")
def extract_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("extract"))
    txs = gen_txs(spark)
    write_tx_lookup_extract(txs, out)
    write_account_page_extract(account_tx_silver(txs), out)
    return out


class TestTxLookup:
    def test_matches_analytics_path(self, spark, extract_dir):
        txs = gen_txs(spark)
        # valid fixture tx indices: i = h*3+k with k < h%3
        for i in (3, 6, 7):
            h = tx_hash_str(i)
            want = [
                (r["hash"], r["height"])
                for r in get_tx_by_hash(txs, h).collect()
            ]
            got = [
                (r["hash"], r["height"])
                for r in lookup_tx(spark, extract_dir, h).collect()
            ]
            assert got == want and len(got) == 1

    def test_missing_hash_is_empty(self, spark, extract_dir):
        assert lookup_tx(spark, extract_dir, "f" * 32).count() == 0

    def test_plan_prunes_partitions_and_pushes_filter(self, spark, extract_dir):
        plan = lookup_tx(spark, extract_dir, tx_hash_str(1))._jdf.queryExecution().executedPlan().toString()
        # the bucket literal reaches the scan as a partition filter...
        assert "PartitionFilters" in plan and "kb" in plan
        # ...and the hash equality is pushed into the parquet reader
        assert "PushedFilters" in plan and "hash" in plan

    def test_case_insensitive_contract(self, spark, extract_dir):
        h = tx_hash_str(3)
        assert lookup_tx(spark, extract_dir, h.upper()).count() == 1


class TestAccountPage:
    def _account(self, spark):
        at = account_tx_silver(gen_txs(spark))
        return (
            at.groupBy("account")
            .count()
            .orderBy(F.col("count").desc(), "account")
            .first()["account"]
        )

    def test_page_matches_analytics_path(self, spark, extract_dir):
        txs = gen_txs(spark)
        at = account_tx_silver(txs)
        acct = self._account(spark)
        want = get_tx_list(txs, at, acct, limit=10)
        rows = lookup_account_page(spark, extract_dir, acct, limit=10)
        got_hashes = [r["hash"] for r in rows[:10]]
        assert got_hashes == [t["hash"] for t in want["txs"]]

    def test_keyset_walk_equivalence(self, spark, extract_dir):
        """Cursor pages from the extract equal the analytics keyset walk
        page-for-page until exhaustion."""
        txs = gen_txs(spark)
        at = account_tx_silver(txs)
        acct = self._account(spark)
        offset = None
        for _ in range(5):
            want = get_tx_list(txs, at, acct, limit=7, offset=offset)
            rows = lookup_account_page(
                spark, extract_dir, acct, limit=7, offset=offset
            )
            assert [r["hash"] for r in rows[:7]] == [
                t["hash"] for t in want["txs"]
            ]
            if want["next"] is None:
                assert len(rows) <= 7
                break
            offset = want["next"]

    def test_stored_sort_is_page_order(self, spark, extract_dir):
        """Within a bucket file the rows are stored in the page's exact
        keyset order, so the page read is a contiguous run (footer-stat
        friendly)."""
        acct = self._account(spark)
        b = _bucket_py(acct, 16)
        part = spark.read.parquet(f"{extract_dir}/account_tx/kb={b}")
        rows = part.filter(F.col("account") == acct).collect()
        keys = [(r["height"], r["hash"]) for r in rows]
        # file order (no orderBy!) must already be height desc, hash desc
        assert keys == sorted(keys, reverse=True)


class TestIncrementalMaintenance:
    """r8: the extract's partition-scoped merge path — the streaming twin
    of the reference collector's per-block index upkeep
    (src/collector/block/tx.ts:240-247).  Asserts (a) lookups see txs
    merged after the bootstrap build, (b) ONLY the kb= buckets touched
    by a batch are rewritten (file-mtime audit), (c) checkpointed
    restart processes only new files (S2)."""

    @staticmethod
    def _bucket_mtimes(path):
        import os

        out = {}
        for d in os.listdir(path):
            if not d.startswith("kb="):
                continue
            full = os.path.join(path, d)
            out[d] = max(
                os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full)
            )
        return out

    def test_streamed_batches_merge_partition_scoped(
        self, spark, tmp_path
    ):
        import os

        from classic_fcd_spark.serving.extract import (
            _bucket_py,
            lookup_account_page,
            lookup_tx,
            merge_tx_lookup_extract,
            run_extract_maintenance_available_now,
        )

        txs = gen_txs(spark)
        out = str(tmp_path / "extract")
        src = str(tmp_path / "txs_stream")
        ckpt = str(tmp_path / "ckpt")

        # batch 1: bootstrap from the first 60 blocks via the stream
        txs.filter(F.col("height") <= 60).coalesce(1).write.parquet(
            src, mode="append"
        )
        run_extract_maintenance_available_now(spark, src, ckpt, out)
        # valid fixture tx indices: i = h*3+k with k < h%3
        h_old = tx_hash_str(4 * 3 + 0)  # height 4 (4%3=1 -> k=0 valid)
        h_new = tx_hash_str(70 * 3 + 0)  # height 70 — not yet streamed
        assert lookup_tx(spark, out, h_old).count() == 1
        assert lookup_tx(spark, out, h_new).count() == 0

        before = self._bucket_mtimes(f"{out}/tx_by_hash")

        # batch 2: the remaining blocks arrive; restart from checkpoint
        import time

        time.sleep(1.1)  # mtime resolution guard
        txs.filter(F.col("height") > 60).coalesce(1).write.parquet(
            src, mode="append"
        )
        run_extract_maintenance_available_now(spark, src, ckpt, out)

        # (a) lookups see the new txs, old ones unchanged
        assert lookup_tx(spark, out, h_new).count() == 1
        assert lookup_tx(spark, out, h_old).count() == 1
        # full-corpus equivalence: merged extract == bootstrap-from-all
        want = sorted(
            r["hash"] for r in txs.select("hash").distinct().collect()
        )
        got = sorted(
            r["hash"]
            for r in spark.read.parquet(f"{out}/tx_by_hash")
            .select("hash")
            .distinct()
            .collect()
        )
        assert got == want

        # (b) only the touched buckets were rewritten
        after = self._bucket_mtimes(f"{out}/tx_by_hash")
        new_hashes = [
            r["hash"]
            for r in txs.filter(F.col("height") > 60).select("hash").collect()
        ]
        touched = {f"kb={_bucket_py(h, 16)}" for h in new_hashes}
        for d, t in after.items():
            if d in touched:
                assert t > before.get(d, 0), f"{d} should have been rewritten"
            else:
                assert t == before[d], f"{d} rewritten but not touched"

        # account page still serves the keyset contract post-merge
        acct = account_tx_silver(txs).select("account").first()["account"]
        rows = lookup_account_page(spark, out, acct, limit=5)
        assert 0 < len(rows) <= 6  # limit+1 probe
        hs = [(r["height"], r["hash"]) for r in rows]
        # keyset order: height desc, hash desc
        assert hs == sorted(hs, reverse=True)

        # (c) a third run with no new files is a no-op for every bucket
        run_extract_maintenance_available_now(spark, src, ckpt, out)
        assert self._bucket_mtimes(f"{out}/tx_by_hash") == after

    def test_batch_internal_duplicates_collapse(self, spark, tmp_path):
        """Two rows with the same dedup key in ONE micro-batch keep one
        row (the reference's ON CONFLICT upsert), and NULL-keyed rows
        are rejected before bucketing (ADVICE r8)."""
        from classic_fcd_spark.serving.extract import (
            lookup_tx,
            merge_tx_lookup_extract,
        )

        txs = gen_txs(spark)
        out = str(tmp_path / "extract3")
        batch = txs.filter(F.col("height") <= 10)
        doubled = batch.unionByName(batch).unionByName(
            batch.limit(1).withColumn("hash", F.lit(None).cast("string"))
        )
        merge_tx_lookup_extract(doubled, out)
        stored = spark.read.parquet(f"{out}/tx_by_hash")
        assert stored.count() == batch.count()
        assert stored.filter(F.col("hash").isNull()).count() == 0
        h = tx_hash_str(4 * 3 + 0)
        assert lookup_tx(spark, out, h).count() == 1

    def test_intra_batch_version_pick_is_deterministic(self, spark, tmp_path):
        """Two DIFFERENT versions of one key inside a micro-batch: the
        survivor is the highest height (the reference's last-write-wins
        ON CONFLICT DO UPDATE), and re-merging the same batch content —
        shuffled into a different partition order — keeps the identical
        survivor (ADVICE r9: dropDuplicates' pick was order-dependent)."""
        from classic_fcd_spark.serving.extract import (
            lookup_tx,
            merge_tx_lookup_extract,
        )

        txs = gen_txs(spark)
        base = txs.filter(F.col("height") <= 10)
        h = tx_hash_str(4 * 3 + 0)
        newer = base.filter(F.col("hash") == h).withColumn(
            "height", F.col("height") + 1000
        )
        out1 = str(tmp_path / "e1")
        merge_tx_lookup_extract(base.unionByName(newer), out1)
        got1 = lookup_tx(spark, out1, h).collect()
        assert len(got1) == 1 and got1[0]["height"] >= 1000

        # same content, reversed union order + different partitioning
        out2 = str(tmp_path / "e2")
        merge_tx_lookup_extract(
            newer.unionByName(base).repartition(7), out2
        )
        got2 = lookup_tx(spark, out2, h).collect()
        assert [tuple(r) for r in got2] == [tuple(r) for r in got1]

    def test_merge_is_idempotent_by_key(self, spark, tmp_path):
        from classic_fcd_spark.serving.extract import (
            lookup_tx,
            merge_tx_lookup_extract,
            write_tx_lookup_extract,
        )

        txs = gen_txs(spark)
        out = str(tmp_path / "extract2")
        write_tx_lookup_extract(txs, out)
        n0 = spark.read.parquet(f"{out}/tx_by_hash").count()
        # re-deliver an overlapping batch (T1 replay): counts unchanged
        merge_tx_lookup_extract(txs.filter(F.col("height") > 90), out)
        assert spark.read.parquet(f"{out}/tx_by_hash").count() == n0
        h = tx_hash_str(95 * 3 + 0)
        assert lookup_tx(spark, out, h).count() == 1


class TestCrashSafePromotion:
    """r9 (ADVICE r8 medium + verdict item 6): the merge's per-bucket
    promotion can die at ANY rename boundary without losing previously
    merged history — a manifest precedes the first move, each swap
    parks the live bucket before the staged one moves in, and
    heal_table (run by the next open OR the next merge) converges to
    the exact state an uninterrupted merge would have produced."""

    @staticmethod
    def _hashes(spark, out):
        return sorted(
            r["hash"]
            for r in spark.read.parquet(f"{out}/tx_by_hash")
            .select("hash")
            .collect()
        )

    def _crash_at_rename(self, spark, tmp_path, fail_at, heal_via):
        import shutil

        import classic_fcd_spark.serving.extract as ex

        txs = gen_txs(spark)
        base = txs.filter(F.col("height") <= 60)
        batch = txs.filter(F.col("height") > 60)

        out = str(tmp_path / f"x{fail_at}_{heal_via}")
        ex.write_tx_lookup_extract(base, out)
        # control: what an uninterrupted merge produces
        ctrl = str(tmp_path / f"c{fail_at}_{heal_via}")
        shutil.copytree(f"{out}/tx_by_hash", f"{ctrl}/tx_by_hash")
        ex.merge_tx_lookup_extract(batch, ctrl)
        want = self._hashes(spark, ctrl)

        real = os.rename
        calls = {"n": 0}

        def bomb(a, b):
            calls["n"] += 1
            if calls["n"] == fail_at:
                raise RuntimeError("injected crash")
            return real(a, b)

        os.rename = bomb
        try:
            with pytest.raises(RuntimeError, match="injected crash"):
                ex.merge_tx_lookup_extract(batch, out)
        finally:
            os.rename = real
        assert calls["n"] == fail_at, "crash point never reached"

        if heal_via == "open":
            # the next READER heals before partition discovery
            got = sorted(
                r["hash"]
                for r in ex.open_extract(
                    spark, f"{out}/tx_by_hash", refresh=True
                )
                .select("hash")
                .collect()
            )
        else:
            # the next MERGE (an idempotent replay of the same batch —
            # the streaming checkpoint's recovery path) heals first
            ex.merge_tx_lookup_extract(batch, out)
            got = self._hashes(spark, out)
        assert got == want
        assert not os.path.exists(f"{out}/tx_by_hash/{ex._MANIFEST}")
        assert not any(
            d.endswith(ex._OLD_SUFFIX)
            for d in os.listdir(f"{out}/tx_by_hash")
        )

    @pytest.mark.parametrize("fail_at", [2, 3, 4, 5])
    def test_heal_on_open_at_every_rename_boundary(
        self, spark, tmp_path, fail_at
    ):
        # rename #2/#4 = park-live-bucket; #3/#5 = staged-dir move-in
        # (the half-swapped window the r8 code could lose forever).
        # The manifest is committed, so the next reader finishes the
        # promotion and sees the full post-merge state.
        self._crash_at_rename(spark, tmp_path, fail_at, "open")

    @pytest.mark.parametrize("fail_at", [1, 3, 4])
    def test_heal_on_next_merge(self, spark, tmp_path, fail_at):
        # rename #1 = the manifest commit itself: the merge aborts with
        # no bucket moved (stale-but-consistent extract); the streaming
        # checkpoint replays the batch and the re-merge converges.
        self._crash_at_rename(spark, tmp_path, fail_at, "merge")
