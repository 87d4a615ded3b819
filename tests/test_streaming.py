"""Streaming semantics tests: incremental delivery, restart/resume (T2),
idempotent merge (T1), convergence to the batch answer.
"""

from __future__ import annotations

import os
import shutil

import pytest

# slow tier (r16, VERDICT r15 item 7): micro-batch restart/convergence runs — run with --runslow
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from classic_fcd_spark.streaming.minute_pipeline import (
    merge_upsert,
    run_minute_rollup_available_now,
)
from tests.conftest import SF_SMALL


@pytest.fixture
def workdir(tmp_path):
    return str(tmp_path)


def _batch_expected(spark):
    from classic_fcd_spark.session import load_tables

    ev = load_tables(spark, SF_SMALL)["events"]
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("minute", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
                "minute"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("sum_value"),
        )
    )


def _as_dict(df):
    return {
        (r["minute"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in df.collect()
    }


class TestStreamingMinuteRollup:
    def test_incremental_restart_converges_to_batch(self, spark, workdir):
        # split events by time into two files: delivery order == event-time
        # order, so the 10-min watermark never drops anything (the same
        # invariant real ingestion has: blocks arrive in height order).
        from classic_fcd_spark.session import load_tables

        ev = load_tables(spark, SF_SMALL)["events"]
        cut = ev.agg(F.expr("percentile_approx(CAST(ts AS DOUBLE), 0.5)")).collect()[0][0]
        src = os.path.join(workdir, "events_src")
        ev.filter(F.col("ts").cast("double") <= cut).coalesce(1).write.parquet(
            src, mode="overwrite"
        )
        ckpt, out = os.path.join(workdir, "ckpt"), os.path.join(workdir, "out")

        run_minute_rollup_available_now(spark, src, ckpt, out)  # first half
        ev.filter(F.col("ts").cast("double") > cut).coalesce(1).write.parquet(
            src, mode="append"
        )
        got = run_minute_rollup_available_now(spark, src, ckpt, out)  # resume (T2)
        assert _as_dict(got) == _as_dict(_batch_expected(spark))

    def test_late_event_within_watermark_merges(self, spark, workdir):
        """T5: an event arriving a later trigger but within the 10-minute
        watermark must update its (already emitted) minute window — the
        reference's trailing-window dashboard corrections
        (collectDashboard.ts:15)."""
        import datetime as dt

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
        src = os.path.join(workdir, "late_src")
        ckpt, out = os.path.join(workdir, "lckpt"), os.path.join(workdir, "lout")
        spark.createDataFrame(
            [(t0 + dt.timedelta(seconds=10), "e1", "click", 1.0),
             (t0 + dt.timedelta(minutes=8), "e2", "click", 2.0)],
            "ts timestamp, event_id string, event_type string, value double",
        ).coalesce(1).write.parquet(src, mode="append")
        run_minute_rollup_available_now(spark, src, ckpt, out)
        # late by ~8 minutes relative to max event time — inside the
        # 10-minute watermark, so the 00:00 window must re-emit merged
        spark.createDataFrame(
            [(t0 + dt.timedelta(seconds=40), "e3", "click", 4.0)],
            "ts timestamp, event_id string, event_type string, value double",
        ).coalesce(1).write.parquet(src, mode="append")
        got = run_minute_rollup_available_now(spark, src, ckpt, out)
        rows = {r["minute"]: (r["n_events"], r["sum_value"]) for r in got.collect()}
        assert rows["2024-01-01 00:00:00"] == (2, 5.0)
        assert rows["2024-01-01 00:08:00"] == (1, 2.0)

    def test_merge_upsert_idempotent(self, spark, workdir):
        out = os.path.join(workdir, "merge_out")
        df1 = spark.createDataFrame(
            [("m1", "a", 1, 1.0), ("m1", "b", 2, 2.0)],
            ["minute", "event_type", "n_events", "sum_value"],
        )
        merge_upsert(spark, df1, out, ["minute", "event_type"])
        # replay the same batch (failure/restart) → unchanged
        merge_upsert(spark, df1, out, ["minute", "event_type"])
        # updated key + new key
        df2 = spark.createDataFrame(
            [("m1", "a", 5, 5.0), ("m2", "a", 3, 3.0)],
            ["minute", "event_type", "n_events", "sum_value"],
        )
        merge_upsert(spark, df2, out, ["minute", "event_type"])
        got = {
            (r["minute"], r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        assert got == {("m1", "a"): 5, ("m1", "b"): 2, ("m2", "a"): 3}
        shutil.rmtree(out, ignore_errors=True)

    def test_merge_upsert_scopes_to_touched_partitions(self, spark, workdir):
        """S9 scale invariant: a batch touching day d2 must neither read
        nor rewrite day d1's files — the read prunes partitions (checked
        on the physical plan) and the write promotes only touched
        partition dirs (checked via file inodes/mtimes)."""
        from classic_fcd_spark.sources.promote import (
            PARTITION_COL,
            read_partitions,
        )

        out = os.path.join(workdir, "scoped_out")
        d1 = spark.createDataFrame(
            [("2021-01-01 00:01:00", "a", 1, 1.0)],
            ["minute", "event_type", "n_events", "sum_value"],
        )
        d2 = spark.createDataFrame(
            [("2021-01-02 00:01:00", "a", 2, 2.0)],
            ["minute", "event_type", "n_events", "sum_value"],
        )
        merge_upsert(spark, d1, out, ["minute", "event_type"])
        merge_upsert(spark, d2, out, ["minute", "event_type"])
        p1 = os.path.join(out, f"{PARTITION_COL}=2021-01-01")
        before = {
            f: os.stat(os.path.join(p1, f)) for f in os.listdir(p1)
        }

        # the read side prunes: only d2's partition reaches the scan
        plan = (
            read_partitions(spark, out, ["2021-01-02"], PARTITION_COL)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PartitionFilters" in plan
        pf = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
        assert "2021-01-02" in pf

        # merge an update into d2 only; d1's files must be untouched
        upd = spark.createDataFrame(
            [("2021-01-02 00:01:00", "a", 9, 9.0)],
            ["minute", "event_type", "n_events", "sum_value"],
        )
        merge_upsert(spark, upd, out, ["minute", "event_type"])
        after = {f: os.stat(os.path.join(p1, f)) for f in os.listdir(p1)}
        assert before.keys() == after.keys()
        for f in before:
            assert (before[f].st_ino, before[f].st_mtime_ns) == (
                after[f].st_ino,
                after[f].st_mtime_ns,
            ), f"untouched partition file rewritten: {f}"
        # no staging leftovers, and the merge landed
        assert not os.path.exists(out.rstrip("/") + "__tmp")
        got = {
            (r["minute"], r["event_type"]): r["n_events"]
            for r in spark.read.parquet(out).collect()
        }
        assert got[("2021-01-02 00:01:00", "a")] == 9
        assert got[("2021-01-01 00:01:00", "a")] == 1


class TestMempoolTTL:
    def test_inclusion_and_ttl_eviction(self, spark, workdir):
        """S5/T10: seen -> state; included -> evict(reason=included);
        silence past the TTL as the watermark advances -> expired."""
        import datetime as dt

        from classic_fcd_spark.streaming.mempool import run_mempool_available_now

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def ts(s):
            return t0 + dt.timedelta(seconds=s)

        obs = os.path.join(workdir, "obs")
        # batch 1: three txs seen
        spark.createDataFrame(
            [(ts(0), "aa", "seen"), (ts(1), "bb", "seen"), (ts(2), "cc", "seen")],
            "ts timestamp, txhash string, kind string",
        ).coalesce(1).write.parquet(obs, mode="append")
        # batch 2: bb included; cc seen again (refreshes its TTL)
        spark.createDataFrame(
            [(ts(30), "bb", "included"), (ts(30), "cc", "seen")],
            "ts timestamp, txhash string, kind string",
        ).coalesce(1).write.parquet(obs, mode="append")
        # batch 3+4: watermark pushers far past every TTL
        spark.createDataFrame(
            [(ts(500), "zz", "seen")],
            "ts timestamp, txhash string, kind string",
        ).coalesce(1).write.parquet(obs, mode="append")
        spark.createDataFrame(
            [(ts(900), "zz", "seen")],
            "ts timestamp, txhash string, kind string",
        ).coalesce(1).write.parquet(obs, mode="append")

        rows = run_mempool_available_now(
            spark, obs, os.path.join(workdir, "ckpt"), ttl_seconds=60
        )
        by_hash = {r["txhash"]: r for r in rows}
        assert by_hash["bb"]["reason"] == "included"
        assert by_hash["aa"]["reason"] == "expired"
        assert by_hash["cc"]["reason"] == "expired"
        # cc's refresh kept its ORIGINAL first_seen (mempool.ts:88-94)
        assert by_hash["cc"]["first_seen"].second == 2
        assert by_hash["cc"]["last_seen"].second == 30

    def test_reordered_arrival_expires_on_arrival(self, spark, workdir):
        """Stateful ops do NOT drop late rows: when input files arrive out
        of time order (FileStreamSource lists by modification time, and a
        parallel write finishes in arbitrary order — the sustained-load
        bench hit exactly this), a group touched after the watermark
        already passed last_seen + TTL must evict as expired-on-arrival,
        not crash on INVALID_TIMEOUT_TIMESTAMP."""
        import datetime as dt
        import time as _time

        from classic_fcd_spark.streaming.mempool import run_mempool_available_now

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def ts(s):
            return t0 + dt.timedelta(seconds=s)

        obs = os.path.join(workdir, "obs")
        # file 1 (listed FIRST by mod time): far-future watermark pusher
        spark.createDataFrame(
            [(ts(5000), "zz", "seen")],
            "ts timestamp, txhash string, kind string",
        ).coalesce(1).write.parquet(obs, mode="append")
        _time.sleep(1.1)  # distinct mtime second → deterministic ordering
        # file 2: a LATE slab — its TTL deadline is behind the watermark
        spark.createDataFrame(
            [(ts(0), "old", "seen")],
            "ts timestamp, txhash string, kind string",
        ).coalesce(1).write.parquet(obs, mode="append")

        rows = run_mempool_available_now(
            spark, obs, os.path.join(workdir, "ckpt"), ttl_seconds=60
        )
        by_hash = {r["txhash"]: r for r in rows}
        assert by_hash["old"]["reason"] == "expired"
        assert by_hash["old"]["first_seen"].second == 0


class TestDimRefresh:
    def test_throttled_refresh_dedups_per_batch(self, spark, workdir):
        """T7: each micro-batch drains its distinct address set into one
        refresh call (watcher.ts:17-53); duplicates within a batch
        collapse, across batches re-fire (the reference refreshes again
        on the next drain too)."""
        from classic_fcd_spark.streaming.dim_refresh import run_dim_refresh

        src = os.path.join(workdir, "val_events")
        spark.createDataFrame(
            [("v1",), ("v2",), ("v1",)], "operator string"
        ).coalesce(1).write.parquet(src, mode="append")
        spark.createDataFrame(
            [("v2",), ("v3",)], "operator string"
        ).coalesce(1).write.parquet(src, mode="append")

        calls = []
        run_dim_refresh(
            spark, src, os.path.join(workdir, "ckpt_dim"), "operator", calls.append
        )
        assert sorted(map(tuple, calls)) == [("v1", "v2"), ("v2", "v3")]


class TestMergeUpsertProperty:
    @pytest.mark.parametrize("layout", ["day_prefix", "kb_bucket"])
    def test_random_batch_sequences_match_dict_reference(
        self, spark, workdir, layout
    ):
        """S9 as a property: any sequence of upsert batches (including
        replays) must leave the table equal to a dict applied in the same
        order — MERGE semantics, partition layout irrelevant.  Run over
        the day-prefix layout of the rollups and the md5-bucket layout
        of the serving extracts (bucket column + in-bucket sort order);
        either way each touched partition holds one data file."""
        self._check(spark, workdir, layout, "collected")

    @pytest.mark.parametrize("touched", ["exact", "superset"])
    @pytest.mark.parametrize("layout", ["day_prefix", "kb_bucket"])
    def test_caller_touched_sets_match_dict_reference(
        self, spark, workdir, layout, touched
    ):
        """The same property when the caller supplies the touched
        partitions instead of the merge collecting them: exactly the
        batch's, or those plus partitions the batch does not reach
        (stored or absent), as the block ingest's key collect may."""
        self._check(spark, workdir, layout, touched)

    @staticmethod
    def _check(spark, workdir, layout: str, touched: str) -> None:
        import itertools
        import random

        from classic_fcd_spark.serving.extract import _bucket_expr, _bucket_py
        from classic_fcd_spark.sources.promote import Layout

        if layout == "kb_bucket":
            kw = {
                "partition_expr": _bucket_expr("minute", 3),
                "layout": Layout("kb", ("minute", "event_type DESC")),
            }

            def part_of(m):
                return _bucket_py(m, 3)

            extra = [0, 1, 2, 7]
        else:
            kw = {}

            def part_of(m):
                return m[:10]

            extra = ["2021-01-01", "2021-01-02", "2021-01-09"]

        rng = random.Random(11)
        minutes = [f"2021-01-0{d} 00:0{m}:00" for d in (1, 2) for m in (1, 2)]
        types = ["a", "b"]
        out = os.path.join(workdir, "prop_out")
        ref: dict = {}
        for step in range(6):
            keys = rng.sample(
                list(itertools.product(minutes, types)), rng.randint(1, 4)
            )
            batch = [(m, t, step, float(step)) for (m, t) in keys]
            for m, t, n, v in batch:
                ref[(m, t)] = (n, v)
            df = spark.createDataFrame(
                batch, ["minute", "event_type", "n_events", "sum_value"]
            )
            parts = sorted({part_of(m) for m, _t in keys})
            if touched == "exact":
                kw["touched"] = parts
            elif touched == "superset":
                kw["touched"] = sorted(set(parts) | set(extra))
            got_parts = merge_upsert(spark, df, out, ["minute", "event_type"], **kw)
            assert sorted(got_parts) == sorted(kw.get("touched", parts))
            if rng.random() < 0.4:  # replay the same batch (restart)
                merge_upsert(spark, df, out, ["minute", "event_type"], **kw)
        got = {
            (r["minute"], r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == ref
        for part in os.listdir(out):
            files = os.listdir(os.path.join(out, part))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, part
