"""Heal-vs-promote swap races (ADVICE r10, sources/promote.py).

The concurrency contract allows a reader's heal_table to run the same
convergent per-partition swap as the writer's promote_partitions.  Both
can pass the exists(src) check; the loser's rename pair then fails.
_promote_one must recognize the convergent end-state instead of failing
the streaming batch (or the read).  These tests simulate the loser by
patching os.rename inside the module to run the winner's interleave
first.
"""

from __future__ import annotations

import os
import shutil

import pytest

from classic_fcd_spark.sources import promote


def _mk_part(base: str, value: str, payload: str) -> str:
    d = os.path.join(base, f"day={value}")
    os.makedirs(d)
    with open(os.path.join(d, "part-0.parquet"), "w") as f:
        f.write(payload)
    return d


def _read_part(table: str, value: str) -> str:
    with open(os.path.join(table, f"day={value}", "part-0.parquet")) as f:
        return f.read()


class TestSwapRace:
    def test_loser_sees_src_consumed_and_dst_present(self, tmp_path, monkeypatch):
        """Both pass exists(src); the winner completes src→dst; the
        loser's own src→dst raises FileNotFoundError.  The loser must
        return (promotion complete), not raise."""
        tmp, table = str(tmp_path / "tmp"), str(tmp_path / "table")
        os.makedirs(table)
        _mk_part(tmp, "d1", "new")

        real_rename = os.rename
        fired = {"n": 0}

        def racing_rename(a, b):
            if fired["n"] == 0 and a.endswith("day=d1") and tmp in a:
                fired["n"] += 1
                real_rename(a, b)  # the WINNER completes the swap
                raise FileNotFoundError(a)  # ...and the loser's rename fails
            return real_rename(a, b)

        monkeypatch.setattr(promote.os, "rename", racing_rename)
        promote._promote_one(tmp, table, "day", "d1")  # must not raise
        assert _read_part(table, "d1") == "new"
        assert not os.path.exists(os.path.join(table, "day=d1" + promote.OLD_SUFFIX))

    def test_loser_shoved_winners_dst_aside_then_restores(
        self, tmp_path, monkeypatch
    ):
        """dst exists; the winner fully completes while the loser is
        between its exists(src) check and its dst→old rename.  The
        loser then moves the winner's COMPLETED dst to old and its own
        src→dst fails.  Recovery must restore old→dst."""
        tmp, table = str(tmp_path / "tmp"), str(tmp_path / "table")
        _mk_part(table, "d1", "stale")
        _mk_part(tmp, "d1", "new")

        real_rename = os.rename
        state = {"winner_done": False}

        def racing_rename(a, b):
            if not state["winner_done"] and a.endswith("day=d1") and table in a:
                # first loser call is dst→old; run the winner NOW:
                # remove old, swap dst aside, src→dst, drop old
                state["winner_done"] = True
                old = os.path.join(table, "day=d1" + promote.OLD_SUFFIX)
                shutil.rmtree(old, ignore_errors=True)
                real_rename(os.path.join(table, "day=d1"), old)
                real_rename(os.path.join(tmp, "day=d1"), os.path.join(table, "day=d1"))
                shutil.rmtree(old, ignore_errors=True)
                # ...then the loser's dst→old proceeds, shoving the
                # winner's NEW dst to old
                return real_rename(a, b)
            return real_rename(a, b)

        monkeypatch.setattr(promote.os, "rename", racing_rename)
        promote._promote_one(tmp, table, "day", "d1")  # must not raise
        assert _read_part(table, "d1") == "new"

    def test_genuine_failure_still_raises(self, tmp_path, monkeypatch):
        """src present but the rename fails for a non-race reason
        (e.g. EACCES): the error must propagate — convergence recovery
        only fires when src was consumed by a concurrent swap."""
        tmp, table = str(tmp_path / "tmp"), str(tmp_path / "table")
        os.makedirs(table)
        _mk_part(tmp, "d1", "new")

        def failing_rename(a, b):
            raise PermissionError(a)

        monkeypatch.setattr(promote.os, "rename", failing_rename)
        with pytest.raises(PermissionError):
            promote._promote_one(tmp, table, "day", "d1")


class TestReplaceGuard:
    def test_staged_partition_outside_values_raises_before_promoting(
        self, spark, tmp_path
    ):
        """A caller-supplied partition list may be a superset of what a
        commit stages, never a subset: promoting only part of the
        staging would drop the other partitions' new rows.  The check
        reads the staging directory (no Spark job) and raises before any
        live partition moves."""
        table = str(tmp_path / "table")
        cols = ["v", promote.PARTITION_COL]
        old = spark.createDataFrame([(1, "2021-01-01"), (2, "2021-01-02")], cols)
        promote.replace_partitions(old, table, ["2021-01-01", "2021-01-02"], promote.DAYS)
        new = spark.createDataFrame([(10, "2021-01-01"), (20, "2021-01-02")], cols)
        with pytest.raises(ValueError, match="2021-01-02"):
            promote.replace_partitions(new, table, ["2021-01-01"], promote.DAYS)
        got = spark.read.parquet(table).select(*cols).collect()
        assert sorted(tuple(r) for r in got) == [(1, "2021-01-01"), (2, "2021-01-02")]
        # a superset commits: the absent partition is skipped
        promote.replace_partitions(
            new, table, ["2021-01-01", "2021-01-02", "2021-01-03"], promote.DAYS
        )
        got = spark.read.parquet(table).select(*cols).collect()
        assert sorted(tuple(r) for r in got) == [(10, "2021-01-01"), (20, "2021-01-02")]
