"""Unified per-block ingest (streaming/block_ingest.py): ONE
foreachBatch fan-out under a SINGLE checkpoint writes bronze +
account_tx silver + both serving extracts + the minute rollup — the
Spark composition of the reference's atomic per-block transaction
(src/collector/block/block.ts:142-197 saveBlockInformation).

The crash-injection tests kill the sink after each individual stage of
the transaction body, restart the stream from the SAME checkpoint, and
prove every sink converges to the state of an uninterrupted run —
byte-equal row sets, no duplicates, no losses (VERDICT r8 item 1's
"Done =" criterion).
"""

from __future__ import annotations

import pytest

# slow tier (r16, VERDICT r15 item 7): crash-convergence ingest e2e — run with --runslow
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

import classic_fcd_spark.streaming.block_ingest as bi
from classic_fcd_spark.sources.fixtures import (
    gen_blocks,
    gen_delegations,
    gen_deposits,
    gen_proposals,
    gen_txs,
    gen_validators,
    gen_votes,
    tx_hash_str,
)

N_FILES = 6


def _gov_dims(spark):
    return bi.GovDims(
        proposals=gen_proposals(spark),
        votes=gen_votes(spark),
        delegations=gen_delegations(spark),
        validators=gen_validators(spark),
        deposits=gen_deposits(spark),
    )


def _write_feed(spark, path: str) -> None:
    gen_txs(spark).repartitionByRange(N_FILES, "height").write.parquet(path)


def _state(spark, out: str) -> dict:
    """Full observable state of all six sinks, order-normalized."""
    ext_tx = spark.read.parquet(f"{out}/{bi.EXTRACT}/tx_by_hash")
    ext_at = spark.read.parquet(f"{out}/{bi.EXTRACT}/account_tx")
    return {
        "blocks": sorted(
            tuple(r)
            for r in bi.read_blocks(spark, out)
            .select("height", "n_txs")
            .collect()
        ),
        "bronze": sorted(
            r["hash"] for r in bi.read_bronze(spark, out).select("hash").collect()
        ),
        "silver": sorted(
            (r["account"], r["hash"])
            for r in bi.read_account_tx(spark, out)
            .select("account", "hash")
            .collect()
        ),
        "ext_tx": sorted(
            r["hash"] for r in ext_tx.select("hash").collect()
        ),
        "ext_at": sorted(
            (r["account"], r["hash"])
            for r in ext_at.select("account", "hash").collect()
        ),
        "rollup": sorted(
            tuple(r) for r in bi.read_rollup(spark, out).collect()
        ),
    }


@pytest.fixture(scope="module")
def control(spark, tmp_path_factory):
    """Uninterrupted run: the convergence target for every crash case."""
    base = tmp_path_factory.mktemp("ingest_ctrl")
    feed = str(base / "feed")
    out = str(base / "out")
    _write_feed(spark, feed)
    bi.run_block_ingest_available_now(spark, feed, str(base / "ckpt"), out)
    return {"feed": feed, "out": out, "state": _state(spark, out)}


class TestUnifiedIngest:
    def test_all_sinks_consistent_after_clean_run(self, spark, control):
        st = control["state"]
        txs = gen_txs(spark)
        # bronze == the feed, exactly once
        assert st["bronze"] == sorted(r["hash"] for r in txs.select("hash").collect())
        assert len(st["bronze"]) == len(set(st["bronze"]))
        # extracts mirror bronze/silver exactly (no lag under one ckpt)
        assert st["ext_tx"] == st["bronze"]
        assert st["ext_at"] == st["silver"]
        # block entities: one row per height, tx counts match bronze
        assert len(st["blocks"]) == len(
            {h for h, _ in st["blocks"]}
        )
        assert sum(n for _, n in st["blocks"]) == len(st["bronze"])
        # rollup == the batch twin computed over the whole feed at once
        from classic_fcd_spark.pipeline.medallion import tx_volume_minute_silver

        want = sorted(tuple(r) for r in tx_volume_minute_silver(txs).collect())
        assert st["rollup"] == want

    def test_rollup_recompute_prunes_bronze_partitions(self, spark, control):
        """The per-batch rollup recompute must read only the touched
        days of bronze: the day literals resolve to PartitionFilters on
        the scan (bronze is day-partitioned inside each batch dir), so
        the recompute stays O(touched days) as bronze accumulates."""
        minutes = [
            r[0]
            for r in bi.read_rollup(spark, control["out"])
            .select("minute")
            .limit(2)
            .collect()
        ]
        scoped = bi.rollup_scoped_bronze(spark, control["out"], minutes)
        plan = scoped._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [", 1)
        assert len(pf) == 2 and bi.DAY_COL in pf[1].split("]", 1)[0], plan[:1500]

    def test_extract_serves_point_lookups(self, spark, control):
        from classic_fcd_spark.serving.extract import lookup_tx

        h = tx_hash_str(95 * 3 + 0)
        ext = f"{control['out']}/{bi.EXTRACT}"
        assert lookup_tx(spark, ext, h).count() == 1

    @pytest.mark.parametrize(
        "stage", ["account_tx_silver", "merge_tx_lookup_extract", "merge_upsert"]
    )
    def test_crash_after_each_stage_converges_on_restart(
        self, spark, tmp_path, control, stage
    ):
        """Kill the transaction body mid-batch-3 at three boundaries:
        after bronze (before silver), after silver (before the
        extracts), and after the extracts (before the rollup).  The
        restart replays batch 3 under the same checkpoint and every
        sink must equal the uninterrupted run."""
        from pyspark.errors.exceptions.captured import StreamingQueryException

        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        feed = control["feed"]

        orig = getattr(bi, stage)
        calls = {"n": 0}

        def bomb(*a, **k):
            calls["n"] += 1
            if calls["n"] == 4:  # batch ids 0..3 -> crash inside batch 3
                raise RuntimeError("injected crash")
            return orig(*a, **k)

        setattr(bi, stage, bomb)
        try:
            with pytest.raises(StreamingQueryException):
                bi.run_block_ingest_available_now(spark, feed, ckpt, out)
        finally:
            setattr(bi, stage, orig)
        assert calls["n"] == 4, "crash point never reached"

        # the wounded state is genuinely divergent (the test has teeth):
        # bronze already carries batch 3, the crashed-or-later sinks do not
        mid = _state(spark, out)
        assert mid != control["state"]
        assert len(mid["bronze"]) > len(mid["ext_tx"]) or mid["rollup"] != control[
            "state"
        ]["rollup"]

        # restart from the SAME checkpoint: batch 3 replays, all five
        # sinks converge to the uninterrupted run
        bi.run_block_ingest_available_now(spark, feed, ckpt, out)
        assert _state(spark, out) == control["state"]

    def test_proposal_id_whitespace_and_malformed_values(self, spark):
        """detect_proposal_ids end-to-end parity (ADVICE r10/r11): the
        reference's parseInt gate would truncate '12abc'→12 and
        '0x1A'→0 and trim ' 7 '→7, but it then REFRESHES by the RAW
        attr string, so the LCD fetch fails for every value that isn't
        already a bare digit string and those proposals are never
        stored — our gate must therefore skip them all outright,
        whitespace-padded values included (the raw-URL fetch doesn't
        trim, so parseInt's trimming never matters end-to-end)."""
        import json

        def tx(h, value):
            logs = [
                {
                    "events": [
                        {
                            "type": "submit_proposal",
                            "attributes": [{"key": "proposal_id", "value": value}],
                        }
                    ]
                }
            ]
            return (h, json.dumps(logs))

        txs = spark.createDataFrame(
            [
                tx(1, "12"),  # kept
                tx(2, "\t12\n"),  # skipped: raw fetch of '\t12\n' fails
                tx(3, " 7 "),  # skipped: raw fetch of ' 7 ' fails
                tx(4, "12abc"),  # skipped: raw-string LCD fetch fails
                tx(5, "0x1A"),  # skipped (parseInt(v,10) → 0, fetch '0x1A' fails)
                tx(6, "pid-3"),  # skipped: NaN
                tx(7, ""),  # skipped: NaN
            ],
            "height long, logs_json string",
        )
        got = sorted(
            tuple(r) for r in bi.detect_proposal_ids(txs).collect()
        )
        assert got == [(12, 1)]

    def test_proposal_detection_on_plain_tx_feed(self, spark, tmp_path, control):
        """Sink 7 on the tx feed: detected ids + refresh rows match a
        DuckDB oracle over the fixture index space (i % 11 == 3 txs
        carry a numeric proposal_id = i % 4; i % 11 == 7 carry the
        NON-numeric 'pid-…' value the parseInt guard must skip; failed
        (i % 10 == 0) and swap (i % 5 == 4) txs carry no gov event)."""
        import duckdb

        from classic_fcd_spark.sources.fixtures import FIXTURE_N_BLOCKS

        out = str(tmp_path / "out")
        bi.run_block_ingest_available_now(
            spark, control["feed"], str(tmp_path / "ckpt"), out,
            proposals_dim=gen_proposals(spark),
        )
        got = sorted(
            (r["proposal_id"], r["last_seen_height"], r["title"])
            for r in bi.read_proposals(spark, out)
            .select("proposal_id", "last_seen_height", "title")
            .collect()
        )
        want = duckdb.sql(f"""
            WITH txbase AS (
                SELECT h, h * 3 + k AS i
                FROM (SELECT unnest(range(1, {FIXTURE_N_BLOCKS} + 1)) AS h),
                     (SELECT unnest(range(0, 3)) AS k)
                WHERE k < h % 3
            )
            SELECT i % 4 AS proposal_id, MAX(h) AS last_seen_height,
                   'proposal-' || CAST(i % 4 AS VARCHAR) AS title
            FROM txbase
            WHERE i % 11 = 3 AND i % 10 != 0 AND i % 5 != 4
            GROUP BY 1, 3 ORDER BY 1
        """).fetchall()
        assert got == [tuple(r) for r in want]

    def test_catchup_processes_only_new_files(self, spark, tmp_path, control):
        """S2 under the unified checkpoint: a second availableNow drain
        after new feed files arrive ingests ONLY those files, and the
        sinks advance together."""
        import shutil

        feed = str(tmp_path / "feed")
        shutil.copytree(control["feed"], feed)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        bi.run_block_ingest_available_now(spark, feed, ckpt, out)
        before = _state(spark, out)
        assert before == control["state"]

        from classic_fcd_spark.sources.fixtures import FIXTURE_N_BLOCKS

        # genuinely NEW blocks (heights past the fixture's range) — a
        # re-delivery of existing heights would be the duplicate-hash
        # case, which the extracts dedup by key but bronze appends
        late = gen_txs(spark, n=FIXTURE_N_BLOCKS + 20).filter(
            F.col("height") > FIXTURE_N_BLOCKS
        )
        late.coalesce(1).write.mode("append").parquet(feed)
        bi.run_block_ingest_available_now(spark, feed, ckpt, out)
        after = _state(spark, out)
        assert len(after["bronze"]) == len(before["bronze"]) + late.count()
        assert after["ext_tx"] == after["bronze"]


def _bundle_state(spark, out: str) -> dict:
    """Observable state of the full nine-sink bundle run: the six tx
    sinks plus blockreward bronze, proposals, and the reward rollup."""
    st = _state(spark, out)
    st["rewards_bronze"] = sorted(
        (r["height"],)
        for r in bi.read_rewards_bronze(spark, out).select("height").collect()
    )
    st["reward_rollup"] = sorted(
        tuple(r) for r in bi.read_reward_rollup(spark, out).collect()
    )
    st["proposals"] = sorted(
        tuple(r)
        for r in bi.read_proposals(spark, out)
        .select("proposal_id", "last_seen_height", "status", "title")
        .collect()
    )
    return st


@pytest.fixture(scope="module")
def bundle_control(spark, tmp_path_factory):
    """Uninterrupted nine-sink run over the block-bundle feed."""
    base = tmp_path_factory.mktemp("ingest_bundle")
    feed = str(base / "feed")
    out = str(base / "out")
    bi.build_block_bundle_feed(
        gen_txs(spark), gen_blocks(spark)
    ).repartitionByRange(N_FILES, "height").write.parquet(feed)
    bi.run_block_ingest_available_now(
        spark, feed, str(base / "ckpt"), out,
        proposals_dim=_gov_dims(spark),
    )
    return {"feed": feed, "out": out, "state": _bundle_state(spark, out)}


class TestBundleIngest:
    """r10: the composed transaction extended to the reference's FULL
    per-block write set — blockreward (block.ts:152-154) and proposal
    detection (block.ts:165) inside the same checkpoint."""

    def test_reward_rollup_equals_batch_twin(self, spark, bundle_control):
        """Sink 9 streamed per-block == the one-shot shifted silver over
        all blocks (T4's fcd_minute_rewards_shifted semantics)."""
        from classic_fcd_spark.pipeline.medallion import (
            minute_rewards_shifted_silver,
        )

        want = sorted(
            tuple(r)
            for r in minute_rewards_shifted_silver(gen_blocks(spark)).collect()
        )
        assert bundle_control["state"]["reward_rollup"] == want

    def test_zero_tx_blocks_have_entities_and_rewards(self, spark, bundle_control):
        """Heights with h % 3 == 0 carry no txs; the bundle feed still
        writes their block entity (n_txs = 0) and reward rows — the
        pure-tx feed cannot see them at all."""
        st = bundle_control["state"]
        by_height = dict(st["blocks"])
        assert by_height[3] == 0 and by_height[6] == 0
        assert (3,) in st["rewards_bronze"]
        # and tx-carrying heights kept their counts
        assert by_height[4] == 1 and by_height[5] == 2

    def test_tx_sinks_identical_to_plain_feed(self, spark, control, bundle_control):
        """The bundle feed's six tx sinks produce byte-identical state
        to the plain tx feed's (block rows ride beside, not through,
        the tx pipeline)."""
        st_b = bundle_control["state"]
        st_t = control["state"]
        for k in ("bronze", "silver", "ext_tx", "ext_at", "rollup"):
            assert st_b[k] == st_t[k], k

    def test_proposal_refresh_stores_vote_summary_and_deposits(
        self, spark, bundle_control
    ):
        """saveProposalDetails stores the RECOMPUTED voteSummary and
        deposits, not a raw proposal copy (saveProposal.ts:58-81).
        total_vote_power / vote_count must equal the per-proposal
        aggregate of the driver-gated fcd_vote_tally oracle (DuckDB);
        deposit_uluna must equal the fixture arithmetic (5 deposits per
        proposal, uluna amount d*700%5000+100).  Proposal 3 has no
        votes in the fixture (votes span ids 0-2) — its summary must be
        the filled zeros, not a dropped row."""
        import duckdb

        from classic_fcd_spark.queries import oracle_sql_map
        from classic_fcd_spark.sources.fixtures import (
            FIXTURE_N_DEPOSITS,
            FIXTURE_N_PROPOSALS,
        )

        rows = {
            r["proposal_id"]: r
            for r in bi.read_proposals(spark, bundle_control["out"]).collect()
        }
        assert set(rows) == {0, 1, 2, 3}

        tally_sql = oracle_sql_map()["fcd_vote_tally"]
        want_tally = {
            r[0]: (r[1], r[2])
            for r in duckdb.sql(
                f"SELECT proposal_id, SUM(power_sum), SUM(n_votes) "
                f"FROM ({tally_sql}) GROUP BY 1"
            ).fetchall()
        }
        for pid, r in rows.items():
            wp, wc = want_tally.get(pid, (0, 0))
            assert r["total_vote_power"] == wp, (pid, r)
            assert r["vote_count"] == wc, (pid, r)
            want_dep = sum(
                d * 700 % 5000 + 100
                for d in range(FIXTURE_N_DEPOSITS)
                if d % FIXTURE_N_PROPOSALS == pid
            )
            assert r["deposit_uluna"] == want_dep, (pid, r)
        assert rows[3]["total_vote_power"] == 0 and rows[3]["vote_count"] == 0

    def test_reward_recompute_prunes_day_partitions(self, spark, bundle_control):
        """The reward recompute's predecessor read must prune to the
        touched days of blockreward bronze (PartitionFilters on
        day_pt) — O(touched days) however large the reward history
        grows, same contract as the tx rollup's recompute."""
        minutes = [
            r[0]
            for r in bi.read_reward_rollup(spark, bundle_control["out"])
            .select("minute")
            .limit(2)
            .collect()
        ]
        scoped = bi.reward_scoped_bronze(spark, bundle_control["out"], minutes)
        plan = scoped._jdf.queryExecution().executedPlan().toString()
        pf = plan.split("PartitionFilters: [", 1)
        assert len(pf) == 2 and bi.DAY_COL in pf[1].split("]", 1)[0], plan[:1500]

    def test_bundle_catchup_advances_all_nine_sinks(self, spark, tmp_path, bundle_control):
        """S2 on the bundle feed: a second availableNow drain after new
        block bundles arrive ingests ONLY the new blocks — bronze,
        blockreward, and the reward rollup all advance together, and
        the previously-final reward minute gains its late successor's
        attribution."""
        import shutil

        from classic_fcd_spark.sources.fixtures import FIXTURE_N_BLOCKS

        feed = str(tmp_path / "feed")
        shutil.copytree(bundle_control["feed"], feed)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        bi.run_block_ingest_available_now(
            spark, feed, ckpt, out, proposals_dim=_gov_dims(spark)
        )
        before = _bundle_state(spark, out)
        assert before == bundle_control["state"]

        n2 = FIXTURE_N_BLOCKS + 20
        late_t = gen_txs(spark, n=n2).filter(F.col("height") > FIXTURE_N_BLOCKS)
        late_b = gen_blocks(spark, n=n2).filter(F.col("height") > FIXTURE_N_BLOCKS)
        bi.build_block_bundle_feed(late_t, late_b).coalesce(1).write.mode(
            "append"
        ).parquet(feed)
        bi.run_block_ingest_available_now(
            spark, feed, ckpt, out, proposals_dim=_gov_dims(spark)
        )
        after = _bundle_state(spark, out)
        assert len(after["bronze"]) == len(before["bronze"]) + late_t.count()
        assert len(after["rewards_bronze"]) == len(before["rewards_bronze"]) + 20
        # the catch-up's rewards landed: the rollup equals the batch
        # twin over ALL blocks — including the attribution of block
        # 601, whose predecessor (600) was the PREVIOUS drain's last
        # block (the cross-drain boundary case)
        from classic_fcd_spark.pipeline.medallion import (
            minute_rewards_shifted_silver,
        )

        want = sorted(
            tuple(r)
            for r in minute_rewards_shifted_silver(gen_blocks(spark, n=n2)).collect()
        )
        assert after["reward_rollup"] == want
        assert after["reward_rollup"] != before["reward_rollup"]

    @pytest.mark.parametrize(
        "stage",
        [
            "_merge_reward_rollup",
            "detect_proposal_ids",
            "merge_account_page_extract",
            "refresh_proposal_payload",
        ],
    )
    def test_crash_at_new_sinks_converges_on_restart(
        self, spark, tmp_path, bundle_control, stage
    ):
        """Kill the transaction mid-batch-3 at a bundle sink (proposal
        detection or refresh, the reward-rollup merge, the account-page
        merge), restart from the same checkpoint, and require byte-equal
        convergence with the uninterrupted run across ALL NINE sinks.
        The account-page merge and the proposal refresh run in the first
        sink wave, so their siblings in that wave complete while they
        fail."""
        from pyspark.errors.exceptions.captured import StreamingQueryException

        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        feed = bundle_control["feed"]

        orig = getattr(bi, stage)
        calls = {"n": 0}

        def bomb(*a, **k):
            calls["n"] += 1
            if calls["n"] == 4:
                raise RuntimeError("injected crash")
            return orig(*a, **k)

        setattr(bi, stage, bomb)
        try:
            with pytest.raises(StreamingQueryException):
                bi.run_block_ingest_available_now(
                    spark, feed, ckpt, out, proposals_dim=_gov_dims(spark)
                )
        finally:
            setattr(bi, stage, orig)
        assert calls["n"] == 4, "crash point never reached"

        # wounded state diverges (bronze is ahead of the crashed sink)
        mid = _bundle_state(spark, out)
        assert mid != bundle_control["state"]

        bi.run_block_ingest_available_now(
            spark, feed, ckpt, out, proposals_dim=_gov_dims(spark)
        )
        assert _bundle_state(spark, out) == bundle_control["state"]
