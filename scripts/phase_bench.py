"""Per-phase performance numbers (BASELINE.md §B's note): bronze parse
rate, minute-rollup micro-batch latency, daily gold job wall time, and
serving-query p50 — the reference's operational envelope re-measured on
this engine.

Phases:
  bronze_parse   — the tx JSON decode + exhaustive address walk
                   (pipeline.medallion.account_tx_silver over the tx
                   fixture): rows/s of bronze→silver parsing.  The
                   reference does this once per block in Node
                   (src/collector/block/block.ts).
  minute_rollup  — streaming micro-batch latency: the sf0.1 events table
                   split into chunk files, drained one file per trigger
                   through the windowed rollup + partition-scoped MERGE
                   (streaming/minute_pipeline.py); per-batch wall p50/max
                   vs the reference's 1-block/6-s envelope
                   (src/collector/watcher.ts:73-82).
  daily_gold     — wall time of the daily dashboard assembly
                   (pipeline.medallion.dashboard_gold) from silver inputs.
  serving_p50    — p50 over repeated get_tx_list / get_tx_by_hash calls
                   (serving/api.py) against warmed silver tables.

Usage: python scripts/phase_bench.py            (fixture scale 1)
       SPARK_GRAFT_FIXTURE_SCALE=10 python scripts/phase_bench.py
Prints one JSON line; the r6 runs are recorded in BENCH_NOTES.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_STREAM_CHUNKS = 10
SERVING_REPS = 20


def main() -> None:
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from classic_fcd_spark.pipeline.medallion import (
        account_tx_silver,
        dashboard_gold,
        minute_rewards_silver,
    )
    from classic_fcd_spark.serving.api import get_tx_by_hash, get_tx_list
    from classic_fcd_spark.session import get_spark, load_tables
    from classic_fcd_spark.sources.fixtures import (
        FIXTURE_SCALE,
        gen_blocks,
        gen_txs,
        tx_hash_str,
    )

    spark = get_spark("phase_bench")
    out: dict = {"fixture_scale": FIXTURE_SCALE, "sf_dir": SF_DIR}

    # --- bronze parse rate -------------------------------------------------
    txs = gen_txs(spark)
    n_txs = txs.count()  # materializes the bronze fixture (not timed)
    t0 = time.perf_counter()
    n_pairs = account_tx_silver(txs).count()
    parse_s = time.perf_counter() - t0
    out["bronze_parse"] = {
        "tx_rows": n_txs,
        "account_tx_rows": n_pairs,
        "wall_s": round(parse_s, 3),
        "rows_per_s": round(n_txs / parse_s),
    }

    # --- minute-rollup micro-batch latency ----------------------------------
    from classic_fcd_spark.session import normalize_event_time
    from classic_fcd_spark.streaming.minute_pipeline import (
        merge_upsert,
        minute_rollup_stream,
    )

    work = tempfile.mkdtemp(prefix="phase_bench_")
    events_dir = os.path.join(work, "events")
    ev = normalize_event_time(spark.read.parquet(os.path.join(SF_DIR, "events.parquet")))
    n_events = ev.count()
    # chunked by time so each micro-batch advances the watermark like
    # live ingestion (repartitionByRange -> one time-slab per file)
    ev.repartitionByRange(N_STREAM_CHUNKS, "ts").write.parquet(events_dir)

    batch_times: list[float] = []
    rollup_dir = os.path.join(work, "rollup")
    last = {"t": time.perf_counter()}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(spark, batch_df, rollup_dir, ["minute", "event_type"])
        now = time.perf_counter()
        batch_times.append(now - last["t"])
        last["t"] = now

    # one file per trigger: N micro-batches, each = window agg + MERGE
    plan = minute_rollup_stream(spark, events_dir, max_files_per_trigger=1)
    q = (
        plan.writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    last["t"] = time.perf_counter()
    q.awaitTermination()
    # drop the first batch (plan compilation + state init — one-time)
    steady = batch_times[1:] or batch_times
    out["minute_rollup"] = {
        "events": n_events,
        "micro_batches": len(batch_times),
        "batch_p50_s": round(statistics.median(steady), 3),
        "batch_max_s": round(max(steady), 3),
        "first_batch_s": round(batch_times[0], 3),
        "envelope_s": 6.0,  # the reference's 1-block/6-s contract
    }

    # --- daily gold job ------------------------------------------------------
    blocks = gen_blocks(spark)
    at = account_tx_silver(txs)
    mr = minute_rewards_silver(blocks)
    # silver inputs warmed (bronze_table persists them); time the gold join
    t0 = time.perf_counter()
    n_days = dashboard_gold(txs, at, mr).count()
    out["daily_gold"] = {
        "days": n_days,
        "wall_s": round(time.perf_counter() - t0, 3),
    }

    # --- serving p50 ---------------------------------------------------------
    acct = (
        at.groupBy("account")
        .count()
        .orderBy(F.col("count").desc(), "account")
        .first()["account"]
    )
    lat_list, lat_hash = [], []
    for i in range(SERVING_REPS):
        t0 = time.perf_counter()
        get_tx_list(txs, at, acct, limit=10)
        lat_list.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        get_tx_by_hash(txs, tx_hash_str(i + 1)).collect()
        lat_hash.append(time.perf_counter() - t0)
    out["serving_p50"] = {
        "get_tx_list_p50_s": round(statistics.median(lat_list), 4),
        "get_tx_by_hash_p50_s": round(statistics.median(lat_hash), 4),
        "reps": SERVING_REPS,
    }

    # --- serving p50 over the point-lookup extract (r7: SURVEY §1.3's
    # hot-serving answer — hash-bucketed, sorted gold extracts; the
    # lookup prunes to one partition directory) ----------------------------
    from classic_fcd_spark.serving.extract import (
        lookup_account_page,
        lookup_tx,
        write_account_page_extract,
        write_tx_lookup_extract,
    )

    ex_dir = os.path.join(work, "extract")
    t0 = time.perf_counter()
    write_tx_lookup_extract(txs, ex_dir)
    write_account_page_extract(at, ex_dir)
    build_s = time.perf_counter() - t0
    lat_list_x, lat_hash_x = [], []
    for i in range(SERVING_REPS):
        t0 = time.perf_counter()
        lookup_account_page(spark, ex_dir, acct, limit=10)
        lat_list_x.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        lookup_tx(spark, ex_dir, tx_hash_str(i + 1)).collect()
        lat_hash_x.append(time.perf_counter() - t0)
    out["serving_extract_p50"] = {
        "account_page_p50_s": round(statistics.median(lat_list_x), 4),
        "tx_by_hash_p50_s": round(statistics.median(lat_hash_x), 4),
        "extract_build_s": round(build_s, 3),
        "reps": SERVING_REPS,
    }

    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
