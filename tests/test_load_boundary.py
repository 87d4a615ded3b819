"""Load-boundary invariant: `ts` is always plain TIMESTAMP, regardless of
the parquet physical encoding the upstream writer chose.

The driver's testdata has used three encodings across rounds:
  r1-r2: TIMESTAMP(NANOS)  -> Spark reads bigint under nanosAsLong
  r3:    timestamp[us] naive -> Spark reads TIMESTAMP_NTZ
  (and the plain case) timestamp[us] UTC -> TIMESTAMP

This is the engine's equivalent of the reference's account-shape
normalization (src/service/bank/getBalance/normalizeAccount.ts:19-128):
input drift is absorbed at the load boundary so the typed core never
sees it.  Round 3 regressed because the NTZ case was missing — these
tests pin all three for both the batch loader and the stream source.
"""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

UTC = datetime.timezone.utc
TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 30),
    datetime.datetime(2024, 1, 1, 0, 1, 30),
    datetime.datetime(2024, 1, 1, 0, 2, 30),
]
EPOCH_US = [int(t.replace(tzinfo=UTC).timestamp() * 1_000_000) for t in TS]


def _write_events(path: str, ts_array: pa.Array) -> str:
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7, 7, 8], pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0]),
        }
    )
    pq.write_table(table, path)
    return path


ENCODINGS = {
    # r1/r2 physical layout: TIMESTAMP(NANOS) — Spark has no nanos type and
    # (under nanosAsLong) surfaces the column as bigint nanos.
    "nanos": lambda: pa.array(
        [us * 1000 for us in EPOCH_US], pa.timestamp("ns")
    ),
    # r3 layout: microseconds, no timezone -> TIMESTAMP_NTZ in Spark.
    "ntz_us": lambda: pa.array(TS, pa.timestamp("us")),
    # canonical layout: microseconds UTC -> TIMESTAMP in Spark.
    "utc_us": lambda: pa.array(
        [t.replace(tzinfo=UTC) for t in TS], pa.timestamp("us", tz="UTC")
    ),
}


@pytest.mark.parametrize("enc", sorted(ENCODINGS))
def test_batch_loader_normalizes_ts(spark, tmp_path, enc):
    from pyspark.sql import functions as F

    from classic_fcd_spark.session import normalize_event_time

    path = _write_events(str(tmp_path / "events.parquet"), ENCODINGS[enc]())
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = normalize_event_time(spark.read.parquet(path))
    assert dict(df.dtypes)["ts"] == "timestamp", enc
    # The values must be the same instants, not merely the same type:
    # unix_micros (the NTZ-strict function that failed in r3) must return
    # the canonical epoch for every encoding.
    got = [
        r[0]
        for r in df.orderBy("event_id")
        .select(F.unix_micros("ts"))
        .collect()
    ]
    assert got == EPOCH_US, enc


def test_all_ntz_columns_normalized(spark, tmp_path):
    """normalize_timestamps covers EVERY naive-timestamp column, not just
    ts — the drift has hit only events.ts so far, but nothing stops the
    next drop from writing e.g. an order date naive."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from classic_fcd_spark.session import normalize_timestamps

    table = pa.table(
        {
            "id": pa.array([1, 2], pa.int64()),
            "ts": pa.array(TS[:2], pa.timestamp("us")),
            "created_at": pa.array(TS[:2], pa.timestamp("us")),
        }
    )
    path = str(tmp_path / "t.parquet")
    pq.write_table(table, path)
    df = normalize_timestamps(spark.read.parquet(path))
    assert dict(df.dtypes) == {
        "id": "bigint",
        "ts": "timestamp",
        "created_at": "timestamp",
    }


@pytest.mark.parametrize("enc", sorted(ENCODINGS))
def test_stream_source_normalizes_ts(spark, tmp_path, enc):
    """events_stream must yield watermark-compatible TIMESTAMP for every
    encoding — withWatermark raises on TIMESTAMP_NTZ at analysis time, so
    constructing the full rollup plan is the regression check."""
    from classic_fcd_spark.streaming.drain import events_stream
    from classic_fcd_spark.streaming.minute_pipeline import minute_rollup_stream

    events_dir = tmp_path / "events_dir"
    events_dir.mkdir()
    _write_events(str(events_dir / "part-0.parquet"), ENCODINGS[enc]())
    src = events_stream(spark, str(events_dir))
    assert dict(src.dtypes)["ts"] == "timestamp", enc
    # Analysis of the watermarked plan is what failed in r3; building it
    # (schema resolution) is sufficient — no query start needed.
    plan = minute_rollup_stream(spark, str(events_dir))
    assert "minute" in plan.columns


@pytest.mark.parametrize("enc", sorted(ENCODINGS))
def test_minute_rollup_end_to_end_per_encoding(spark, tmp_path, enc):
    """Full availableNow run per encoding: identical rollup output — the
    T1/T2/T5 semantics survive the physical type change (r4 brief #7)."""
    from classic_fcd_spark.streaming.minute_pipeline import (
        run_minute_rollup_available_now,
    )

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    _write_events(str(events_dir / "part-0.parquet"), ENCODINGS[enc]())
    out = run_minute_rollup_available_now(
        spark,
        str(events_dir),
        str(tmp_path / "ckpt"),
        str(tmp_path / "out"),
    )
    rows = {
        (r["minute"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in out.collect()
    }
    assert rows == {
        ("2024-01-01 00:00:00", "a"): (1, 1.0),
        ("2024-01-01 00:01:00", "b"): (1, 2.0),
        ("2024-01-01 00:02:00", "a"): (1, 3.0),
    }, enc
