"""Writers that need dynamic partition overwrite must not change the
session's `spark.sql.sources.partitionOverwriteMode`: tests and a serving
tier share one session, so a leaked `dynamic` would silently turn every
later `mode("overwrite")` into a partial overwrite."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_SMALL

KEY = "spark.sql.sources.partitionOverwriteMode"

DOCS = [
    [(0, "the quick brown fox jumps over the lazy dog")],
    [(1, "the quick brown fox jumps over the lazy cat")],
]


def _write_docs(docs_dir: str) -> None:
    os.makedirs(docs_dir)
    for i, rows in enumerate(DOCS):
        ids, texts = zip(*rows)
        path = os.path.join(docs_dir, f"part-{i}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()), "text": list(texts)}),
            path,
        )
        # the file source orders micro-batches by modification time
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


class TestPartitionOverwriteModeIsolation:
    def test_writers_leave_session_conf_unchanged(self, spark, tmp_path):
        from classic_fcd_spark.session import load_tables
        from classic_fcd_spark.sources.layout import (
            compact_time_layout,
            write_time_layout,
        )
        from classic_fcd_spark.streaming.incremental_dedup import (
            run_streaming_dedup_available_now,
        )
        from classic_fcd_spark.streaming.postings import (
            read_postings,
            write_postings_batch,
        )

        prev = spark.conf.get(KEY)
        spark.conf.set(KEY, "static")
        try:
            docs_dir = str(tmp_path / "docs")
            _write_docs(docs_dir)
            index_dir = str(tmp_path / "index")
            run_streaming_dedup_available_now(
                spark, docs_dir, index_dir, str(tmp_path / "chk")
            )
            assert spark.conf.get(KEY) == "static"
            # both micro-batches' partitions survive: the writes were
            # dynamic even though the session says static
            assert len([d for d in os.listdir(index_dir) if "=" in d]) == 2

            post_dir = str(tmp_path / "postings")
            docs = spark.read.parquet(docs_dir)
            write_postings_batch(docs.filter("doc_id = 0"), 0, post_dir)
            write_postings_batch(docs.filter("doc_id = 1"), 1, post_dir)
            assert spark.conf.get(KEY) == "static"
            ids = {r[0] for r in read_postings(spark, post_dir).select("doc_id").collect()}
            assert ids == {0, 1}

            layout_dir = str(tmp_path / "events")
            events = load_tables(spark, SF_SMALL)["events"]
            write_time_layout(events, layout_dir, "ts", files_per_day=4)
            assert compact_time_layout(spark, layout_dir, "ts")
            assert spark.conf.get(KEY) == "static"
        finally:
            spark.conf.set(KEY, prev)
