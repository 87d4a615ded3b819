"""No reader, writer or operator changes session conf: tests and a
serving tier share one session, so a leaked value would change what every
later query does.  A leaked `partitionOverwriteMode=dynamic` would turn
every later `mode("overwrite")` into a partial overwrite; a flipped
partition-type inference would change a column's type between two reads
of the same table.  Sessions the engine did not build get the engine's
read conf where they enter it (`session.apply_read_conf`)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_SMALL

READ_KEYS = {
    # Spark's own defaults: a session the engine did not build
    "spark.sql.legacy.parquet.nanosAsLong": "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "true",
    "spark.sql.sources.partitionColumnTypeInference.enabled": "true",
}
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
        from classic_fcd_spark.operators.dedup import connected_components
        from classic_fcd_spark.session import load_tables
        from classic_fcd_spark.sources.layout import (
            compact_time_layout,
            read_time_layout,
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
        before = spark.conf.getAll
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
            # partition values stay opaque strings, whatever ran before
            layout = read_time_layout(spark, layout_dir)
            assert layout.schema["day_pt"].dataType.simpleString() == "string"

            # the pointer-jumping arm (local_threshold=0) sizes its
            # shuffles per call, not through the session's partition count
            pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "i long, j long")
            labels = dict(connected_components(pairs, local_threshold=0).collect())
            assert labels == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}
            assert spark.conf.getAll == before
        finally:
            spark.conf.set(KEY, prev)


class TestPlainSession:
    """The two places a foreign session enters the engine give it the
    engine's read conf before they read."""

    def _plain(self, spark):
        ns = spark.newSession()
        for k, v in READ_KEYS.items():
            ns.conf.set(k, v)
        return ns

    def _assert_read_conf(self, ns):
        from classic_fcd_spark.session import _READ_CONF

        assert {k: ns.conf.get(k) for k in _READ_CONF} == _READ_CONF

    def test_load_tables(self, spark):
        from classic_fcd_spark.session import load_tables

        ns = self._plain(spark)
        events = load_tables(ns, SF_SMALL)["events"]
        assert events.schema["ts"].dataType.simpleString() == "timestamp"
        self._assert_read_conf(ns)

    def test_streaming_minute_rollup(self, spark):
        import duckdb

        from classic_fcd_spark.queries.registry import oracle_sql_map
        from classic_fcd_spark.queries.streaming_q import streaming_minute_rollup

        ns = self._plain(spark)
        got = [tuple(r) for r in streaming_minute_rollup(ns, SF_SMALL).collect()]
        self._assert_read_conf(ns)
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW events AS SELECT * FROM "
            f"read_parquet('{os.path.join(SF_SMALL, 'events.parquet')}')"
        )
        want = con.sql(oracle_sql_map(SF_SMALL)["streaming_minute_rollup"]).fetchall()
        assert want
        assert sorted(got) == sorted(want)
