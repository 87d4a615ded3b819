"""BM25 lexical retrieval (operators/bm25.py): pure-Python reference
equivalence on a planted corpus, full DuckDB-oracle equivalence over the
synthetic documents table, and the broadcast plan shape.
"""

from __future__ import annotations

import math

import duckdb

from classic_fcd_spark.operators.bm25 import bm25_postings, bm25_topk, duck_bm25_sql
from tests.conftest import SF_SMALL

K1, B = 1.2, 0.75

ROWS = [
    (0, "spark shuffles the sorted rows across executors"),
    (1, "the broadcast join avoids the shuffle for small tables"),
    (2, "a window function partitions and sorts the rows"),
    (3, "broadcast broadcast broadcast tiny dims everywhere"),
    (4, "rows rows rows and more rows in the shuffle"),
]
QUERIES = [(0, ["broadcast", "shuffle"]), (1, ["rows"]), (2, ["absentterm"])]


def _ref_topk(rows, queries, k1=K1, b=B, top_k=10):
    toks = {i: t.split() for i, t in rows}
    n = len(rows)
    avgdl = sum(len(v) for v in toks.values()) / n
    out = {}
    for qid, terms in queries:
        scores = {}
        for term in terms:
            df = sum(1 for v in toks.values() if term in v)
            if df == 0:
                continue
            idf = math.log(1.0 + (float(n) - df + 0.5) / (df + 0.5))
            for i, v in toks.items():
                tf = v.count(term)
                if tf == 0:
                    continue
                denom = tf + k1 * ((1.0 - b) + (b * len(v)) / avgdl)
                s = idf * tf * (k1 + 1.0) / denom
                scores[i] = scores.get(i, 0) + math.floor(s * 1000000.0)
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:top_k]
        for rnk, (i, s) in enumerate(ranked, 1):
            out[(qid, i)] = (rnk, s)
    return out


class TestBM25Reference:
    def test_matches_python_reference(self, spark):
        df = spark.createDataFrame(ROWS, ["doc_id", "text"])
        got = {
            (r["qid"], r["doc_id"]): (r["rnk"], r["score_e6"])
            for r in bm25_topk(df, QUERIES, k1=K1, b=B).collect()
        }
        assert got == _ref_topk(ROWS, QUERIES)
        # sanity: tf saturation (the point of BM25 over raw tf) — doc 1
        # matches BOTH query terms once and outranks doc 3's tf=3 on a
        # single term
        assert got[(0, 1)][0] == 1
        assert got[(0, 3)][0] == 2

    def test_postings_reuse_is_equivalent(self, spark):
        df = spark.createDataFrame(ROWS, ["doc_id", "text"])
        post = bm25_postings(df)
        a = sorted(map(tuple, bm25_topk(df, QUERIES).collect()))
        b_ = sorted(map(tuple, bm25_topk(df, QUERIES, postings=post).collect()))
        assert a == b_


class TestBM25Oracle:
    QUERIES = [(0, ["join", "merge"]), (1, ["window", "sort", "scan"]), (2, ["scan"])]

    def test_matches_duckdb_on_documents(self, spark, tables):
        got = sorted(
            (r["qid"], r["doc_id"], r["rnk"], r["score_e6"])
            for r in bm25_topk(tables["documents"], self.QUERIES).collect()
        )
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/documents.parquet')"
        )
        want = sorted(map(tuple, con.sql(duck_bm25_sql(self.QUERIES)).fetchall()))
        assert got == want
        assert len(got) == 30  # 3 queries x top-10 on a 500-doc corpus


class TestBM25Plan:
    def test_query_side_is_broadcast_no_cartesian(self, spark, tables):
        df = bm25_topk(tables["documents"], self.QUERIES)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    QUERIES = [(0, ["join"])]

    def test_silver_tokenizes_once_and_is_id_partitioned(self, spark):
        """The postings silver (with_df over bm25_postings) reads the
        tokens once: one Generate in its plan, df derived from the same
        tf rows, and the result hash-partitioned on doc_id for the
        exchange-free scoring groupBy.  Planted rows, so no persisted
        silver of another test stands in for the plan."""
        from classic_fcd_spark.operators.bm25 import with_df

        docs = spark.createDataFrame(ROWS, ["doc_id", "text"])
        silver = with_df(bm25_postings(docs))
        plan = silver._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Generate ") == 1, plan
        assert "hashpartitioning(doc_id" in plan.splitlines()[1], plan


class TestRRFFusion:
    def test_matches_python_reference(self, spark):
        import math  # noqa: F401

        from classic_fcd_spark.operators.bm25 import rrf_fuse

        a = [(0, 10, 1), (0, 11, 2), (0, 12, 3), (1, 20, 1)]
        b = [(0, 11, 1), (0, 13, 2), (1, 21, 1), (1, 20, 2)]
        ra = spark.createDataFrame(a, ["qid", "doc_id", "rnk"])
        rb = spark.createDataFrame(b, ["qid", "doc_id", "rnk"])
        got = {
            (r["qid"], r["doc_id"]): (r["rrf_e9"], r["rnk"])
            for r in rrf_fuse([ra, rb], rrf_k=60).collect()
        }
        scores = {}
        for sys_rows in (a, b):
            for qid, d, rnk in sys_rows:
                scores[(qid, d)] = scores.get((qid, d), 0) + 1000000000 // (60 + rnk)
        by_q = {}
        for (qid, d), s in scores.items():
            by_q.setdefault(qid, []).append((d, s))
        want = {}
        for qid, items in by_q.items():
            for rnk, (d, s) in enumerate(
                sorted(items, key=lambda x: (-x[1], x[0])), 1
            ):
                want[(qid, d)] = (s, rnk)
        assert got == want
        # doc 11 appears in BOTH systems -> must outrank every
        # single-system doc for query 0
        assert got[(0, 11)][1] == 1

    def test_hybrid_bm25_plus_ann_runs_on_testdata(self, spark, tables):
        from pyspark.sql import functions as F

        from classic_fcd_spark.operators.bm25 import bm25_topk, rrf_fuse
        from classic_fcd_spark.queries.similarity import ann_lsh_search
        from tests.conftest import SF_SMALL

        lex = bm25_topk(tables["documents"], [(0, ["join", "merge"])])
        # the synthetic embeddings share the documents' id space; the
        # ANN arm's qid 0 pairs with the lexical query 0
        dense = ann_lsh_search(spark, SF_SMALL).withColumnRenamed("nid", "doc_id")
        fused = rrf_fuse([lex, dense.filter(F.col("qid") == 0)]).collect()
        assert len(fused) == 10
        assert all(r["rrf_e9"] > 0 for r in fused)


class TestBM25Edges:
    def test_empty_corpus_returns_empty(self, spark):
        from classic_fcd_spark.operators.bm25 import bm25_topk

        empty = spark.createDataFrame([], "doc_id bigint, text string")
        out = bm25_topk(empty, [(0, ["anything"])])
        assert out.count() == 0
        assert out.columns == ["qid", "doc_id", "rnk", "score_e6"]

    def test_oracle_escapes_quoted_terms(self, spark):
        import duckdb

        from classic_fcd_spark.operators.bm25 import bm25_topk, duck_bm25_sql

        rows = [(0, "don't stop believing"), (1, "stop right there")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        qs = [(0, ["don't", "stop"])]
        got = sorted(
            (r["qid"], r["doc_id"], r["rnk"], r["score_e6"])
            for r in bm25_topk(df, qs).collect()
        )
        con = duckdb.connect()
        pdf = df.toPandas()  # noqa: F841 — bound into duckdb
        want = sorted(
            map(tuple, con.sql(duck_bm25_sql(qs, table="pdf")).fetchall())
        )
        assert got == want and len(got) == 2

    def test_empty_corpus_preserves_string_id_schema(self, spark):
        from classic_fcd_spark.operators.bm25 import bm25_topk

        empty = spark.createDataFrame([], "url string, text string")
        out = bm25_topk(empty, [(0, ["x"])], id_col="url")
        assert out.count() == 0
        assert dict(out.dtypes)["url"] == "string"

    def test_empty_query_list_returns_empty(self, spark):
        from classic_fcd_spark.operators.bm25 import bm25_topk

        df = spark.createDataFrame(ROWS, ["doc_id", "text"])
        out = bm25_topk(df, [])
        assert out.count() == 0
        assert out.columns == ["qid", "doc_id", "rnk", "score_e6"]

    def test_repeated_query_term_counts_once(self, spark):
        """Set-of-terms query semantics: a duplicated term must not
        double a doc's score — and the oracle must agree."""
        import duckdb

        from classic_fcd_spark.operators.bm25 import bm25_topk, duck_bm25_sql

        df = spark.createDataFrame(ROWS, ["doc_id", "text"])
        once = {
            (r["qid"], r["doc_id"]): r["score_e6"]
            for r in bm25_topk(df, [(0, ["shuffle"])]).collect()
        }
        twice = {
            (r["qid"], r["doc_id"]): r["score_e6"]
            for r in bm25_topk(df, [(0, ["shuffle", "shuffle"])]).collect()
        }
        assert once == twice and once
        con = duckdb.connect()
        pdf = df.toPandas()  # noqa: F841 — bound into duckdb
        want = {
            (r[0], r[1]): r[3]
            for r in con.sql(
                duck_bm25_sql([(0, ["shuffle", "shuffle"])], table="pdf")
            ).fetchall()
        }
        assert twice == want


def _spark_and_duck(spark, rows, queries):
    """(bm25_topk rows, duck_bm25_sql rows) over the same tiny corpus."""
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(map(tuple, bm25_topk(df, queries).collect()))
    con = duckdb.connect()
    pdf = df.toPandas()  # noqa: F841 — bound into duckdb
    want = sorted(map(tuple, con.sql(duck_bm25_sql(queries, table="pdf")).fetchall()))
    return got, want


class TestBM25QueryEdges:
    """Query shapes the bound query relation and the literal term
    filter must carry exactly as the oracle's quoted VALUES list does."""

    def test_quote_and_backslash_terms(self, spark):
        rows = ROWS + [
            (5, "it's a back\\slash path it's"),
            (6, "back\\slash and o'clock"),
            (7, "plain rows here"),
        ]
        qs = [(0, ["it's", "back\\slash"]), (1, ["o'clock", "rows"])]
        got, want = _spark_and_duck(spark, rows, qs)
        assert got == want
        assert {(q, d) for q, d, _, _ in got} >= {(0, 5), (0, 6), (1, 6)}

    def test_absent_terms(self, spark):
        """An absent term adds nothing to its query; a query whose terms
        are all absent has no rows."""
        qs = [(0, ["shuffle", "absentterm"]), (1, ["absentterm", "nothere"])]
        got, want = _spark_and_duck(spark, ROWS, qs)
        assert got == want
        alone, _ = _spark_and_duck(spark, ROWS, [(0, ["shuffle"])])
        assert got == alone and got


class TestRawPostingsPath:
    def test_streamed_postings_equal_the_silver_path(self, spark, tmp_path):
        """bm25_topk over raw read_postings output (no df column: the
        stream writes per-batch postings) ranks exactly like bm25_search
        over the df-carrying session silver."""
        import pyarrow.parquet as pq

        from classic_fcd_spark.queries.text import BM25_QUERIES, bm25_search
        from classic_fcd_spark.streaming.postings import (
            read_postings,
            run_postings_available_now,
        )

        docs = pq.read_table(f"{SF_SMALL}/documents.parquet")
        docs_dir = tmp_path / "docs"
        docs_dir.mkdir()
        half = docs.num_rows // 2
        pq.write_table(docs.slice(0, half), str(docs_dir / "part-0.parquet"))
        pq.write_table(docs.slice(half), str(docs_dir / "part-1.parquet"))
        post_dir = str(tmp_path / "postings")
        run_postings_available_now(
            spark, str(docs_dir), post_dir, str(tmp_path / "ck")
        )
        raw = read_postings(spark, post_dir)
        assert "df" not in raw.columns
        all_docs = spark.read.parquet(str(docs_dir))
        streamed = sorted(
            map(tuple, bm25_topk(all_docs, BM25_QUERIES, postings=raw).collect())
        )
        silver = sorted(map(tuple, bm25_search(spark, SF_SMALL).collect()))
        assert streamed == silver
        assert len(silver) == 40  # 4 queries x top-10


class TestBM25SearchOracle:
    """bm25_search left the driver window in r12 (slot rotated to
    hybrid_rrf_search, whose lexical arm runs the identical bm25_topk
    plan); this is its oracle gate now — the SAME DuckDB SQL that drove
    its green r6-r11 driver rows, at the driver's compare corpus
    (sf0.01)."""

    def test_query_matches_driver_oracle_at_sf001(self, spark):
        from classic_fcd_spark.queries.text import (
            BM25_SEARCH_ORACLE_SQL,
            bm25_search,
        )

        sf = "/root/testdata/sf0.01"
        got = sorted(tuple(r) for r in bm25_search(spark, sf).collect())
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf}/documents.parquet')"
        )
        want = sorted(
            tuple(r) for r in con.sql(BM25_SEARCH_ORACLE_SQL).fetchall()
        )
        assert got == want
        assert len(got) == 40  # 4 queries x top-10
