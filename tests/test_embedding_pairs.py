"""embedding_similar_pairs against EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL on
both dispatch arms: the 5-copy clone corpus (the collapse arm, cold and
warm), blocks
split into many tiles, and corpora holding a zero vector once and
twice.  Plus the query's warm job budget.
"""

from __future__ import annotations

import functools
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMALL


@functools.cache  # the DuckDB oracle takes ~20 s on the clone corpus
def _oracle(sf_dir: str) -> frozenset:
    from classic_fcd_spark.queries.similarity import EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{os.path.join(sf_dir, 'embeddings.parquet')}')"
    )
    return frozenset(map(tuple, con.sql(EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL).fetchall()))


def _check(spark, sf_dir: str, max_m: int) -> list:
    from classic_fcd_spark.queries.similarity import embedding_similar_pairs
    from classic_fcd_spark.session import embedding_stats

    assert embedding_stats(spark, sf_dir)[2] == max_m  # the arm under test
    rows = [tuple(r) for r in embedding_similar_pairs(spark, sf_dir).collect()]
    assert len(rows) == len(set(rows)), "duplicate output rows"
    want = _oracle(sf_dir)
    assert want, "corpus must contain threshold pairs"
    assert set(rows) == want
    return rows


def _write_embeddings(d: str, table: pa.Table) -> str:
    os.makedirs(d, exist_ok=True)
    pq.write_table(table, os.path.join(d, "embeddings.parquet"))
    return d


@pytest.fixture(scope="module")
def small_embeddings() -> pa.Table:
    return pq.read_table(os.path.join(SF_SMALL, "embeddings.parquet"))


@pytest.fixture(scope="module")
def clone_dir(tmp_path_factory, small_embeddings):
    """Five copies of the sf0.001 vectors under disjoint ids: every
    vector has multiplicity 5, so the collapse arm and its member
    expansion (cross-group and within-group pairs) run."""
    parts = []
    for c in range(5):
        ee = small_embeddings.to_pydict()
        ee["vec_id"] = [int(x) + c * 10_000_000 for x in ee["vec_id"]]
        parts.append(pa.table(ee, schema=small_embeddings.schema))
    d = str(tmp_path_factory.mktemp("emb_clones"))
    return _write_embeddings(d, pa.concat_tables(parts))


def _with_zero_vectors(tmp_path_factory, emb: pa.Table, copies: int):
    """(corpus dir, ids of the added zero vectors)."""
    ee = emb.to_pydict()
    dim = len(ee["embedding"][0])
    zero_ids = [max(ee["vec_id"]) + 1 + c for c in range(copies)]
    ee["vec_id"] += zero_ids
    ee["embedding"] += [[0.0] * dim] * copies
    ee["label"] += [0] * copies
    d = str(tmp_path_factory.mktemp(f"emb_zero{copies}"))
    return _write_embeddings(d, pa.table(ee, schema=emb.schema)), set(zero_ids)


class TestEmbeddingPairsOracle:
    # the duplicate-free arm at the default TILE is checked against the
    # same oracle by tests/test_text_queries.py
    def test_collapse_arm(self, spark, clone_dir):
        cold = _check(spark, clone_dir, max_m=5)
        # the warm call reads the memoized groups silver
        assert sorted(_check(spark, clone_dir, max_m=5)) == sorted(cold)

    @pytest.mark.parametrize("corpus", ["small", "clones"])
    def test_many_tiles(self, spark, monkeypatch, clone_dir, corpus):
        """TILE = 64 splits the 500 distinct vectors into 8 tiles, so
        off-diagonal blocks, whose pairs come in either id order, carry
        most of the output."""
        from classic_fcd_spark.operators import similarity

        monkeypatch.setattr(similarity, "TILE", 64)
        if corpus == "small":
            _check(spark, SF_SMALL, max_m=1)
        else:
            _check(spark, clone_dir, max_m=5)


class TestZeroVectorContract:
    """A zero vector's cosine is 0/0: NaN in the kernel, NULL in
    DuckDB.  Neither passes the threshold, so it is in no pair, in
    either arm (SCALE.md)."""

    @pytest.mark.parametrize("copies,max_m", [(1, 1), (2, 2)])
    def test_zero_vector_is_in_no_pair(
        self, spark, tmp_path_factory, small_embeddings, copies, max_m
    ):
        d, zero_ids = _with_zero_vectors(tmp_path_factory, small_embeddings, copies)
        for i, j, _ in _check(spark, d, max_m=max_m):
            assert i not in zero_ids and j not in zero_ids


class TestJobBudget:
    def test_warm_call_runs_at_most_two_jobs(self, spark):
        """A warm call on a duplicate-free corpus is one shuffle: the
        tile-pair exchange and the kernel stage."""
        from classic_fcd_spark.queries.similarity import embedding_similar_pairs

        embedding_similar_pairs(spark, SF_SMALL).collect()  # fills the stats memo
        sc = spark.sparkContext
        group = "test_embedding_pairs:budget"
        sc.setJobGroup(group, "warm embedding_similar_pairs")
        try:
            embedding_similar_pairs(spark, SF_SMALL).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        assert 0 < len(jobs) <= 2, jobs
