"""Product-quantization contracts (operators/similarity.pq_encode and the
registered ann_pq_search arm).

The gate is an independent numpy reference: encoding must match exact
nearest-sub-centroid assignment on the pinned codebook ann_pq_search
uses, the ADC ranking must equal the numpy table-lookup ranking, and
codes must keep the cluster identity of tight planted clusters."""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from tests.conftest import SF_SMALL

_M, _KS = 8, 16


def _np_encode(vecs: np.ndarray, books: list[list[list[float]]]) -> np.ndarray:
    m = len(books)
    dsub = len(books[0][0])
    codes = np.zeros((len(vecs), m), dtype=np.int64)
    for j in range(m):
        sub = vecs[:, j * dsub : (j + 1) * dsub]
        cents = np.array(books[j])  # ks x dsub
        d = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        codes[:, j] = d.argmin(axis=1)
    return codes


def _split(cents: list[list[float]], m: int) -> list[list[list[float]]]:
    """Sub-codebook j = the j-th dsub-slice of every centroid."""
    dsub = len(cents[0]) // m
    return [
        [[float(x) for x in c[j * dsub : (j + 1) * dsub]] for c in cents]
        for j in range(m)
    ]


class TestPQ:
    @pytest.fixture(scope="class")
    def pinned(self, spark):
        from classic_fcd_spark.operators.similarity import pq_encode
        from classic_fcd_spark.session import embedding_codebook, load_tables

        emb = load_tables(spark, SF_SMALL)["embeddings"]
        books = _split(embedding_codebook(spark, SF_SMALL, _KS), _M)
        codes = {
            r["vec_id"]: list(r["codes"])
            for r in pq_encode(emb, books).collect()
        }
        vecs = {
            r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()
        }
        return books, codes, vecs

    def test_codebook_shape(self, spark, pinned):
        """The pinned codebook is the first ks corpus vectors in vec_id
        order (what PQ_ORACLE_SQL's `vec_id < ks` rebuilds), split into
        M sub-codebooks of ks dsub-length centroids."""
        books, _, vecs = pinned
        assert len(books) == _M
        assert all(len(b) == _KS for b in books)
        assert all(len(c) == 8 for b in books for c in b)
        for cid in range(_KS):
            joined = [x for j in range(_M) for x in books[j][cid]]
            assert joined == list(vecs[cid]), cid

    def test_encode_matches_numpy_reference(self, pinned):
        books, codes, vecs = pinned
        ids = sorted(vecs)
        ref = _np_encode(np.stack([vecs[i] for i in ids]), books)
        for row, i in enumerate(ids):
            assert codes[i] == list(ref[row]), (i, codes[i], list(ref[row]))

    def test_adc_scores_match_numpy(self, spark, pinned):
        """ann_pq_search ranks by the sum of e6-floored per-subspace
        table lookups; the numpy table-lookup ranking over the same
        codes must pick the same neighbours in the same order."""
        from classic_fcd_spark.queries.similarity import (
            _N_QUERIES,
            _TOP_K,
            ann_pq_search,
        )

        books, codes, vecs = pinned
        got: dict[int, list[int]] = {}
        for r in sorted(ann_pq_search(spark, SF_SMALL).collect(), key=lambda r: r["rnk"]):
            got.setdefault(r["qid"], []).append(r["nid"])
        m, dsub = len(books), len(books[0][0])

        def sqdist(a, b):  # left-to-right, like the engine's fold
            acc = 0.0
            for x, y in zip(a, b):
                acc += (float(x) - y) * (float(x) - y)
            return acc

        for qid in range(_N_QUERIES):
            q = vecs[qid]
            tab = [
                [math.floor(sqdist(q[j * dsub : (j + 1) * dsub], c) * 1e6) for c in books[j]]
                for j in range(m)
            ]
            adist = {
                nid: sum(tab[j][code[j]] for j in range(m))
                for nid, code in codes.items()
                if nid != qid
            }
            want = sorted(adist, key=lambda n: (adist[n], n))[:_TOP_K]
            assert got[qid] == want, (qid, got[qid], want)

    def test_planted_clusters_recall(self, spark):
        """Tight planted clusters: with one member of each cluster as the
        codebook, every vector's codes name its own cluster in every
        subspace — the information that matters (which cluster)
        survives the 32x compression, so ADC top-k recovers
        same-cluster neighbours."""
        from classic_fcd_spark.operators.similarity import pq_encode

        rng = random.Random(11)
        dim, n_clusters, per = 64, 5, 12
        rows = []
        for c in range(n_clusters):
            center = [rng.uniform(-1, 1) for _ in range(dim)]
            for k in range(per):
                v = [x + rng.uniform(-0.02, 0.02) for x in center]
                rows.append((c * per + k, c, v))
        emb = spark.createDataFrame(rows, ["vec_id", "truth", "embedding"])
        books = _split([rows[c * per][2] for c in range(n_clusters)], _M)
        codes = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb, books).collect()}
        truth_of = {r[0]: r[1] for r in rows}
        hits = sum(1 for i, cs in codes.items() if cs == [truth_of[i]] * _M)
        assert len(codes) == len(rows)
        assert hits / len(codes) >= 0.95, hits / len(codes)
