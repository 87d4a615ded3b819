"""Duplicate-mass dispatch contracts (r15, VERDICT r14 item 3).

The r14 collapse (band + verify once per DISTINCT shingle set) is a pure
performance rewrite; r15 gates it on corpus-level duplicate mass so
honest corpora keep the pre-collapse direct plan.  Gates:

1. collapse_pays_off arithmetic: the n_dup_docs * max_m bound engages
   exactly at COLLAPSE_DUP_MASS.
2. shingle_stats: exact (n_docs, n_distinct, max_m) on a planted-clone
   corpus, cached per (session, corpus).
3. Branch equivalence — the load-bearing gate: on a corpus ABOVE the
   threshold (dispatch -> collapse) the registered minhash and
   incremental queries must emit the exact pair set the direct
   formulation computes; on the sf testdata (below threshold, dispatch
   -> direct) they must emit the exact pair set the collapse
   formulation computes.  Both directions, so neither branch can rot
   unexercised.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

# 3 distinct documents x 200 copies: n=600, distinct=3, max_m=200,
# mass = 597 * 200 = 119,400 > COLLAPSE_DUP_MASS (65,536) -> collapse.
_N_COPIES = 200
_TEXTS = [
    "alpha beta gamma delta epsilon zeta",
    "one two three four five six seven",
    "red green blue yellow purple orange",
]


@pytest.fixture(scope="module")
def clone_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("clone_corpus")
    doc_ids, texts = [], []
    for c in range(_N_COPIES):
        for t_i, t in enumerate(_TEXTS):
            doc_ids.append(c * 10 + t_i)
            texts.append(t)
    tbl = pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "text": texts})
    pq.write_table(tbl, os.path.join(str(d), "documents.parquet"))
    return str(d)


def _direct_minhash(spark, sf_dir):
    from classic_fcd_spark.operators.dedup import jaccard_pairs, lsh_candidate_pairs
    from classic_fcd_spark.session import shingle_table

    sh = shingle_table(spark, sf_dir).select("doc_id", "shingles")
    cand = lsh_candidate_pairs(sh, "doc_id", "shingles")
    return jaccard_pairs(cand, sh, "doc_id", "shingles").filter(
        F.col("jaccard") >= 0.8
    )


def _pair_set(df, a="i", b="j"):
    return {
        (r[a], r[b], r["inter"], r["uni"], round(r["jaccard"], 9))
        for r in df.collect()
    }


class TestDispatchArithmetic:
    def test_collapse_pays_off_boundary(self):
        from classic_fcd_spark.operators.dedup import (
            COLLAPSE_DUP_MASS,
            collapse_pays_off,
        )

        # dup-free corpus never collapses, whatever its size
        assert not collapse_pays_off(10**9, 10**9, 1)
        # exactly at the threshold: direct (strict >).  mass =
        # (n_docs - n_distinct) * max_m
        half = COLLAPSE_DUP_MASS // 2
        assert not collapse_pays_off(half + half, half, 2)  # mass == threshold
        assert collapse_pays_off(half + half + 1, half, 2)  # one past
        # the sf0.1 planted mass (8 dup docs, m=2) stays direct
        assert not collapse_pays_off(5000, 4992, 2)
        # a clone corpus collapses
        assert collapse_pays_off(500_000, 5_000, 100)

    def test_shingle_stats_exact_and_cached(self, spark, clone_dir):
        from classic_fcd_spark import session as sess

        stats = sess.shingle_stats(spark, clone_dir)
        assert stats == (len(_TEXTS) * _N_COPIES, len(_TEXTS), _N_COPIES)
        assert sess.shingle_stats(spark, clone_dir) is stats


class TestBranchEquivalence:
    def test_minhash_collapse_branch_equals_direct(self, spark, clone_dir):
        from classic_fcd_spark.operators.dedup import collapse_pays_off
        from classic_fcd_spark.queries.dedup import minhash_lsh_near_dups
        from classic_fcd_spark.session import shingle_stats

        assert collapse_pays_off(*shingle_stats(spark, clone_dir))
        got = _pair_set(minhash_lsh_near_dups(spark, clone_dir))
        want = _pair_set(_direct_minhash(spark, clone_dir))
        assert got == want
        # sanity: the clone corpus actually has intra-group pairs
        import math

        assert len(got) == len(_TEXTS) * math.comb(_N_COPIES, 2)

    def test_minhash_direct_branch_equals_collapse(self, spark):
        from classic_fcd_spark.operators.dedup import (
            collapse_by_shingles,
            collapse_pays_off,
            jaccard_pairs,
            lsh_candidate_pairs,
        )
        from classic_fcd_spark.queries.dedup import minhash_lsh_near_dups
        from classic_fcd_spark.session import shingle_stats, shingle_table

        assert not collapse_pays_off(*shingle_stats(spark, SF_SMALL))
        got = _pair_set(minhash_lsh_near_dups(spark, SF_SMALL))
        # collapse formulation, spelled out (the query's other branch)
        sh = shingle_table(spark, SF_SMALL).select("doc_id", "shingles")
        groups = collapse_by_shingles(sh, "doc_id", "shingles").persist()
        reps = groups.select(F.col("rid").alias("doc_id"), "shingles")
        cand = lsh_candidate_pairs(reps, "doc_id", "shingles")
        rep_pairs = jaccard_pairs(cand, reps, "doc_id", "shingles").filter(
            F.col("jaccard") >= 0.8
        )
        mi = groups.select(F.col("rid").alias("i"), F.col("members").alias("mi"))
        mj = groups.select(F.col("rid").alias("j"), F.col("members").alias("mj"))
        cross = (
            rep_pairs.join(mi, "i")
            .join(mj, "j")
            .select("inter", "uni", "jaccard", F.explode("mi").alias("a"), "mj")
            .select("inter", "uni", "jaccard", "a", F.explode("mj").alias("b"))
            .select(
                F.least("a", "b").alias("i"),
                F.greatest("a", "b").alias("j"),
                "inter",
                "uni",
                "jaccard",
            )
        )
        n = F.size("shingles").cast("long")
        intra = (
            groups.filter((F.col("m") >= 2) & (F.size("shingles") > 0))
            .select(
                n.alias("inter"),
                n.alias("uni"),
                (n.cast("double") / n.cast("double")).alias("jaccard"),
                "members",
            )
            .select(
                "inter", "uni", "jaccard", F.explode("members").alias("i"), "members"
            )
            .select("inter", "uni", "jaccard", "i", F.explode("members").alias("j"))
            .filter(F.col("i") < F.col("j"))
            .select("i", "j", "inter", "uni", "jaccard")
        )
        want = _pair_set(cross.unionByName(intra))
        groups.unpersist()
        assert got == want

    def test_incremental_collapse_branch_equals_direct(self, spark, clone_dir):
        from classic_fcd_spark.operators.dedup import (
            banded_signatures,
            incremental_near_dups,
        )
        from classic_fcd_spark.queries.dedup import incremental_dedup
        from classic_fcd_spark.session import shingle_table

        got = _pair_set(incremental_dedup(spark, clone_dir), "new_id", "dup_of")
        # direct formulation across the same max/2 split
        from classic_fcd_spark.session import load_tables

        docs = load_tables(spark, clone_dir)["documents"]
        split = docs.agg(F.expr("max(doc_id) div 2")).collect()[0][0]
        sh = shingle_table(spark, clone_dir).select("doc_id", "shingles")
        index_docs = sh.filter(F.col("doc_id") < split)
        new_docs = sh.filter(F.col("doc_id") >= split)
        banded = banded_signatures(index_docs, "doc_id", "shingles")
        want = _pair_set(
            incremental_near_dups(new_docs, banded, index_docs, "doc_id", "shingles"),
            "new_id",
            "dup_of",
        )
        assert got == want and len(got) > 0
