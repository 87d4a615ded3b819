"""CCNet-style LM perplexity scoring (operators/lm.py): DuckDB-oracle
equivalence, planted in/out-of-domain separation, the
head/middle/tail bucketing contract, and the log-free trigram scorer
against a pure-Python reference.
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
from pyspark.sql import functions as F

from classic_fcd_spark.operators.lm import (
    ccnet_buckets,
    duck_unigram_nll_sql,
    unigram_nll_scores,
)
from tests.conftest import SF_SMALL


class TestNLLOracle:
    def test_matches_duckdb_on_documents(self, spark, tables):
        docs = tables["documents"]
        model = docs.filter(F.col("source") == "src0")
        got = {
            r["doc_id"]: (r["n_tokens"], r["sum_nll_e6"], r["mean_nll_e6"])
            for r in unigram_nll_scores(docs, model).collect()
        }
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/documents.parquet')"
        )
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in con.sql(duck_unigram_nll_sql()).fetchall()
        }
        assert got == want
        assert len(got) == 500


class TestPlantedSeparation:
    def test_in_domain_beats_out_of_domain(self, spark):
        model_rows = [(100 + i, "the cat sat on the mat " * 3) for i in range(4)]
        probe = [
            (0, "the cat sat on the mat"),  # in-domain
            (1, "zebra quark flux bogon lorem ipsum"),  # all unseen
        ]
        docs = spark.createDataFrame(model_rows + probe, ["doc_id", "text"])
        model = docs.filter(F.col("doc_id") >= 100)
        out = {
            r["doc_id"]: r["mean_nll_e6"]
            for r in unigram_nll_scores(docs, model).collect()
        }
        assert out[0] < out[1]

    def test_scores_are_length_invariant_for_repeated_text(self, spark):
        # mean NLL of "x y" == mean NLL of "x y x y" (same distribution)
        docs = spark.createDataFrame(
            [(0, "alpha beta"), (1, "alpha beta alpha beta"), (2, "alpha beta")],
            ["doc_id", "text"],
        )
        out = {
            r["doc_id"]: r["mean_nll_e6"]
            for r in unigram_nll_scores(docs, docs).collect()
        }
        assert out[0] == out[1]


class TestNLLOracleLiterals:
    def test_embedded_model_literals_match_duckdb_recompute(self, spark, tables):
        """The libm-independent oracle form: the driver-fitted model
        embedded as integer literals must agree with both the Spark
        scorer and (at this scale) DuckDB's own ln recompute."""
        from classic_fcd_spark.operators.lm import unigram_model_e6

        docs = tables["documents"]
        model = docs.filter(F.col("source") == "src0")
        got = {
            r["doc_id"]: (r["n_tokens"], r["sum_nll_e6"], r["mean_nll_e6"])
            for r in unigram_nll_scores(docs, model).collect()
        }
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/documents.parquet')"
        )
        lit_sql = duck_unigram_nll_sql(model_e6=unigram_model_e6(model))
        want = {
            r[0]: (r[1], r[2], r[3]) for r in con.sql(lit_sql).fetchall()
        }
        assert got == want
        assert len(got) == 500


class TestCCNetBuckets:
    def test_buckets_partition_and_order(self, spark, tables):
        docs = tables["documents"]
        model = docs.filter(F.col("source") == "src0")
        rows = ccnet_buckets(docs, model).collect()
        assert len(rows) == 500
        by_bucket = {}
        for r in rows:
            by_bucket.setdefault(r["bucket"], []).append(r["mean_nll_e6"])
        assert set(by_bucket) == {"head", "middle", "tail"}
        # thresholds are percentile cuts: head <= middle <= tail ranges
        assert max(by_bucket["head"]) <= min(by_bucket["tail"])
        assert max(by_bucket["head"]) <= min(by_bucket["middle"])
        assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
        # roughly thirds (sketch rank error + integer ties allow slack)
        assert 100 <= len(by_bucket["head"]) <= 233
        assert 100 <= len(by_bucket["tail"]) <= 233

    def test_empty_corpus_returns_empty_with_schema(self, spark):
        empty = spark.createDataFrame([], "doc_id bigint, text string")
        model = spark.createDataFrame([(0, "some model text")], ["doc_id", "text"])
        out = ccnet_buckets(empty, model)
        assert out.count() == 0
        assert out.columns == ["doc_id", "n_tokens", "mean_nll_e6", "bucket"]


def _bucket(tok: str, buckets: int) -> int:
    return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % buckets


def _toks(text: str) -> list[str]:
    # the engine's split(trim(text), ' +'): spaces only, "" -> [""]
    return re.split(" +", text.strip(" "))


def _trigram_counts(model_docs, buckets):
    uni, pair, ctx, tri, trictx = {}, {}, {}, {}, {}
    total = 0
    for _, t in model_docs:
        bs = [_bucket(x, buckets) for x in _toks(t)]
        for b in bs:
            uni[b] = uni.get(b, 0) + 1
            total += 1
        for c, w in zip(bs, bs[1:]):
            pair[(c, w)] = pair.get((c, w), 0) + 1
            ctx[c] = ctx.get(c, 0) + 1
        for c1, c2, w in zip(bs, bs[1:], bs[2:]):
            tri[(c1, c2, w)] = tri.get((c1, c2, w), 0) + 1
            trictx[(c1, c2)] = trictx.get((c1, c2), 0) + 1
    return uni, pair, ctx, tri, trictx, total


def ref_trigram_nll(docs, model_docs, buckets=256, lams=(0.2, 0.3, 0.5)):
    """{id: (n_tokens, sum_nll_e6, mean_nll_e6)} under the interpolated
    hashed-trigram LM, pure Python: per token -ln(p) floored to e6,
    with p mixed exactly as the engine's log-free scorer mixes it."""
    l1, l2, l3 = lams
    uni, pair, ctx, tri, trictx, total = _trigram_counts(model_docs, buckets)
    lp_uni = {
        b: math.log((uni.get(b, 0) + 1) / float(total + buckets))
        for b in range(buckets)
    }
    out = {}
    for i, t in docs:
        bs = [_bucket(x, buckets) for x in _toks(t)]
        s = math.floor(-lp_uni[bs[0]] * 1e6)
        if len(bs) >= 2:
            c, w = bs[0], bs[1]
            pb = (pair.get((c, w), 0) + 1) / (ctx.get(c, 0) + float(buckets))
            pu = math.exp(lp_uni[w])
            s += math.floor(-math.log((l2 + l3) * pb + l1 * pu) * 1e6)
        for c1, c2, w in zip(bs, bs[1:], bs[2:]):
            p3 = (tri.get((c1, c2, w), 0) + 1) / (
                trictx.get((c1, c2), 0) + float(buckets)
            )
            pb = (pair.get((c2, w), 0) + 1) / (ctx.get(c2, 0) + float(buckets))
            pu = math.exp(lp_uni[w])
            s += math.floor(-math.log(l3 * p3 + l2 * pb + l1 * pu) * 1e6)
        out[i] = (len(bs), s, s // len(bs))
    return out


def _ref_trigram_prob(docs, model_docs, buckets=256, lams=(0.2, 0.3, 0.5)):
    """{id: (n_tokens, sum_p_e9)}: the log-free scorer's arithmetic in
    the engine's association order (TrigramProbModel docstring)."""
    l1, l2, l3 = lams
    l23 = l2 + l3
    bf = float(buckets)
    uni, pair, ctx, tri, trictx, total = _trigram_counts(model_docs, buckets)
    ut = float(total) + bf
    out = {}
    for i, t in docs:
        bs = [_bucket(x, buckets) for x in _toks(t)]
        s = 0
        for k, w in enumerate(bs):
            pu = (uni.get(w, 0) + 1.0) / ut
            if k == 0:
                p = pu
            else:
                c2 = bs[k - 1]
                pb = (pair.get((c2, w), 0) + 1.0) / (ctx.get(c2, 0) + bf)
                if k == 1:
                    p = (l23 * pb) + (l1 * pu)
                else:
                    c1 = bs[k - 2]
                    p3 = (tri.get((c1, c2, w), 0) + 1.0) / (trictx.get((c1, c2), 0) + bf)
                    p = ((l3 * p3) + (l2 * pb)) + (l1 * pu)
            s += math.floor(p * 1000000000.0)
        out[i] = (len(bs), s)
    return out


def _prob_scores(docs, model_docs) -> dict:
    from classic_fcd_spark.operators.lm import fit_trigram_prob_model, score_trigram_prob

    model = fit_trigram_prob_model(model_docs)
    return {
        r["doc_id"]: (r["n_tokens"], r["sum_p_e9"])
        for r in score_trigram_prob(docs, model).collect()
    }


class TestBigramLM:
    """Order-aware LM contracts, checked on the log-free trigram scorer
    (fit_trigram_prob_model + score_trigram_prob): higher sum_p_e9 is
    the better-scoring doc."""

    def test_trigram_matches_python_reference(self, spark):
        model = [(100 + i, "the cat sat on the mat while the dog ran") for i in range(3)]
        probe = [
            (0, "the cat sat on the mat"),
            (1, "mat the on sat cat the"),
            (2, "completely novel words here"),
            (3, "xy"),          # order-1 edge: single token
            (4, "xy zq"),       # order-2 edge: exactly two tokens
        ]
        docs = spark.createDataFrame(model + probe, ["doc_id", "text"])
        got = _prob_scores(docs, docs.filter(F.col("doc_id") >= 100))
        assert got == _ref_trigram_prob(model + probe, model)
        # scrambled-doc ordering pin: same bag of words, broken order ->
        # strictly lower probability under the order-aware model
        assert got[0][1] > got[1][1]

    def test_trigram_discriminates_where_bigram_ties(self, spark):
        """The order-3 payoff: probes with IDENTICAL bigram statistics
        but different trigrams.  Model sees 'x y z' and 'w y q' equally
        often, so (y,z) and (y,q) have equal pair counts; probe 'x y z'
        is a seen trigram, 'x y q' is not — a bigram model ties, the
        trigram scorer separates them."""
        model = [(100, "x y z"), (101, "w y q"), (102, "x y z"), (103, "w y q")]
        probe = [(0, "x y z"), (1, "x y q")]
        docs = spark.createDataFrame(model + probe, ["doc_id", "text"])
        tri = _prob_scores(docs, docs.filter(F.col("doc_id") >= 100))
        assert tri[0][1] > tri[1][1]  # order-3 sees it

    def test_word_order_sensitivity(self, spark):
        """The whole point over the unigram model: a scrambled doc has
        the SAME bag of words (identical unigram NLL) but a lower
        trigram probability."""
        model = [(100 + i, "the cat sat on the mat") for i in range(4)]
        probe = [(0, "the cat sat on the mat"), (1, "mat the on sat cat the")]
        docs = spark.createDataFrame(model + probe, ["doc_id", "text"])
        mdocs = docs.filter(F.col("doc_id") >= 100)
        uni = {
            r["doc_id"]: r["mean_nll_e6"]
            for r in unigram_nll_scores(docs, mdocs).collect()
        }
        tri = _prob_scores(docs, mdocs)
        assert uni[0] == uni[1]  # bag-of-words blind
        assert tri[0][1] > tri[1][1]  # order-aware


class TestTrigramModelSaveLoad:
    """Fit/score contracts of the trigram probability model."""

    def test_null_and_empty_text_docs_emit_no_rows(self, spark):
        """NULL-text docs must not score via a phantom smoothed token —
        the oracle's token CTE emits no rows for them."""
        docs = spark.createDataFrame(
            [(1, "a b c d"), (2, None), (3, "x y")],
            "doc_id bigint, text string",
        )
        assert set(_prob_scores(docs, docs)) == {1, 3}
