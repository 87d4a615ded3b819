"""In-test DuckDB gates for the r7 slot rotation — the two queries that
left the 50-row driver window (token_stats_by_source,
embedding_similar_pairs) keep their exact oracles here (the
TestCumulativeRewardsOracle pattern), and the two promotions
(trigram_lm_scores, quality_logit_scores) get pre-driver equivalence
pins at BOTH shipped SFs so a driver mismatch would be caught locally
first.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL

SF_MID = "/root/testdata/sf0.01"


def _con(sf_dir: str, *tables: str):
    con = duckdb.connect()
    for t in tables:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


class TestTextFeaturesOracle:
    """text_features left the driver window in r10 (slot rotated to
    simhash_near_dups); same oracle SQL that drove its green r2-r9
    driver rows.  The scan-speed projection pattern stays driver-gated
    via quality_logit_scores."""

    def test_matches_duckdb_oracle(self, spark):
        from classic_fcd_spark.queries.text import (
            TEXT_FEATURES_ORACLE_SQL,
            text_features,
        )

        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["uniq_ratio"],
                r["stop_ratio"],
                r["mean_token_len"],
                r["quality"],
                r["pred_lang"],
                r["is_correct"],
                r["fingerprint"],
                r["meta_consistent"],
            )
            for r in text_features(spark, SF_SMALL).collect()
        }
        con = _con(SF_SMALL, "documents")
        want = {r[0]: tuple(r[1:]) for r in con.sql(TEXT_FEATURES_ORACLE_SQL).fetchall()}
        assert got == want
        assert len(got) == 500


class TestTokenStatsOracle:
    """token_stats_by_source left the driver window in r7 (slot rotated
    to trigram_lm_scores); same oracle SQL that drove its green r2-r6
    driver rows.  The tokenize+groupBy pattern stays driver-gated via
    quality_logit_scores (text_features itself rotated out in r10)."""

    def test_matches_duckdb_oracle(self, spark):
        from classic_fcd_spark.queries.text import (
            TOKEN_STATS_ORACLE_SQL,
            token_stats_by_source,
        )

        got = {
            r["source"]: (
                r["n_docs"],
                r["total_ws_tokens"],
                r["total_re_tokens"],
                r["vocab_size"],
            )
            for r in token_stats_by_source(spark, SF_SMALL).collect()
        }
        con = _con(SF_SMALL, "documents")
        want = {
            r[0]: (r[1], r[2], r[3], r[4])
            for r in con.sql(TOKEN_STATS_ORACLE_SQL).fetchall()
        }
        assert got == want
        assert len(got) == 20  # one row per source


class TestEmbeddingSimilarPairsOracle:
    """embedding_similar_pairs left the driver window in r7 (slot
    rotated to quality_logit_scores); same banded-LSH oracle that drove
    its green r2-r6 driver rows.  The banding discipline stays
    driver-gated via ann_search / minhash_lsh_near_dups."""

    def test_matches_duckdb_oracle(self, spark):
        from classic_fcd_spark.queries.similarity import (
            EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL,
            embedding_similar_pairs,
        )

        got = {
            (r["i"], r["j"]): r["cos_e6"]
            for r in embedding_similar_pairs(spark, SF_SMALL).collect()
        }
        con = _con(SF_SMALL, "embeddings")
        want = {
            (r[0], r[1]): r[2]
            for r in con.sql(EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL).fetchall()
        }
        assert got == want and len(got) > 0


class TestTrigramLmScoresGate:
    """The r7 promotion: the log-free trigram probability scorer must be
    value-identical to its static DuckDB oracle at both shipped SFs
    (bit-exact rational arithmetic — no libm on either side)."""

    def _check(self, spark, sf):
        from classic_fcd_spark.queries.registry import QUERIES, _load_all

        _load_all()
        qd = QUERIES["trigram_lm_scores"]
        got = {
            r["doc_id"]: (r["n_tokens"], r["sum_p_e9"])
            for r in qd.fn(spark, sf).collect()
        }
        con = _con(sf, "documents")
        want = {
            r[0]: (r[1], r[2]) for r in con.sql(qd.oracle).fetchall()
        }
        assert got == want
        assert len(got) == 500

    def test_sf0001(self, spark):
        self._check(spark, SF_SMALL)

    def test_sf001(self, spark):
        self._check(spark, SF_MID)

    def test_nll_and_prob_orderings_agree(self, spark):
        """-log is monotone: at equal n_tokens, higher sum_p_e9 must
        never pair with higher sum_nll_e6 (the gated form really does
        stand in for an NLL scorer; the NLL side is the pure-Python
        trigram reference of tests/test_lm.py)."""
        from classic_fcd_spark.operators.lm import (
            fit_trigram_prob_model,
            score_trigram_prob,
        )
        from classic_fcd_spark.session import load_tables
        from tests.test_lm import ref_trigram_nll

        docs = load_tables(spark, SF_SMALL)["documents"]
        model = docs.filter(F.col("source") == "src0")
        rows = [(r["doc_id"], r["text"], r["source"]) for r in docs.collect()]
        # mean-normalize both so unequal doc lengths compare fairly
        nll = {
            i: s / n
            for i, (n, s, _) in ref_trigram_nll(
                [(i, t) for i, t, _ in rows],
                [(i, t) for i, t, src in rows if src == "src0"],
            ).items()
        }
        prob = {
            r["doc_id"]: r["sum_p_e9"] / r["n_tokens"]
            for r in score_trigram_prob(docs, fit_trigram_prob_model(model)).collect()
        }
        ids = sorted(nll)
        by_nll = sorted(ids, key=lambda d: nll[d])[:50]
        by_prob = sorted(ids, key=lambda d: -prob[d])[:50]
        # not literally identical (mean-of-p vs mean-of-log-p), but the
        # two top-50 sets must overlap heavily on this corpus
        assert len(set(by_nll) & set(by_prob)) >= 35


class TestQualityLogitScoresGate:
    """The r7 promotion: the pinned-weight linear quality logit must be
    value-identical to its DuckDB oracle at both shipped SFs, and the
    sigmoid-threshold semantics must transfer (monotone)."""

    def _check(self, spark, sf):
        from classic_fcd_spark.queries.registry import QUERIES, _load_all

        _load_all()
        qd = QUERIES["quality_logit_scores"]
        got = {
            r["doc_id"]: r["logit_e6"] for r in qd.fn(spark, sf).collect()
        }
        con = _con(sf, "documents")
        want = {r[0]: r[1] for r in con.sql(qd.oracle).fetchall()}
        assert got == want
        assert len(got) == 500

    def test_sf0001(self, spark):
        self._check(spark, SF_SMALL)

    def test_sf001(self, spark):
        self._check(spark, SF_MID)

    def test_matches_sigmoid_scorer_ordering(self, spark):
        from classic_fcd_spark.functions.text import linear_quality_score
        from classic_fcd_spark.queries.registry import QUERIES, _load_all
        from classic_fcd_spark.queries.text import QUALITY_WEIGHTS
        from classic_fcd_spark.session import load_tables

        _load_all()
        docs = load_tables(spark, SF_SMALL)["documents"]
        logits = {
            r["doc_id"]: r["logit_e6"]
            for r in QUERIES["quality_logit_scores"].fn(spark, SF_SMALL).collect()
        }
        scores = {
            r["doc_id"]: r["s"]
            for r in docs.select(
                "doc_id",
                linear_quality_score("text", QUALITY_WEIGHTS).alias("s"),
            ).collect()
        }
        ids = sorted(logits)
        rank_l = sorted(ids, key=lambda d: logits[d])
        rank_s = sorted(ids, key=lambda d: scores[d])
        # sigmoid is strictly monotone: orderings agree except where the
        # e6 floor ties logits that the float sigmoid still separates
        for a, b in zip(rank_l, rank_s):
            if a != b:
                assert logits[a] == logits[b]
