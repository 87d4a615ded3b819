"""Property tests for the dedup/similarity operators at sf0.001.

The exact-value oracle lives in scripts/check_correctness.py; these pin
the *relationships* the operators must satisfy (LSH ⊆ recall of exact,
signature determinism) on the small tables.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _pairs(df):
    return {(r["i"], r["j"]) for r in df.collect()}


class TestDedup:
    def test_lsh_finds_exact_jaccard_pairs(self, spark):
        from classic_fcd_spark.queries import query_fn_map
        from classic_fcd_spark.queries.dedup import ngram_jaccard_pairs

        qmap = query_fn_map()
        exact = _pairs(ngram_jaccard_pairs(spark, SF_SMALL))
        lsh = _pairs(qmap["minhash_lsh_near_dups"](spark, SF_SMALL))
        # LSH candidates are verified with the same exact Jaccard, so
        # lsh ⊆ exact always; with 4 bands × 4 rows at j≥0.8 the planted
        # dups should be fully recalled on this corpus.
        assert lsh <= exact
        assert lsh == exact  # empirical full recall on the synthetic data

    def test_simhash_arithmetic_equals_string_form(self, spark):
        # simhash32_table extracts bits with conv(reverse(hex8)) +
        # shiftright; the oracle keeps the per-bit instr/substr string
        # form (simhash32_sql).  Both must agree bit-for-bit — this is
        # the equivalence the DuckDB hash-compare rests on.
        from classic_fcd_spark.operators.dedup import simhash32_sql, simhash32_table
        from classic_fcd_spark.session import load_tables

        docs = load_tables(spark, SF_SMALL)["documents"]
        toks = F.array_distinct(F.split(F.trim("text"), " +"))
        fast = simhash32_table(docs, "doc_id", toks)
        slow = docs.select(
            "doc_id",
            F.expr(
                simhash32_sql(
                    "array_distinct(split(trim(text), ' +'))",
                    "transform",
                    "filter",
                    "size",
                )
            ).alias("simhash"),
        )
        diff = fast.join(slow, "doc_id").filter(
            fast["simhash"] != slow["simhash"]
        )
        assert diff.count() == 0

    def test_simhash_similar_docs_close(self, spark):
        from classic_fcd_spark.queries.dedup import ngram_jaccard_pairs, simhash_docs

        sim = {
            r["doc_id"]: r["simhash"]
            for r in simhash_docs(spark, SF_SMALL).collect()
        }
        near = _pairs(ngram_jaccard_pairs(spark, SF_SMALL))
        if near:
            # hamming distance between near-dup docs must be well below the
            # ~16/32 expectation for unrelated docs (the tiny synthetic
            # vocabulary makes majority votes noisier than real text, so
            # the bound is loose but still discriminating)
            for i, j in near:
                ham = bin(sim[i] ^ sim[j]).count("1")
                assert ham <= 12, (i, j, ham)


class TestLSHTuning:
    """The (bands, rows) sizing math (MMDS §3.4 S-curve): collision
    probability contracts and the argmin property of choose_lsh_bands."""

    def test_collision_prob_known_values_and_monotonicity(self):
        from classic_fcd_spark.operators.dedup import lsh_collision_prob

        # the engine's default (b=4, r=4) at the J=0.8 gate
        assert abs(lsh_collision_prob(0.8, 4, 4) - (1 - (1 - 0.8**4) ** 4)) < 1e-12
        assert lsh_collision_prob(0.0, 4, 4) == 0.0
        assert lsh_collision_prob(1.0, 4, 4) == 1.0
        probs = [lsh_collision_prob(j / 20, 4, 4) for j in range(21)]
        assert probs == sorted(probs)  # monotone in J

    def test_choose_bands_is_the_error_argmin(self):
        import math

        from classic_fcd_spark.operators.dedup import (
            choose_lsh_bands,
            lsh_collision_prob,
        )

        def err(bands, rows, t, steps=200):
            fp = sum(
                lsh_collision_prob(t * (i + 0.5) / steps, bands, rows)
                for i in range(steps)
            ) * (t / steps)
            fn = sum(
                1 - lsh_collision_prob(t + (1 - t) * (i + 0.5) / steps, bands, rows)
                for i in range(steps)
            ) * ((1 - t) / steps)
            return fp + fn

        for n, t in [(16, 0.8), (16, 0.5), (64, 0.9), (128, 0.7)]:
            b, r = choose_lsh_bands(n, t)
            assert b * r == n
            best = err(b, r, t)
            for rr in range(1, n + 1):
                if n % rr == 0:
                    assert best <= err(n // rr, rr, t) + 1e-12
            # the knee (1/b)^(1/r) lands near the threshold
            assert abs((1 / b) ** (1 / r) - t) < 0.35

    def test_input_validation(self):
        import pytest

        from classic_fcd_spark.operators.dedup import (
            choose_lsh_bands,
            lsh_collision_prob,
        )

        with pytest.raises(ValueError):
            lsh_collision_prob(1.5, 4, 4)
        with pytest.raises(ValueError):
            choose_lsh_bands(16, 0.0)
        with pytest.raises(ValueError):
            choose_lsh_bands(0, 0.5)


class TestNgramJaccardOracle:
    """ngram_jaccard_pairs left the driver window in r6 (slot rotated to
    duplicated_spans); this is its oracle gate now — the same DuckDB SQL
    that drove its green r2-r5 driver rows.  The PPJoin candidate
    discipline stays driver-gated via minhash_lsh_near_dups +
    near_dup_groups."""

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from classic_fcd_spark.queries.dedup import (
            NGRAM_JACCARD_ORACLE_SQL,
            ngram_jaccard_pairs,
        )

        got = {
            (r["i"], r["j"]): (r["inter"], r["uni"], r["jaccard"])
            for r in ngram_jaccard_pairs(spark, SF_SMALL).collect()
        }
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/documents.parquet')"
        )
        expected = {
            (r[0], r[1]): (r[2], r[3], r[4])
            for r in con.sql(NGRAM_JACCARD_ORACLE_SQL).fetchall()
        }
        assert got == expected
        assert len(got) == 28  # the planted near-dup pairs at sf0.001


class TestSimilarity:
    def test_topk_is_ranked_and_complete(self, spark):
        from classic_fcd_spark.queries.similarity import ann_topk_bruteforce

        rows = ann_topk_bruteforce(spark, SF_SMALL).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r["rnk"])
            assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
            cos = [r["cos_e6"] for r in rs]
            assert cos == sorted(cos, reverse=True)

    def test_lsh_bucket_partitioning(self, spark):
        from classic_fcd_spark.queries.similarity import ann_lsh_buckets
        from classic_fcd_spark.session import load_tables

        n_vecs = load_tables(spark, SF_SMALL)["embeddings"].count()
        buckets = ann_lsh_buckets(spark, SF_SMALL).collect()
        assert sum(r["n_vecs"] for r in buckets) == n_vecs
        assert all(0 <= r["bucket"] < 256 for r in buckets)


class TestAnnPlans:
    def test_no_nested_loop_in_lsh_paths(self, spark):
        """The LSH-candidate queries must compile to equi-joins: a
        BroadcastNestedLoopJoin means the all-pairs anti-pattern came
        back (VERDICT r1 'what's wrong' #2)."""
        from classic_fcd_spark.queries import query_fn_map
        from classic_fcd_spark.queries.similarity import (
            ann_lsh_search,
            embedding_similar_pairs,
        )

        # Both were rotated out of the 50-row driver registry (r5 / r7);
        # import directly so this no-BNLJ gate keeps running regardless of
        # registry membership.
        qmap = query_fn_map()
        qmap = {
            **qmap,
            "ann_lsh_search": ann_lsh_search,
            "embedding_similar_pairs": embedding_similar_pairs,
        }
        for name in ("embedding_similar_pairs", "ann_lsh_search"):
            df = qmap[name](spark, SF_SMALL)
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastNestedLoopJoin" not in plan, name
            assert "CartesianProduct" not in plan, name

    def test_lsh_search_subset_of_bruteforce_topk(self, spark):
        """Bucket-probe results must be genuine neighbors: every (qid,
        nid) it returns also appears in the brute-force scoring with the
        same cos_e6."""
        from classic_fcd_spark.queries.similarity import (
            ann_lsh_search,
            ann_topk_bruteforce,
        )

        brute = {
            (r["qid"], r["nid"]): r["cos_e6"]
            for r in ann_topk_bruteforce(spark, SF_SMALL).collect()
        }
        probed = ann_lsh_search(spark, SF_SMALL).collect()
        assert len(probed) > 0
        for r in probed:
            if (r["qid"], r["nid"]) in brute:
                assert brute[(r["qid"], r["nid"])] == r["cos_e6"]


class TestKMeansCodebook:
    def test_corpus_smaller_than_k_fails_fast(self, spark):
        """3 rows with k=16 must raise a clear ValueError, not an
        IndexError mid-iteration."""
        import pytest

        from classic_fcd_spark.operators.similarity import kmeans_train

        emb = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(3)], ["vec_id", "embedding"]
        )
        with pytest.raises(ValueError, match="k=16"):
            kmeans_train(emb, k=16)

    def test_spherical_kmeans_recovers_planted_clusters(self, spark):
        """Distributed Lloyd iterations (operators/similarity.kmeans_train)
        on three planted directions: mean best-cosine must improve
        monotonically (up to float noise) and the final assignment must
        give pure clusters."""
        import random

        from pyspark.sql import functions as F

        from classic_fcd_spark.operators.similarity import cosine_sql, kmeans_train

        rng = random.Random(7)
        dim, per = 8, 40
        # three orthogonal-ish planted directions + small noise
        base = [[1.0 if i == c else 0.0 for i in range(dim)] for c in (0, 3, 6)]
        rows = []
        for c, b in enumerate(base):
            for n in range(per):
                v = [x + rng.uniform(-0.15, 0.15) for x in b]
                rows.append((c * per + n, c, v))
        emb = spark.createDataFrame(rows, ["vec_id", "truth", "embedding"])

        cents, hist = kmeans_train(emb, k=3, n_iter=4)
        assert len(cents) == 3 and all(len(c) == dim for c in cents)
        # monotone improvement (tiny float tolerance)
        assert all(b >= a - 1e-9 for a, b in zip(hist, hist[1:])), hist
        assert hist[-1] > 0.95  # tight clusters -> near-perfect fit

        # final assignment purity: each truth group lands in one cell
        cdf = spark.createDataFrame(
            [(cid, c) for cid, c in enumerate(cents)], ["cid", "ce"]
        )
        # argmax by cosine (max over (cos, cid) structs then .cid — NOT
        # max("sc.cid"), which reads the largest cid outright and made
        # this purity check vacuous before r4)
        best = (
            emb.crossJoin(F.broadcast(cdf))
            .select(
                "vec_id",
                "truth",
                F.struct(F.expr(cosine_sql("embedding", "ce")).alias("cos"), "cid").alias("sc"),
            )
            .groupBy("vec_id", "truth")
            .agg(F.max("sc").alias("best"))
            .select("vec_id", "truth", F.col("best.cid").alias("cell"))
        )
        purity = best.groupBy("truth").agg(F.countDistinct("cell").alias("n")).collect()
        assert all(r["n"] == 1 for r in purity)
        # and the three planted groups must occupy three DISTINCT cells
        assigned = best.select("truth", "cell").distinct().collect()
        assert len({r["cell"] for r in assigned}) == 3, assigned


class TestBandedPairRecall:
    def test_banded_pairs_recall_vs_bruteforce(self, spark):
        """Lock the module-comment recall claim: at sf0.001 the 8x2-band
        hyperplane LSH must recover EVERY pair with cosine >= threshold
        (banded ⊆ exact always holds by the verify step; recall == 1.0 is
        the measured property on this corpus)."""
        from classic_fcd_spark.operators.similarity import cosine, floor_e6
        from classic_fcd_spark.queries.similarity import (
            _PAIR_THRESHOLD,
            embedding_similar_pairs,
        )
        from classic_fcd_spark.session import load_tables

        banded = {
            (r["i"], r["j"]): r["cos_e6"]
            for r in embedding_similar_pairs(spark, SF_SMALL).collect()
        }
        emb = load_tables(spark, SF_SMALL)["embeddings"]
        a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
        b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
        exact = {
            (r["i"], r["j"]): r["cos_e6"]
            for r in a.crossJoin(b)
            .filter(F.col("i") < F.col("j"))
            .select("i", "j", cosine("ea", "eb").alias("cos"))
            .filter(F.col("cos") >= _PAIR_THRESHOLD)
            .select("i", "j", floor_e6(F.col("cos")).alias("cos_e6"))
            .collect()
        }
        assert exact, "corpus must contain threshold pairs"
        assert set(banded) <= set(exact)  # verify step kills false positives
        assert banded == exact  # full recall on this corpus (measured)


class TestConnectedComponents:
    def test_local_and_distributed_paths_agree(self, spark):
        """Chains (deep diameter), cliques, and singleton-edge islands:
        the single-task union-find fallback and the pointer-jumping loop
        must emit identical (node, min-id-label) assignments."""
        from classic_fcd_spark.operators.dedup import connected_components

        edges = (
            # one 40-node chain: 0-1, 1-2, ... (diameter stress)
            [(i, i + 1) for i in range(40)]
            # one clique on {100..104}
            + [(a, b) for a in range(100, 105) for b in range(a + 1, 105)]
            # two disjoint single edges
            + [(200, 201), (300, 301)]
        )
        pairs = spark.createDataFrame(edges, ["i", "j"])
        want = {(0 <= n <= 40): 0 for n in range(41)}  # noqa: F841 docs only
        local = {
            (r["node"], r["label"])
            for r in connected_components(pairs).collect()
        }
        dist = {
            (r["node"], r["label"])
            for r in connected_components(pairs, local_threshold=0).collect()
        }
        assert local == dist
        labels = dict(local)
        assert all(labels[n] == 0 for n in range(41))
        assert all(labels[n] == 100 for n in range(100, 105))
        assert labels[201] == 200 and labels[301] == 300


class TestStarComponentLabels:
    """r15 opt 2: the star-aware labeling (CC on the rep graph only,
    members inherit label(rep)) must equal generic CC over the full
    collapsed edge union — same node set, same min-id labels."""

    def _fingerprints(self, spark):
        h1 = 0x11223344
        rows = (
            # clique A on h1 (rep 1), clique B at hamming 1 (rep 2),
            # singleton 4 at hamming 1 from B → one chained component
            [(1, h1), (5, h1), (9, h1), (2, h1 ^ 1), (3, h1 ^ 1), (4, h1 ^ (1 << 1))]
            # lone clique (no cross edge) → own component, label 7
            + [(7, 0x7000000F), (8, 0x7000000F)]
            # isolated singleton: no clique, no edge → absent from output
            + [(6, 0x0F0F0F0F)]
        )
        return spark.createDataFrame(rows, "doc_id long, simhash long")

    def test_star_labels_equal_generic_cc(self, spark):
        from classic_fcd_spark.operators.dedup import (
            connected_components,
            simhash_component_edges,
            simhash_component_labels,
        )

        fp = self._fingerprints(spark)
        docs = fp.select("doc_id")  # unused when fingerprints are passed
        tok = F.array(F.lit("unused"))
        generic = {
            (r["node"], r["label"])
            for r in connected_components(
                simhash_component_edges(docs, "doc_id", tok, fingerprints=fp)
            ).collect()
        }
        star = {
            (r["node"], r["label"])
            for r in simhash_component_labels(
                docs, "doc_id", tok, fingerprints=fp
            ).collect()
        }
        assert star == generic
        labels = dict(star)
        assert {labels[n] for n in (1, 2, 3, 4, 5, 9)} == {1}
        assert labels[7] == 7 and labels[8] == 7
        assert 6 not in labels
        # exactly one row per participating node
        assert len(star) == 8

    def test_rep_pairs_deduped_map_side(self, spark):
        """Every hamming-1 pair agrees on 3 of the 4 byte bands, so the
        band join emits 3 collision rows per pair — the first-band filter
        must keep exactly one, with no distinct in the plan."""
        from classic_fcd_spark.operators.dedup import _simhash_rep_pairs

        fp = self._fingerprints(spark)
        pairs = _simhash_rep_pairs(fp, "doc_id", max_hamming=1).collect()
        keys = [(r["sa"], r["sb"]) for r in pairs]
        assert len(keys) == len(set(keys)), "map-side dedup must be exact"
        # h1↔h1^1 and h1↔h1^2 are hamming 1; h1^1↔h1^2 is hamming 2
        h1 = 0x11223344
        assert set(keys) == {(h1, h1 ^ 1), (h1, h1 ^ 2)}


class TestParagraphBoilerplate:
    FOOTER = "Subscribe to our newsletter\nAll rights reserved"

    def _docs(self, spark):
        rows = []
        for d in range(6):
            body = f"unique body paragraph for document {d}\nwith a second line"
            body2 = f"another distinct thought in doc {d}"
            rows.append((d, f"{body}\n\n{self.FOOTER}\n\n{body2}"))
        rows.append((6, self.FOOTER))  # all-boilerplate doc
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_drops_cross_doc_boilerplate_keeps_order(self, spark):
        from classic_fcd_spark.operators.dedup import remove_common_paragraphs

        cleaned = {
            r["doc_id"]: r["text"]
            for r in remove_common_paragraphs(self._docs(spark)).collect()
        }
        for d in range(6):
            assert self.FOOTER not in cleaned[d]
            assert cleaned[d] == (
                f"unique body paragraph for document {d}\nwith a second line"
                f"\n\nanother distinct thought in doc {d}"
            )
        assert cleaned[6] == ""  # fully-boilerplate doc comes back empty

    def test_matches_duckdb(self, spark):
        import duckdb
        import pandas as pd

        from classic_fcd_spark.operators.dedup import remove_common_paragraphs

        docs = self._docs(spark)
        got = {
            r["doc_id"]: r["text"]
            for r in remove_common_paragraphs(docs, max_doc_freq=2).collect()
        }
        pdf = docs.toPandas()  # noqa: F841
        want = {
            r[0]: r[1]
            for r in duckdb.sql(
                """
                WITH split AS (
                    SELECT doc_id, regexp_split_to_array(text, '\\n{2,}') AS ps
                    FROM pdf
                ),
                paras AS (
                    SELECT doc_id, u.s.para AS para, u.s.pos AS pos
                    FROM split, LATERAL unnest(
                        [{'pos': i, 'para': ps[i]} for i in range(1, len(ps) + 1)]
                    ) AS u(s)
                ),
                keyed AS (
                    SELECT doc_id, pos, para, md5(lower(trim(para))) AS pk FROM paras
                ),
                freq AS (
                    SELECT pk, count(DISTINCT doc_id) AS df FROM keyed GROUP BY pk
                ),
                kept AS (
                    SELECT doc_id, pos, para FROM keyed JOIN freq USING (pk)
                    WHERE df <= 2
                ),
                rebuilt AS (
                    SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pos) AS t
                    FROM kept GROUP BY doc_id
                )
                SELECT p.doc_id, coalesce(t, '') FROM pdf p LEFT JOIN rebuilt USING (doc_id)
                """
            ).fetchall()
        }
        assert got == want


class TestSimhashNearDupsOracle:
    """simhash_near_dups was in-test-gated r5-r9 and re-promoted to the
    driver window in r10; this gate stays as the sf0.01 regression twin
    of the driver row (same DuckDB SQL on both)."""

    def test_matches_duckdb_oracle(self, spark):
        import duckdb

        from classic_fcd_spark.queries.dedup import (
            SIMHASH_ORACLE_SQL,
            simhash_near_dups,
        )
        from tests.conftest import SF_MEDIUM

        got = {
            (r["i"], r["j"]): r["hamming"]
            for r in simhash_near_dups(spark, SF_MEDIUM).collect()
        }
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_MEDIUM}/documents.parquet')"
        )
        expected = {(r[0], r[1]): r[2] for r in con.sql(SIMHASH_ORACLE_SQL).fetchall()}
        assert got == expected
        assert len(got) > 0
