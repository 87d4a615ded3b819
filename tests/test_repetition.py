"""Gopher repetition filters (operators/repetition.py): hand-computed
tiny cases for every signal, the cross-engine DuckDB oracle over the
sf0.01 documents table, and the short-doc zero-fill edge."""

from __future__ import annotations

import duckdb
import pytest

from classic_fcd_spark.operators.repetition import (
    duck_repetition_sql,
    repetition_signals,
)
from tests.conftest import SF_MEDIUM, SF_SMALL

COLS = [
    "dup_line_frac_e6",
    "dup_line_char_frac_e6",
    "top2_frac_e6",
    "top3_frac_e6",
    "top4_frac_e6",
    *[f"dup{n}_frac_e6" for n in (5, 6, 7, 8, 9, 10)],
]


def _rows(df):
    return {
        r["doc_id"]: tuple(r[c] for c in COLS) for r in df.collect()
    }


class TestHandComputed:
    def _mk(self, spark, texts):
        return spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )

    def test_top_ngram_fraction(self, spark):
        # "a b a b a b": 12 chars with spaces, 6 non-space.
        # 2-grams: "a b" x3, "b a" x2 -> top = "a b" (3 occurrences,
        # charlen 2) -> 6/6 = 1.0
        docs = self._mk(spark, ["a b a b a b"])
        got = _rows(repetition_signals(docs))[0]
        d = dict(zip(COLS, got))
        assert d["top2_frac_e6"] == 1_000_000
        # 3-grams: "a b a" x2, "b a b" x2 -> tie, max by (c, g) picks
        # "b a b"; charlen 3 x 2 = 6 -> 1.0
        assert d["top3_frac_e6"] == 1_000_000
        # 5-grams: "a b a b a" x1, "b a b a b" x1 -> no duplicates
        assert d["dup5_frac_e6"] == 0

    def test_duplicate_ngram_fraction(self, spark):
        # "x y z w v x y z w v q": the 5-gram "x y z w v" occurs twice
        # (positions 1 and 6); charlen 5 x 2 = 10 of 11 non-space chars
        docs = self._mk(spark, ["x y z w v x y z w v q"])
        d = dict(zip(COLS, _rows(repetition_signals(docs))[0]))
        assert d["dup5_frac_e6"] == (10 * 1_000_000) // 11
        assert d["dup6_frac_e6"] == 0  # no 6-gram repeats

    def test_line_fractions(self, spark):
        # 4 non-empty lines, "aa" repeats twice more (2 dup lines of 4);
        # chars: aa(2)x3 + bbbb(4) = 10, distinct = 2+4 = 6 -> dup 4/10
        docs = self._mk(spark, ["aa\naa\n\nbbbb\naa"])
        d = dict(zip(COLS, _rows(repetition_signals(docs))[0]))
        assert d["dup_line_frac_e6"] == (2 * 1_000_000) // 4
        assert d["dup_line_char_frac_e6"] == (4 * 1_000_000) // 10

    def test_short_docs_zero_filled(self, spark):
        # fewer tokens than any n: every n-gram signal 0, single line 0
        docs = self._mk(spark, ["hello", ""])
        rows = _rows(repetition_signals(docs))
        assert rows[0] == tuple(0 for _ in COLS)
        assert rows[1] == tuple(0 for _ in COLS)


class TestDuckOracle:
    @pytest.fixture(scope="class")
    def con(self):
        c = duckdb.connect()
        c.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_MEDIUM}/documents.parquet')"
        )
        return c

    def test_matches_duckdb_on_corpus(self, spark, con):
        from classic_fcd_spark.queries.text import repetition_signals_q

        got = _rows(repetition_signals_q(spark, SF_MEDIUM))
        want = {
            r[0]: tuple(r[1:])
            for r in con.sql(duck_repetition_sql()).fetchall()
        }
        assert len(got) == len(want) > 0
        assert got == want
        # the synthetic corpus is built from a tiny vocabulary, so the
        # signals must actually fire (non-degenerate gate)
        assert any(v[2] > 0 for v in got.values())  # top2 > 0 somewhere

    def test_matches_duckdb_on_multiline_docs(self, spark):
        texts = [
            "the cat sat on the mat the cat sat on the mat",
            "line one\nline one\nline two\nline two\nline two",
            "a b c d e f g h i j k l m n o p",
            "z z z z z z z z z z z z",
            "solo",
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = _rows(repetition_signals(docs))
        con = duckdb.connect()
        con.register(
            "documents", docs.toPandas()
        )
        want = {
            r[0]: tuple(r[1:])
            for r in con.sql(duck_repetition_sql()).fetchall()
        }
        assert got == want


class TestFoldReference:
    """The kernel vs an independent pure-Python reference: it must
    produce the same nine gram signals as direct Counter-based counting
    for ADVERSARIAL token sequences — tie-heavy, single-token,
    all-identical, and randomized docs (a deterministic seeded batch,
    not the sf corpus the oracle already gates)."""

    @staticmethod
    def _py_signals(text: str) -> dict:
        import math
        from collections import Counter

        toks = text.strip().split()
        total = max(len(text.replace(" ", "")), 1)
        out = {}
        for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
            grams = [
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            ] if len(toks) >= n else []
            c = Counter(grams)
            if c:
                # max by (count, gram) — the engine's tiebreak
                top_c, top_g = max((v, g) for g, v in c.items())
                top_chars = len(top_g.replace(" ", "")) * top_c
            else:
                top_chars = 0
            dup_chars = sum(
                v * len(g.replace(" ", "")) for g, v in c.items() if v >= 2
            )
            if n in (2, 3, 4):
                out[f"top{n}_frac_e6"] = math.floor(1e6 * top_chars / total)
            else:
                out[f"dup{n}_frac_e6"] = math.floor(1e6 * dup_chars / total)
        return out

    def _check(self, spark, texts):
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = _rows(repetition_signals(docs))
        for i, text in enumerate(texts):
            want = self._py_signals(text)
            d = dict(zip(COLS, got[i]))
            for k, v in want.items():
                assert d[k] == v, (i, k, d[k], v, text[:60])

    def test_adversarial_shapes(self, spark):
        self._check(
            spark,
            [
                "",                          # empty
                "x",                         # single token
                "a a a a a a a a a a a a",   # one gram repeated, every n
                "a b a b c a b a b c a b",   # overlapping runs + ties
                "aa bb aa bb aa bb cc dd",   # 2-char tokens
                "z y x w v u t s r q p o",   # all-unique: every dup = 0
                "a b c " * 40,               # long pure-period doc
            ],
        )

    def test_seeded_random_docs(self, spark):
        import random

        rng = random.Random(0xC0FFEE)
        vocab = ["a", "b", "c", "dd", "ee", "fff", "gg"]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 60)))
            for _ in range(200)
        ]
        self._check(spark, texts)


class TestKernelFoldEquality:
    """The Arrow kernel against the DuckDB oracle on the shapes where
    the two tokenizers could part ways (tabs, space runs, blank and
    padded lines, gram-order ties) and on the whole sf0.001 corpus."""

    def _duck(self, con) -> dict:
        return {r[0]: tuple(r[1:]) for r in con.sql(duck_repetition_sql()).fetchall()}

    def _check(self, spark, rows):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = _rows(repetition_signals(docs))
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        want = self._duck(con)
        # every row, the NULL-text one included (all signals 0 on both)
        assert got == want
        for i, t in rows:
            if t is None:
                assert got[i] == (0,) * len(COLS)

    def test_edge_shapes(self, spark):
        self._check(
            spark,
            [
                (1, None),                        # NULL text
                (2, ""),
                (3, "   "),
                (4, "a"),
                (5, "a a a a a a a a a a a a"),
                (6, "tab\there tab\there"),        # tabs are NOT separators
                (7, "a  b   c a  b   c a b c"),   # multi-space runs
                (8, "line1\nline2\nline1\n\n  line2  \nline3"),
                (9, "ab cd ab cd ab ce ab cd"),   # tiebreak on gram order
                (10, "p q r s t u v w x y"),
            ],
        )

    def test_corpus(self, spark, tables):
        got = _rows(repetition_signals(tables["documents"]))
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{SF_SMALL}/documents.parquet')"
        )
        want = self._duck(con)
        assert len(got) == len(want) == 500
        assert got == want
