"""Gopher-style repetition filters (Rae et al. 2021, "Scaling Language
Models: ... Gopher", Appendix A1.1; the same family NeMo-Curator and
Dolma ship): per-document repetitiousness signals used to drop
boilerplate/spam before LM training —

- top n-gram character fraction (n = 2, 3, 4): characters covered by
  the single most frequent word n-gram (its non-space character length
  x its occurrence count) over the document's non-space characters;
- duplicate n-gram character fraction (n = 5..10): characters covered
  by every n-gram occurring more than once (sum of charlen x count over
  duplicated grams — the Dolma/NeMo counting convention; the paper's
  prose leaves overlap handling ambiguous, so the convention is pinned
  here and mirrored exactly in the DuckDB oracle);
- duplicate line fraction + duplicate line character fraction: lines
  (split on newline, trimmed, empties dropped) that repeat an earlier
  line, by line count and by character mass.

Everything is integer/rational arithmetic floored to e6 fixed-point
per document (the repo's oracle-exactness discipline), so Spark and
DuckDB agree bit-for-bit.

Relation to functions.text.passes_repetition_filter: that is the
row-local KEEP/DROP rule (single top-2-gram + dup-line thresholds, one
HOF pass, no shuffle) the curation funnel applies inline; this module
is the full Gopher SIGNAL TABLE — all nine n's by character mass —
for threshold tuning, corpus QA, and per-source reporting, where the
extra per-doc counting is the right trade.

Scale: every signal is a PER-DOCUMENT quantity, so no gram ever leaves
its row — the whole table is one Arrow-batched mapInPandas pass over the
doc scan (repetition_signals).  Zero shuffles; parallelism = input
splits.  Nothing is quadratic; nothing collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

TOP_NS = (2, 3, 4)
DUP_NS = (5, 6, 7, 8, 9, 10)
E6 = 1_000_000


SIGNAL_COLS = (
    "dup_line_frac_e6",
    "dup_line_char_frac_e6",
    *(f"top{n}_frac_e6" for n in TOP_NS),
    *(f"dup{n}_frac_e6" for n in DUP_NS),
)


def _doc_signals(text):
    """All eleven Gopher signals of ONE document, plain Python — the
    per-batch kernel body of repetition_signals.  Every arithmetic step
    is exact integer work or one IEEE double division (1e6 * int is exact
    below 2**53), so the signals are bit-identical to the DuckDB oracle's
    — pinned by the oracle gate and tests/test_repetition.py.

    Semantics footnotes (each matching duck_repetition_sql):
    - strip/split use the SPACE character only — trim/split (' +') never
      touch tabs or \r;
    - the top-gram tiebreak max(count, token-tuple) equals the SQL
      max(count, joined-string) because tokens are space-free and
      ' ' sorts below every token byte, so tuple order == joined order.
    """
    import math
    from collections import Counter

    if text is None:
        # NULL text has no lines and no grams: every signal is 0, as the
        # oracle's COALESCE and the "" row give
        return (0,) * len(SIGNAL_COLS)
    out = []
    lines = [s.strip(" ") for s in text.split("\n")]
    lines = [s for s in lines if s != ""]
    n_lines = len(lines)
    distinct = set(lines)
    all_chars = sum(len(s) for s in lines)
    uniq_chars = sum(len(s) for s in distinct)
    out.append(math.floor(E6 * (n_lines - len(distinct)) / max(n_lines, 1)))
    out.append(math.floor(E6 * (all_chars - uniq_chars) / max(all_chars, 1)))

    total = max(len(text.replace(" ", "")), 1)
    toks = text.strip(" ").split(" ")
    toks = [t for t in toks if t != ""] or [""]
    m = len(toks)
    for n in (*TOP_NS, *DUP_NS):
        grams = (
            Counter(tuple(toks[i : i + n]) for i in range(m - n + 1))
            if m >= n
            else None
        )
        if n in TOP_NS:
            if grams:
                best_c, best_g = max((v, g) for g, v in grams.items())
                chars = best_c * sum(len(t) for t in best_g)
            else:
                chars = 0
        else:
            chars = (
                sum(
                    v * sum(len(t) for t in g)
                    for g, v in grams.items()
                    if v >= 2
                )
                if grams
                else 0
            )
        out.append(math.floor(E6 * chars / total))
    return tuple(out)


def _signals_kernel(batches):
    """mapInPandas body: one Python worker pass per Arrow batch; heavy
    imports resolve once per task (guide §4.5 — this lives in an
    importable module, so reused workers keep the warm interpreter)."""
    import pandas as pd

    for pdf in batches:
        ids = pdf.iloc[:, 0]
        rows = [(i,) + _doc_signals(t) for i, t in zip(ids, pdf.iloc[:, 1])]
        yield pd.DataFrame(rows, columns=[pdf.columns[0], *SIGNAL_COLS])


def repetition_signals(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per doc: top{2,3,4}_frac_e6, dup{5..10}_frac_e6,
    dup_line_frac_e6, dup_line_char_frac_e6.  Docs shorter than an
    n-gram width contribute 0 for that signal (nothing is repeated).

    One Arrow-batched mapInPandas pass: select the two needed columns
    (an explicit select before an opaque function bounds the boundary
    cost), count grams with Counter per doc, return the eleven integers.
    Shuffles nothing; CPU scales with the scan."""
    schema_id = docs.schema[id_col]
    out_schema = StructType(
        [schema_id] + [StructField(c, LongType(), True) for c in SIGNAL_COLS]
    )
    return docs.select(id_col, text_col).mapInPandas(_signals_kernel, out_schema)


def duck_repetition_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """DuckDB twin of repetition_signals — same tokenization, same
    counting conventions, same e6 floors."""
    toks = f"regexp_split_to_array(trim({text_col}), ' +')"
    max_n = max(*TOP_NS, *DUP_NS)
    leads = ", ".join(f"lead(tok, {k}) OVER w AS t{k}" for k in range(1, max_n))
    gram_branches = "\n        UNION ALL\n".join(
        f"        SELECT {id_col}, total_chars, {n} AS n, tok || ' ' || "
        + " || ' ' || ".join(f"t{k}" for k in range(1, n))
        + f" AS g FROM led WHERE t{n - 1} IS NOT NULL"
        for n in (*TOP_NS, *DUP_NS)
    )
    top_cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN top_frac_e6 END), 0) AS top{n}_frac_e6"
        for n in TOP_NS
    )
    dup_cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN n = {n} THEN dup_frac_e6 END), 0) AS dup{n}_frac_e6"
        for n in DUP_NS
    )
    return f"""
    WITH base AS (
        SELECT {id_col}, {toks} AS t,
               length(replace({text_col}, ' ', '')) AS total_chars,
               list_filter(list_transform(string_split({text_col}, chr(10)),
                                          s -> trim(s)), s -> s <> '') AS lines
        FROM {table}
    ),
    -- Grams via scalar lead() windows, NO list values anywhere:
    -- every list-carrying form (per-row gram-list comprehension,
    -- LATERAL full-array slice, even a bounded 10-token list() window)
    -- blew DuckDB past its memory limit at sf0.1/sf1 — list vectors
    -- dodge its spill accounting.  lead(tok, k) columns are plain
    -- strings, the materialized led table is columnar-compressed, and
    -- the gram GROUP BY spills normally: 5 s / 22M grams at sf1.
    tokens AS (
        SELECT {id_col}, total_chars, unnest(t) AS tok,
               unnest(range(1, len(t) + 1)) AS i
        FROM base
    ),
    led AS MATERIALIZED (
        SELECT {id_col}, total_chars, tok, {leads}
        FROM tokens WINDOW w AS (PARTITION BY {id_col} ORDER BY i)
    ),
    grams AS (
{gram_branches}
    ),
    counted AS MATERIALIZED (
        SELECT {id_col}, total_chars, n, g, COUNT(*) AS c
        FROM grams GROUP BY 1, 2, 3, 4
    ),
    -- Spark's max(struct(c, g)) winner is recomputed here TWO-PASS
    -- (scalar MAX, then join back at c = max and break ties by MAX(g)):
    -- DuckDB's MAX over a string-carrying struct holds per-group struct
    -- state outside its spill accounting and OOM'd the host at sf1.
    per_doc_n AS (
        SELECT {id_col}, total_chars, n,
               MAX(c) AS top_c,
               SUM(CASE WHEN c >= 2
                        THEN c * length(replace(g, ' ', '')) ELSE 0 END)
                 AS dup_chars
        FROM counted GROUP BY 1, 2, 3
    ),
    top_g AS (
        SELECT counted.{id_col}, counted.n, MAX(counted.g) AS g
        FROM counted JOIN per_doc_n
          ON counted.{id_col} = per_doc_n.{id_col}
         AND counted.n = per_doc_n.n AND counted.c = per_doc_n.top_c
        GROUP BY 1, 2
    ),
    sig AS (
        SELECT p.{id_col}, p.n,
               CAST(floor(1000000.0 * length(replace(t.g, ' ', '')) * p.top_c
                          / greatest(p.total_chars, 1)) AS BIGINT) AS top_frac_e6,
               CAST(floor(1000000.0 * p.dup_chars
                          / greatest(p.total_chars, 1)) AS BIGINT) AS dup_frac_e6
        FROM per_doc_n p
        JOIN top_g t ON p.{id_col} = t.{id_col} AND p.n = t.n
    ),
    ngram_side AS (
        SELECT {id_col}, {top_cols}, {dup_cols} FROM sig GROUP BY 1
    ),
    line_side AS (
        SELECT {id_col},
               CAST(floor(1000000.0 * (len(lines) - len(list_distinct(lines)))
                          / greatest(len(lines), 1)) AS BIGINT)
                 AS dup_line_frac_e6,
               CAST(floor(1000000.0 *
                     (list_sum([length(s) for s in lines])
                      - list_sum([length(s) for s in list_distinct(lines)]))
                     / greatest(list_sum([length(s) for s in lines]), 1))
                    AS BIGINT) AS dup_line_char_frac_e6
        FROM base
    )
    SELECT l.{id_col}, COALESCE(l.dup_line_frac_e6, 0) AS dup_line_frac_e6,
           COALESCE(l.dup_line_char_frac_e6, 0) AS dup_line_char_frac_e6,
           {", ".join(f"COALESCE(n.top{n}_frac_e6, 0) AS top{n}_frac_e6" for n in TOP_NS)},
           {", ".join(f"COALESCE(n.dup{n}_frac_e6, 0) AS dup{n}_frac_e6" for n in DUP_NS)}
    FROM line_side l LEFT JOIN ngram_side n USING ({id_col})
    """
