"""BM25 lexical retrieval over the document corpus (Robertson/Walker
Okapi BM25, public literature; the +1 idf smoothing is the Lucene
variant so scores are always non-negative).

The lexical complement to the embedding ANN family: keyword search over
100 TB of text, and the retrieval step of lexical data-selection /
decontamination recipes.

Scale shape:
- The (doc, dl, term, tf, df) postings table is the materialized
  inverted-index silver — one explode + one groupBy, plus a df count
  over a window on the term, per corpus generation, reusable across every
  query batch (like session.shingle_table for dedup).  It is
  hash-partitioned on the doc id, so the per-(query, doc) score sum
  reads it without an exchange.
- Query time: the (qid, term) pairs are a bound VALUES list — a local
  relation: no scan and no shuffle, its broadcast one small job over the
  bound rows — and postings are pruned by a literal `term IN (...)`
  filter BEFORE any scoring work, so cost follows matching postings,
  never the corpus.  Per-query top-k is a bounded window.
- Corpus stats (N, total tokens) are a 1-row aggregate — the only
  driver-side state.

Numeric policy (the driver-hash lesson): per-(query, doc, term) BM25
partials are computed in double with ONE fixed expression shape shared
by the Spark column and the DuckDB oracle (literals embedded via repr,
same association order), then floored to e6 fixed point BEFORE the
per-doc sum — so document scores are order-free exact integers, immune
to float-sum nondeterminism (same trick as operators/dsir.py's
quantize_e6 path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dedup import ws_tokens


def bm25_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dl, term, tf): raw term frequencies with per-doc length —
    with_df adds df to make the silver.  One explode + one groupBy; dl rides
    along via a size() column computed before the explode (no second
    tokenize pass, no second shuffle).  The input is spread across cores
    first — single-file scans arrive as one partition."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(par, id_col).select(
        F.col(id_col),
        F.size(ws_tokens(text_col)).alias("dl"),
        F.explode(ws_tokens(text_col)).alias("term"),
    )
    return toks.groupBy(id_col, "dl", "term").agg(F.count("*").alias("tf"))


def with_df(post: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, dl, term, tf, df): raw postings plus each term's document
    frequency — the postings silver shape.  df is a count over a window
    on the term, so the postings are read (and the corpus tokenized)
    once; an aggregate joined back would plan a second tokenize for the
    df side.  The vocabulary grows with the corpus, so nothing is
    broadcast.  The result is hash-partitioned on the id, so
    bm25_topk's groupBy(qid, id) needs no exchange."""
    par = post.sparkSession.sparkContext.defaultParallelism
    return (
        post.withColumn("df", F.count("*").over(Window.partitionBy("term")))
        .select(id_col, "dl", "term", "tf", "df")
        .repartition(par, id_col)
    )


def corpus_stats(post: DataFrame, id_col: str = "doc_id") -> tuple[int, float]:
    """(N, avgdl) from the postings' per-doc lengths: one scalar
    aggregate job, never a second corpus tokenize — every doc
    contributes >= 1 posting row under this tokenizer (empty text yields
    one empty-string token), so distinct (id, dl) covers the whole
    corpus.  (0, 0.0) for an empty corpus."""
    row = (
        post.select(id_col, "dl")
        .distinct()
        .agg(F.count("*").alias("n"), F.sum("dl").alias("tot"))
        .collect()[0]
    )
    if not row["n"]:
        return (0, 0.0)
    return (int(row["n"]), int(row["tot"]) / int(row["n"]))


def _query_relation(spark, qpairs: list[tuple[int, str]]) -> DataFrame:
    """(qid, term) as a VALUES list with every value bound as a
    parameter (no quoting of terms in the SQL text).  It plans as a
    local relation, so its broadcast reads no table and shuffles
    nothing."""
    rows = ", ".join(f"(:q{i}, :t{i})" for i in range(len(qpairs)))
    args: dict[str, object] = {}
    for i, (qid, term) in enumerate(qpairs):
        args[f"q{i}"] = int(qid)
        args[f"t{i}"] = term
    return spark.sql(
        "SELECT CAST(qid AS BIGINT) AS qid, term"
        f" FROM VALUES {rows} AS q(qid, term)",
        args=args,
    )


def _score_expr(n: int, avgdl: float, k1: float, b: float):
    """The shared BM25 per-term partial, association order fixed:
    ((idf * tf) * (k1+1)) / (tf + k1 * ((1-b) + ((b*dl)/avgdl)))."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n)) - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    denom = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + (F.lit(b) * F.col("dl")) / F.lit(avgdl)
    )
    return idf * F.col("tf") * F.lit(k1 + 1.0) / denom


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
    postings: DataFrame | None = None,
    stats: tuple[int, float] | None = None,
) -> DataFrame:
    """(qid, id, rnk, score_e6): top-k BM25 docs per query.

    `postings` reuses a pre-materialized postings table (the
    long-lived-engine shape: session.bm25_postings_table, which carries
    df); raw (id, dl, term, tf) postings — bm25_postings output,
    streaming/postings.read_postings — get df from with_df, and without
    `postings` they are built from `docs`.  `stats` passes a cached
    (N, avgdl) pair (session.bm25_corpus_stats); otherwise corpus_stats
    computes it from the postings.  An empty corpus returns an empty
    result.

    A term repeated inside one query counts ONCE (set-of-terms queries,
    the common BM25 presentation without the qtf factor) — (qid, term)
    pairs are deduplicated here and in duck_bm25_sql identically.  An
    empty `queries` list returns the empty-schema result."""
    spark = docs.sparkSession
    # set semantics per query: dedupe (qid, term) pairs, order-stable
    qpairs = list(dict.fromkeys((qid, t) for qid, terms in queries for t in terms))
    if postings is None:
        postings = bm25_postings(docs, id_col, text_col)
    # a caller that scores one corpus repeatedly passes its df-carrying
    # silver (session.bm25_postings_table); any other postings get df
    # here as a lazy plan, which the stats collect and the scoring job
    # each evaluate
    post = postings if "df" in postings.columns else with_df(postings, id_col)

    def _empty() -> DataFrame:
        # empty-path schema must equal the non-empty path's, whatever
        # type the id column carries (schema access is analysis-only —
        # no job runs for the empty-queries early exit)
        from pyspark.sql.types import IntegerType, LongType, StructField, StructType

        id_field = post.schema[id_col]
        return spark.createDataFrame(
            [],
            StructType(
                [
                    StructField("qid", LongType()),
                    StructField(id_col, id_field.dataType),
                    StructField("rnk", IntegerType()),
                    StructField("score_e6", LongType()),
                ]
            ),
        )

    if not qpairs:
        return _empty()
    n, avgdl = corpus_stats(post, id_col) if stats is None else stats
    if not n:
        return _empty()

    terms = list(dict.fromkeys(t for _, t in qpairs))
    scored = (
        post.filter(F.col("term").isin(terms))
        .join(F.broadcast(_query_relation(spark, qpairs)), "term")
        .withColumn(
            "s_e6",
            F.floor(_score_expr(n, avgdl, k1, b) * F.lit(1000000.0)).cast("bigint"),
        )
    )
    agg = scored.groupBy("qid", id_col).agg(F.sum("s_e6").alias("score_e6"))
    w = Window.partitionBy("qid").orderBy(F.col("score_e6").desc(), F.col(id_col).asc())
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("qid", id_col, "rnk", "score_e6")
    )


def duck_bm25_sql(
    queries: list[tuple[int, list[str]]],
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 10,
) -> str:
    """DuckDB oracle: same tokenization, same postings, same fixed-shape
    float expression (literals via repr → bit-identical doubles), same
    e6 floor-then-integer-sum, same (qid, term) set semantics."""
    toks = f"regexp_split_to_array(trim({text_col}), ' +')"
    qpairs = list(dict.fromkeys((qid, t) for qid, terms in queries for t in terms))
    if not qpairs:
        # bm25_topk short-circuits this case to an empty frame; an empty
        # VALUES list is invalid SQL, so keep the oracle contract
        # symmetric by refusing rather than emitting a broken query
        raise ValueError("duck_bm25_sql needs >=1 (qid, term) pair")
    qvals = ", ".join(
        "({}, '{}')".format(qid, t.replace("'", "''")) for qid, t in qpairs
    )
    score = (
        f"ln(1.0 + (CAST(stats.n AS DOUBLE) - qdf.df + 0.5) / (qdf.df + 0.5))"
        f" * tf.tf * {k1 + 1.0!r}"
        f" / (tf.tf + {k1!r} * ({1.0 - b!r} + ({b!r} * tf.dl) / stats.avgdl))"
    )
    return f"""
    WITH toks AS (SELECT {id_col}, {toks} AS t FROM {table}),
    stats AS (
        SELECT COUNT(*) AS n, CAST(SUM(len(t)) AS DOUBLE) / COUNT(*) AS avgdl
        FROM toks
    ),
    post AS (SELECT {id_col}, len(t) AS dl, unnest(t) AS term FROM toks),
    tf AS (SELECT {id_col}, dl, term, COUNT(*) AS tf FROM post GROUP BY 1, 2, 3),
    q(qid, term) AS (VALUES {qvals}),
    qdf AS (
        SELECT term, COUNT(*) AS df FROM tf
        WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY term
    ),
    scored AS (
        SELECT q.qid, tf.{id_col},
               CAST(floor({score} * 1000000.0) AS BIGINT) AS s_e6
        FROM q
        JOIN tf USING (term)
        JOIN qdf USING (term)
        CROSS JOIN stats
    ),
    agg AS (
        SELECT qid, {id_col}, CAST(SUM(s_e6) AS BIGINT) AS score_e6
        FROM scored GROUP BY 1, 2
    )
    SELECT qid, {id_col}, rnk, score_e6 FROM (
        SELECT qid, {id_col}, score_e6,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY score_e6 DESC, {id_col} ASC) AS rnk
        FROM agg
    ) WHERE rnk <= {top_k}
    """


def rrf_fuse(
    rankings: list[DataFrame],
    qid_col: str = "qid",
    id_col: str = "doc_id",
    rnk_col: str = "rnk",
    rrf_k: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """(qid, id, rrf_e9, rnk): Reciprocal Rank Fusion over any number of
    per-query rankings (Cormack et al. 2009, public literature) — the
    standard lexical+dense hybrid: fuse bm25_topk with an ANN top-k and
    the union outranks either system alone on mixed query loads.

    score = sum over systems of 1e9 div (rrf_k + rank) — integer
    division instead of the paper's float 1/(k+r), so fused scores are
    exact bigints (deterministic under any partitioning / engine; the
    floor loses < 1 part in 1e7 of the reciprocal and cannot reorder
    single-system contributions, which are a fixed integer per rank).
    Inputs only need (qid, id, rank); absent (query, doc) pairs simply
    contribute nothing.  One unionByName + one groupBy on (qid, id) —
    both bounded by systems x top-k rows per query, never corpus-sized."""
    parts = [
        r.select(
            F.col(qid_col).alias("qid"),
            F.col(id_col).alias("__id"),
            F.expr(f"1000000000 div ({rrf_k} + {rnk_col})").alias("__c"),
        )
        for r in rankings
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    fused = u.groupBy("qid", "__id").agg(F.sum("__c").alias("rrf_e9"))
    w = Window.partitionBy("qid").orderBy(F.col("rrf_e9").desc(), F.col("__id").asc())
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_k)
        .select("qid", F.col("__id").alias(id_col), "rrf_e9", "rnk")
    )
