"""Language-model perplexity quality scoring (the CCNet recipe —
Wenzek et al. 2019, arXiv:1911.00359, public literature: score web text
by its perplexity under an LM trained on a clean reference corpus, then
bucket into head/middle/tail by perplexity percentile).

CCNet uses a KenLM 5-gram; the container has no KenLM, so the model
here is a Laplace-smoothed HASHED-UNIGRAM LM — an honest, deterministic
stand-in whose distributed plumbing (fit = one groupBy histogram; score
= explode + broadcast log-prob join + per-doc sum; bucket = sketch
quantile thresholds) is IDENTICAL for any n-gram order: swapping the
featurizer for higher-order grams with backoff changes only the
`ngram_buckets` call and the model-row count.

Numeric policy: per-bucket negative-log-probs are floored to e6 fixed
point BEFORE the per-doc sum (bigint arithmetic, order-free — the same
discipline as operators/dsir.quantize_e6), and the mean is an integer
division — so every emitted score is an exact integer on both engines.

Scale shape at 100 TB: the model is a B-row broadcast; scoring is one
explode + map-side join + one narrow shuffle; the percentile thresholds
come from a mergeable quantile sketch (2 numbers collected), never a
global sort.
"""

from __future__ import annotations

import math
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dsir import bucket_log_probs, ngram_buckets


def unigram_model_e6(
    model_docs: DataFrame, text_col: str = "text", buckets: int = 4096
) -> list[int]:
    """The fitted model as e6 fixed-point NLL integers, index = bucket:
    floor(-log((cnt_b + 1) / (total + B)) * 1e6), log evaluated ONCE by
    the driver's libm.  This list is the single source of truth for both
    the Spark scorer and the DuckDB oracle (embedded as literals via
    duck_unigram_nll_sql's model_e6 param), so a driver-libm vs
    engine-libm last-ulp divergence at a floor boundary cannot split the
    two sides — the same repr-literal discipline as operators/bm25.py."""
    lp = bucket_log_probs(model_docs, text_col, n=1, buckets=buckets)
    return [math.floor(-lp[b] * 1e6) for b in range(buckets)]


def unigram_nll_scores(
    docs: DataFrame,
    model_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    memo_key: str | None = None,
) -> DataFrame:
    """(id, n_tokens, sum_nll_e6, mean_nll_e6): negative log-likelihood
    of every doc under the hashed-unigram model fit on `model_docs`.

    mean_nll_e6 = sum_nll_e6 div n_tokens (integer division — exact);
    perplexity = exp(mean_nll_e6 / 1e6), monotone in mean_nll_e6, so
    thresholds/buckets operate on the integer column directly.

    `memo_key` (r15): the fitted e6 model (a pure function of the model
    corpus) is memoized per session — steady-state calls skip the fit's
    histogram collect job."""
    spark = docs.sparkSession
    # spread the md5 hashing across cores — single-file scans arrive as
    # one partition (model fit and scoring both explode every token)
    par = spark.sparkContext.defaultParallelism

    def _fit():
        return unigram_model_e6(model_docs.repartition(par), text_col, buckets)

    from classic_fcd_spark.session import session_memo

    nll = session_memo(
        spark, None if memo_key is None else f"ccnet:model_e6|{memo_key}", _fit
    )
    model = spark.createDataFrame(
        list(enumerate(nll)), "b bigint, nll_e6 bigint"
    )
    ex = docs.repartition(par, id_col).select(
        F.col(id_col), F.explode(ngram_buckets(text_col, 1, buckets)).alias("b")
    )
    sums = (
        ex.join(F.broadcast(model), "b")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("nll_e6").alias("sum_nll_e6"))
    )
    return sums.select(
        id_col,
        "n_tokens",
        "sum_nll_e6",
        F.expr("sum_nll_e6 div n_tokens").alias("mean_nll_e6"),
    )


def ccnet_buckets(
    docs: DataFrame,
    model_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    cuts: tuple[float, float] = (1.0 / 3.0, 2.0 / 3.0),
    rel_err: float = 0.001,
    memo_key: str | None = None,
) -> DataFrame:
    """(id, n_tokens, mean_nll_e6, bucket): CCNet's head/middle/tail
    split — head = lowest-perplexity third (most reference-like).

    Thresholds come from approxQuantile (Greenwald-Khanna mergeable
    sketch, same machinery as operators/sketches.py) — TWO scalars
    collected, no global sort; at 100 TB that is the only honest way to
    rank by percentile.  Bucket boundaries inherit the sketch's
    documented rank error (rel_err)."""
    scored = unigram_nll_scores(
        docs, model_docs, id_col, text_col, buckets, memo_key=memo_key
    )
    from classic_fcd_spark.session import scoped_persist

    scored = scoped_persist(scored, "ccnet:scores")
    qs = scored.approxQuantile("mean_nll_e6", list(cuts), rel_err)
    if not qs:
        # empty corpus: approxQuantile returns [] — emit the documented
        # schema instead of a ValueError at the unpack
        return scored.select(
            id_col, "n_tokens", "mean_nll_e6", F.lit("head").alias("bucket")
        ).limit(0)
    lo, hi = qs
    bucket = (
        F.when(F.col("mean_nll_e6") <= lo, F.lit("head"))
        .when(F.col("mean_nll_e6") <= hi, F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return scored.select(id_col, "n_tokens", "mean_nll_e6", bucket.alias("bucket"))


def unigram_model_e6_from_parquet(
    docs_parquet: str,
    model_filter: str = "source = 'src0'",
    text_col: str = "text",
    buckets: int = 4096,
) -> list[int]:
    """unigram_model_e6's oracle-side twin: bucket counts via DuckDB
    (identical tokenization + md5 bucketing — integers, engine-exact),
    then the SAME driver-python floor(-math.log((c+1)/(total+B))*1e6).
    Because the log runs ONCE in this process's libm and both engines
    consume the resulting integer literals, a DuckDB-ln vs python-log
    last-ulp divergence at an e6 floor boundary is impossible — the
    ADVICE r8 ccnet flake risk, closed at the oracle layer."""
    import duckdb

    toks = f"regexp_split_to_array(trim({text_col}), ' +')"
    bucket = (
        "CAST(CAST(('0x' || substr(md5(t[i]), 1, 15)) AS UBIGINT) "
        f"% {buckets} AS BIGINT)"
    )
    rows = duckdb.sql(f"""
        WITH toks AS (SELECT {toks} AS t
                      FROM read_parquet('{docs_parquet}')
                      WHERE {model_filter}),
        ex AS (SELECT unnest([{bucket} for i in range(1, len(t) + 1)]) AS b
               FROM toks)
        SELECT b, COUNT(*) AS c FROM ex GROUP BY 1
    """).fetchall()
    by_bucket = {int(b): int(c) for b, c in rows}
    total = sum(by_bucket.values())
    denom = float(total + buckets)
    return [
        math.floor(-math.log((by_bucket.get(b, 0) + 1) / denom) * 1e6)
        for b in range(buckets)
    ]


def duck_unigram_nll_sql(
    table: str = "documents",
    model_filter: str = "source = 'src0'",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    model_e6: list[int] | None = None,
) -> str:
    """DuckDB oracle for unigram_nll_scores: same md5 bucket hashing,
    same Laplace-smoothed model, same e6 floor-then-integer-sum.

    `model_e6` (from unigram_model_e6 on the SAME model corpus) embeds
    the driver-computed model as integer literals, making the oracle
    libm-independent — the preferred form for gating.  When None the
    model is recomputed with DuckDB's own ln; a count whose -ln lands
    exactly on an e6 floor boundary could then flake by one ulp between
    libms (accepted risk of the recompute path, never observed at the
    tested scales)."""
    toks = f"regexp_split_to_array(trim({text_col}), ' +')"
    bucket = (
        "CAST(CAST(('0x' || substr(md5(t[i]), 1, 15)) AS UBIGINT) "
        f"% {buckets} AS BIGINT)"
    )
    if model_e6 is not None:
        vals = ", ".join(f"({b}, {v})" for b, v in enumerate(model_e6))
        model_cte = f"model(b, nll_e6) AS (VALUES {vals})"
    else:
        model_cte = f"""mc AS (SELECT b, COUNT(*) AS c FROM ex WHERE is_model GROUP BY 1),
    tot AS (SELECT (SELECT COALESCE(SUM(c), 0) FROM mc) AS mt),
    spine AS (SELECT unnest(range({buckets})) AS b),
    model AS (
        SELECT spine.b,
               CAST(floor(-ln((COALESCE(mc.c, 0) + 1) / (tot.mt + {buckets}.0))
                          * 1000000.0) AS BIGINT) AS nll_e6
        FROM spine CROSS JOIN tot LEFT JOIN mc ON spine.b = mc.b
    )"""
    return f"""
    WITH toks AS (SELECT {id_col}, {toks} AS t, ({model_filter}) AS is_model
                  FROM {table}),
    ex AS (
        SELECT {id_col}, is_model,
               unnest([{bucket} for i in range(1, len(t) + 1)]) AS b
        FROM toks
    ),
    {model_cte}
    SELECT ex.{id_col},
           COUNT(*) AS n_tokens,
           CAST(SUM(model.nll_e6) AS BIGINT) AS sum_nll_e6,
           CAST(SUM(model.nll_e6) // COUNT(*) AS BIGINT) AS mean_nll_e6
    FROM ex JOIN model ON ex.b = model.b
    GROUP BY 1
    """


def bigram_nll_scores(
    docs: DataFrame,
    model_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    lam: float = 0.7,
) -> DataFrame:
    """(id, n_tokens, sum_nll_e6, mean_nll_e6): NLL under an
    INTERPOLATED hashed-bigram LM — p(w|c) = lam * p_bi(w|c) +
    (1-lam) * p_uni(w), both Laplace-smoothed over md5 buckets.  The
    n-gram generalization the unigram scorer's docstring promises:
    same distributed plumbing, one more broadcast table.

    Unlike the unigram model, this one SEES WORD ORDER — scrambling a
    document raises its NLL (pinned in tests), which is most of what a
    real fluency filter adds over a bag of words.

    Model state (all driver-bounded, DSIR-style):
    - observed (context-bucket, word-bucket) pair COUNTS: <= B^2 rows,
      typically far fewer (collected once, broadcast);
    - a B-row per-context total and a B-row unigram-prob vector — the
      executors evaluate one shared mix expression for seen and unseen
      pairs alike, so every pair NLL comes from a single log runtime;
    - the B-row unigram model scores each document's FIRST token (no
      context).
    Scoring = one explode + two broadcast left joins + an exact integer
    per-doc sum; every emitted column is bigint."""
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism

    # --- fit: ONE model-corpus scan feeds both counts ------------------
    from classic_fcd_spark.session import scoped_persist

    mtoks = scoped_persist(
        model_docs.repartition(par).select(
            ngram_buckets(text_col, 1, buckets).alias("bs")
        ),
        "bigram_lm:model_buckets",
    )
    pair_rows = (
        mtoks.select(
            F.explode(
                F.zip_with(
                    F.slice("bs", 1, F.size("bs") - 1),
                    F.slice("bs", 2, F.size("bs") - 1),
                    lambda c, w_: F.struct(c.alias("c"), w_.alias("w")),
                )
            ).alias("p")
        )
        .groupBy("p")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    pair_cnt = {(int(r["p"]["c"]), int(r["p"]["w"])): int(r["n"]) for r in pair_rows}
    ctx_tot: dict[int, int] = {}
    for (c, _), n in pair_cnt.items():
        ctx_tot[c] = ctx_tot.get(c, 0) + n
    lp_uni = bucket_log_probs(
        model_docs, text_col, 1, buckets,
        exploded=mtoks.select(F.explode("bs").alias("b")),
    )

    # ONE runtime computes every pair NLL: the executors evaluate the
    # mix expression for seen and unseen pairs alike (seen pb differs
    # from unseen pb only by the broadcast count — same formula, cnt=0),
    # so a driver-libm vs JVM-libm last-ulp divergence cannot split the
    # model's values across two log implementations (the module's
    # exact-integer policy).
    pair_model = spark.createDataFrame(
        [(c, w, n) for (c, w), n in pair_cnt.items()],
        "c bigint, w bigint, cnt bigint",
    )
    ctx_vec = spark.createDataFrame(
        [(c, float(ctx_tot.get(c, 0))) for c in range(buckets)],
        "c bigint, ct double",
    )
    uni_vec = spark.createDataFrame(
        [(w, math.exp(lp_uni[w])) for w in range(buckets)],
        "w bigint, pu double",
    )
    first_model = spark.createDataFrame(
        [(w, math.floor(-lp_uni[w] * 1e6)) for w in range(buckets)],
        "w bigint, nll_e6 bigint",
    )

    # --- score ---------------------------------------------------------
    toks = docs.repartition(par, id_col).select(
        F.col(id_col), ngram_buckets(text_col, 1, buckets).alias("bs")
    )
    firsts = toks.select(
        id_col, F.element_at("bs", 1).alias("w")
    ).join(F.broadcast(first_model), "w")
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.zip_with(
                F.slice("bs", 1, F.size("bs") - 1),
                F.slice("bs", 2, F.size("bs") - 1),
                lambda c, w_: F.struct(c.alias("c"), w_.alias("w")),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.c").alias("c"), F.col("p.w").alias("w"))
    pb = (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0)) / (
        F.col("ct") + F.lit(float(buckets))
    )
    mix_nll = F.floor(
        -F.log(F.lit(lam) * pb + F.lit(1.0 - lam) * F.col("pu")) * F.lit(1e6)
    ).cast("bigint")
    scored_pairs = (
        pairs.join(F.broadcast(pair_model), ["c", "w"], "left")
        .join(F.broadcast(ctx_vec), "c")
        .join(F.broadcast(uni_vec), "w")
        .select(id_col, mix_nll.alias("nll_e6"))
    )
    per_doc = (
        firsts.select(id_col, "nll_e6")
        .unionByName(scored_pairs)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("nll_e6").alias("sum_nll_e6"))
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "sum_nll_e6",
        F.expr("sum_nll_e6 div n_tokens").alias("mean_nll_e6"),
    )


def _pair_structs(bs):
    """Exploded (c, w) bigram structs over a bucket array (the zip_with
    adjacent-pairs form shared by the trigram fit and both scorers)."""
    # greatest(.., 0): slice throws on a negative length, which an
    # empty token array (NULL/empty text) would otherwise produce
    n_pairs = F.greatest(F.size(bs) - 1, F.lit(0))
    return F.explode(
        F.zip_with(
            F.slice(bs, 1, n_pairs),
            F.slice(bs, 2, n_pairs),
            lambda c, w_: F.struct(c.alias("c"), w_.alias("w")),
        )
    )


def _triple_structs(bs):
    """Exploded (c1, c2, w) trigram structs over a bucket array."""
    n_tris = F.greatest(F.size(bs) - 2, F.lit(0))
    grams = F.zip_with(
        F.zip_with(
            F.slice(bs, 1, n_tris),
            F.slice(bs, 2, n_tris),
            lambda a, b: F.struct(a.alias("c1"), b.alias("c2")),
        ),
        F.slice(bs, 3, n_tris),
        lambda cc, w_: F.struct(
            cc["c1"].alias("c1"), cc["c2"].alias("c2"), w_.alias("w")
        ),
    )
    return F.explode(grams)


def trigram_nll_scores(
    docs: DataFrame,
    model_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    lams: tuple[float, float, float] = (0.2, 0.3, 0.5),
    max_model_trigrams: int = 4_000_000,
) -> DataFrame:
    """(id, n_tokens, sum_nll_e6, mean_nll_e6): NLL under an INTERPOLATED
    hashed-trigram LM — the order-3 instance of the family (proving the
    unigram scorer's "any n-gram order" claim beyond order 2):

        p(w | c1 c2) = l3·p_tri(w|c1,c2) + l2·p_bi(w|c2) + l1·p_uni(w)

    with (l1, l2, l3) = `lams`, every component Laplace-smoothed over md5
    buckets.  Token 1 scores with the unigram; token 2 with the bigram
    mix carrying the conditional mass, (l2+l3)·p_bi + l1·p_uni — the
    standard back-off-at-the-edge convention, pinned in tests.

    Model state (all driver-bounded, broadcast):
    - observed (c1, c2, w) triple counts: <= B^3 rows worst case, in
      practice bounded by DISTINCT observed trigrams in the model corpus.
      The fit COLLECTS these into Python dicts of tuple keys, whose
      driver footprint is several hundred bytes per observed trigram —
      the B=256 worst case of 16.7M triples is multiple GB of dict, not
      the ~400 MB of the underlying narrow rows.  The fit therefore
      counts distinct observed trigrams FIRST and refuses over
      `max_model_trigrams` (default 4M, ~1-2 GB of driver dict) instead
      of OOMing mid-collect; lower `buckets` or raise the cap only with
      driver memory to match;
    - observed (c1, c2) context totals — joined LEFT and coalesced to 0
      (never materialized dense: a dense context table would be B^2);
    - the B-row bigram pair/context/unigram tables of the order-2 model.
    Scoring = one explode per n-gram order + broadcast left joins + an
    exact integer per-doc sum (every per-token NLL floored to e6 BEFORE
    summation — the module's order-free-integer policy); the mix
    expression is evaluated once, JVM-side, for seen and unseen n-grams
    alike, so no driver-libm/JVM-libm split can occur."""
    l1, l2, l3 = lams
    spark = docs.sparkSession
    par = spark.sparkContext.defaultParallelism

    from classic_fcd_spark.session import scoped_persist

    mtoks = scoped_persist(
        model_docs.repartition(par).select(
            ngram_buckets(text_col, 1, buckets).alias("bs")
        ),
        "trigram_lm:model_buckets",
    )
    _pairs_col, _triples_col = _pair_structs, _triple_structs

    # --- fit: one model scan per order, counts collected (bounded) -----
    pair_rows = (
        mtoks.select(_pairs_col(F.col("bs")).alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    pair_cnt = {(int(r["p"]["c"]), int(r["p"]["w"])): int(r["n"]) for r in pair_rows}
    ctx_tot: dict[int, int] = {}
    for (c, _), n in pair_cnt.items():
        ctx_tot[c] = ctx_tot.get(c, 0) + n
    # persisted so the refusal-guard count() and the collect() below
    # share one aggregation instead of running the fit's most expensive
    # stage twice (r7 advice)
    tri_grouped = scoped_persist(
        mtoks.filter(F.size("bs") >= 3)
        .select(_triples_col(F.col("bs")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("n")),
        "trigram_nll:tri_grouped",
    )
    n_tri = tri_grouped.count()
    if n_tri > max_model_trigrams:
        raise ValueError(
            f"model corpus observes {n_tri} distinct hashed trigrams, "
            f"over the driver-collect budget {max_model_trigrams}; "
            f"lower buckets (currently {buckets}) or raise "
            "max_model_trigrams with driver memory to match"
        )
    tri_rows = tri_grouped.collect()
    tri_cnt = {
        (int(r["t"]["c1"]), int(r["t"]["c2"]), int(r["t"]["w"])): int(r["n"])
        for r in tri_rows
    }
    tri_ctx: dict[tuple[int, int], int] = {}
    for (c1, c2, _), n in tri_cnt.items():
        tri_ctx[(c1, c2)] = tri_ctx.get((c1, c2), 0) + n
    lp_uni = bucket_log_probs(
        model_docs, text_col, 1, buckets,
        exploded=mtoks.select(F.explode("bs").alias("b")),
    )

    tri_model = spark.createDataFrame(
        [(c1, c2, w, n) for (c1, c2, w), n in tri_cnt.items()] or [(-1, -1, -1, 0)],
        "c1 bigint, c2 bigint, w bigint, cnt3 bigint",
    )
    tri_ctx_df = spark.createDataFrame(
        [(c1, c2, n) for (c1, c2), n in tri_ctx.items()] or [(-1, -1, 0)],
        "c1 bigint, c2 bigint, ct3 bigint",
    )
    pair_model = spark.createDataFrame(
        [(c, w, n) for (c, w), n in pair_cnt.items()] or [(-1, -1, 0)],
        "c bigint, w bigint, cnt bigint",
    )
    ctx_vec = spark.createDataFrame(
        [(c, float(ctx_tot.get(c, 0))) for c in range(buckets)],
        "c bigint, ct double",
    )
    uni_vec = spark.createDataFrame(
        [(w, math.exp(lp_uni[w])) for w in range(buckets)],
        "w bigint, pu double",
    )
    first_model = spark.createDataFrame(
        [(w, math.floor(-lp_uni[w] * 1e6)) for w in range(buckets)],
        "w bigint, nll_e6 bigint",
    )

    # --- score -----------------------------------------------------------
    toks = docs.repartition(par, id_col).select(
        F.col(id_col), ngram_buckets(text_col, 1, buckets).alias("bs")
    )
    # token 1: unigram
    firsts = toks.select(id_col, F.element_at("bs", 1).alias("w")).join(
        F.broadcast(first_model), "w"
    )
    pb = (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(1.0)) / (
        F.col("ct") + F.lit(float(buckets))
    )
    pu = F.col("pu")
    # token 2: the order-2 edge — conditional mass on the bigram
    seconds = (
        toks.filter(F.size("bs") >= 2)
        .select(
            id_col,
            F.element_at("bs", 1).alias("c"),
            F.element_at("bs", 2).alias("w"),
        )
        .join(F.broadcast(pair_model), ["c", "w"], "left")
        .join(F.broadcast(ctx_vec), "c")
        .join(F.broadcast(uni_vec), "w")
        .select(
            id_col,
            F.floor(
                -F.log(F.lit(l2 + l3) * pb + F.lit(l1) * pu) * F.lit(1e6)
            )
            .cast("bigint")
            .alias("nll_e6"),
        )
    )
    # tokens 3+: the full trigram mix
    p3 = (F.coalesce(F.col("cnt3"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("ct3"), F.lit(0)).cast("double") + F.lit(float(buckets))
    )
    triples = (
        toks.filter(F.size("bs") >= 3)
        .select(F.col(id_col), _triples_col(F.col("bs")).alias("t"))
        .select(
            id_col,
            F.col("t.c1").alias("c1"),
            F.col("t.c2").alias("c2"),
            F.col("t.w").alias("w"),
        )
        .join(F.broadcast(tri_model), ["c1", "c2", "w"], "left")
        .join(F.broadcast(tri_ctx_df), ["c1", "c2"], "left")
        .join(
            F.broadcast(pair_model.withColumnRenamed("c", "c2")), ["c2", "w"], "left"
        )
        .join(F.broadcast(ctx_vec.withColumnRenamed("c", "c2")), "c2")
        .join(F.broadcast(uni_vec), "w")
        .select(
            id_col,
            F.floor(
                -F.log(F.lit(l3) * p3 + F.lit(l2) * pb + F.lit(l1) * pu)
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("nll_e6"),
        )
    )
    per_doc = (
        firsts.select(id_col, "nll_e6")
        .unionByName(seconds)
        .unionByName(triples)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_tokens"), F.sum("nll_e6").alias("sum_nll_e6"))
    )
    return per_doc.select(
        id_col,
        "n_tokens",
        "sum_nll_e6",
        F.expr("sum_nll_e6 div n_tokens").alias("mean_nll_e6"),
    )


class TrigramProbModel(NamedTuple):
    """Fitted state of the log-free interpolated trigram LM: five count
    tables (pure integers — parquet round-trips bit-exactly) plus the
    two scoring constants.  pctx/tctx are DERIVED sums over pair/tri, so
    save/load persists only the three base tables and re-derives the
    rest with the same integer aggregations the fit uses — a loaded
    model scores bit-identically to a freshly fitted one."""

    uni_model: DataFrame  # (w, ucnt)
    pair_model: DataFrame  # (c, w, pcnt)
    pctx_model: DataFrame  # (c, pctx)
    tri_model: DataFrame  # (c1, c2, w, tcnt)
    tctx_model: DataFrame  # (c1, c2, tctx)
    ut: float  # float(sum ucnt) + buckets — the unigram denominator
    buckets: int
    lams: tuple


def fit_trigram_prob_model(
    model_docs: DataFrame,
    text_col: str = "text",
    buckets: int = 256,
    lams: tuple[float, float, float] = (0.2, 0.3, 0.5),
    max_model_trigrams: int = 4_000_000,
    persist_scope: str = "trigram_prob",
) -> TrigramProbModel:
    """Fit the count tables of the log-free trigram LM (see
    trigram_prob_scores).  The tables never leave the JVM (r8): each is
    a plain aggregation over the persisted token arrays, itself
    persisted so the refusal-guard count() and every broadcast join
    share ONE materialization (the r7 advice's double-aggregation
    finding), then broadcast directly.  The r7 form collected each
    table to the driver, built Python dicts, and re-shipped them via
    createDataFrame — three serialization round-trips that dominated
    the fit cost and made the gated query the slowest bench workload.
    Counts are exact integers either way, so the scored values are
    bit-identical to the collected-model form this replaces."""
    bf = float(buckets)
    spark = model_docs.sparkSession
    par = spark.sparkContext.defaultParallelism

    from classic_fcd_spark.session import scoped_persist

    mtoks = scoped_persist(
        model_docs.repartition(par).select(
            ngram_buckets(text_col, 1, buckets).alias("bs")
        ),
        f"{persist_scope}:model_buckets",
    )
    uni_model = scoped_persist(
        mtoks.select(F.explode("bs").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("ucnt")),
        f"{persist_scope}:uni_model",
    )
    utot = uni_model.agg(F.sum("ucnt")).first()[0] or 0
    # (utot + B) as one exact double literal shared by every division
    ut = float(utot) + bf
    pair_model = scoped_persist(
        mtoks.select(_pair_structs(F.col("bs")).alias("p"))
        .select(F.col("p.c").alias("c"), F.col("p.w").alias("w"))
        .groupBy("c", "w")
        .agg(F.count("*").alias("pcnt")),
        f"{persist_scope}:pair_model",
    )
    pctx_model = pair_model.groupBy("c").agg(F.sum("pcnt").alias("pctx"))
    tri_model = scoped_persist(
        mtoks.filter(F.size("bs") >= 3)
        .select(_triple_structs(F.col("bs")).alias("t"))
        .select("t.c1", "t.c2", F.col("t.w").alias("w"))
        .groupBy("c1", "c2", "w")
        .agg(F.count("*").alias("tcnt")),
        f"{persist_scope}:tri_model",
    )
    n_tri = tri_model.count()
    if n_tri > max_model_trigrams:
        raise ValueError(
            f"model corpus observes {n_tri} distinct hashed trigrams, "
            f"over the broadcast budget {max_model_trigrams}; lower "
            f"buckets (currently {buckets}) or raise max_model_trigrams "
            "with executor memory to match"
        )
    tctx_model = tri_model.groupBy("c1", "c2").agg(F.sum("tcnt").alias("tctx"))
    return TrigramProbModel(
        uni_model, pair_model, pctx_model, tri_model, tctx_model, ut, buckets, lams
    )


def save_trigram_prob_model(model: TrigramProbModel, path: str) -> None:
    """Materialize the three BASE count tables (uni/pair/tri) as parquet;
    the derived tables and `ut` are recomputed on load with the same
    integer aggregations, so persisted state is minimal and exact."""
    model.uni_model.write.mode("overwrite").parquet(f"{path}/uni")
    model.pair_model.write.mode("overwrite").parquet(f"{path}/pair")
    model.tri_model.write.mode("overwrite").parquet(f"{path}/tri")


def load_trigram_prob_model(
    spark: SparkSession,
    path: str,
    buckets: int = 256,
    lams: tuple[float, float, float] = (0.2, 0.3, 0.5),
) -> TrigramProbModel:
    """Reload a saved model.  Counts are bigints (parquet-exact) and the
    derivations mirror fit_trigram_prob_model line for line, so a loaded
    model's scores hash-match a fresh fit's."""
    uni = spark.read.parquet(f"{path}/uni")
    pair = spark.read.parquet(f"{path}/pair")
    tri = spark.read.parquet(f"{path}/tri")
    utot = uni.agg(F.sum("ucnt")).first()[0] or 0
    ut = float(utot) + float(buckets)
    pctx = pair.groupBy("c").agg(F.sum("pcnt").alias("pctx"))
    tctx = tri.groupBy("c1", "c2").agg(F.sum("tcnt").alias("tctx"))
    return TrigramProbModel(uni, pair, pctx, tri, tctx, ut, buckets, lams)


def score_trigram_prob(
    docs: DataFrame,
    model: TrigramProbModel,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score `docs` under a fitted/loaded model — one token explode +
    broadcast left joins + an exact e9 floor-then-integer-sum.  This is
    the 100 TB hot path: the corpus meets only broadcast hash joins and
    column algebra; the fit runs once per model corpus, not per query
    (r8 — previously the gated query refitted every run, a training job
    masquerading as a query)."""
    l1, l2, l3 = model.lams
    l23 = l2 + l3  # one Python addition, embedded as the same literal
    buckets, bf, ut = model.buckets, float(model.buckets), model.ut
    uni_model, pair_model, pctx_model = (
        model.uni_model,
        model.pair_model,
        model.pctx_model,
    )
    tri_model, tctx_model = model.tri_model, model.tctx_model
    par = docs.sparkSession.sparkContext.defaultParallelism

    # --- score: identical IEEE expression shapes to duck_trigram_prob_sql
    pu = (F.coalesce(F.col("ucnt"), F.lit(0)) + F.lit(1.0)) / F.lit(ut)
    pb = (F.coalesce(F.col("pcnt"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("pctx"), F.lit(0)) + F.lit(bf)
    )
    p3 = (F.coalesce(F.col("tcnt"), F.lit(0)) + F.lit(1.0)) / (
        F.coalesce(F.col("tctx"), F.lit(0)) + F.lit(bf)
    )

    # r15 single-pass scorer: ONE explode emits (w, c2 = prev token,
    # c1 = prev-prev token) per token — c2/c1 are NULL at the doc head —
    # and ONE chain of five broadcast left joins scores every position;
    # a CASE on the context nulls selects the per-position formula.  The
    # previous three-branch union re-read the (persisted) token table
    # three times and built 7-8 broadcast relations per call (pair/pctx
    # were broadcast twice under different key names, defeating exchange
    # reuse); measured ~2 s/call at sf0.1 against ~the scan cost for
    # this form.  Value-exact: each CASE arm is the branch's verbatim
    # expression (same literals, same association order), null-keyed
    # rows simply miss the left joins exactly like the old narrow
    # branches never joined them, and e9 flooring still happens before
    # the per-doc integer sum.
    #
    # size(bs) >= 1 drops NULL-/empty-text docs: the oracle's token CTE
    # emits no rows for such docs (r7 advice — latent gate mismatch).
    tok = (
        docs.repartition(par, id_col)
        .select(F.col(id_col), ngram_buckets(text_col, 1, buckets).alias("bs"))
        .filter(F.size("bs") >= 1)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("bs")),
                    lambda i: F.struct(
                        F.element_at(F.col("bs"), i).alias("w"),
                        F.when(i >= 2, F.element_at(F.col("bs"), i - 1)).alias("c2"),
                        F.when(i >= 3, F.element_at(F.col("bs"), i - 2)).alias("c1"),
                    ),
                )
            ).alias("t"),
        )
        .select(id_col, "t.w", "t.c2", "t.c1")
    )
    joined = (
        tok.join(F.broadcast(uni_model), "w", "left")
        .join(
            F.broadcast(pair_model.withColumnRenamed("c", "c2")), ["c2", "w"], "left"
        )
        .join(F.broadcast(pctx_model.withColumnRenamed("c", "c2")), "c2", "left")
        .join(F.broadcast(tri_model), ["c1", "c2", "w"], "left")
        .join(F.broadcast(tctx_model), ["c1", "c2"], "left")
    )
    p = (
        F.when(F.col("c2").isNull(), pu)
        .when(F.col("c1").isNull(), (F.lit(l23) * pb) + (F.lit(l1) * pu))
        .otherwise(((F.lit(l3) * p3) + (F.lit(l2) * pb)) + (F.lit(l1) * pu))
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.floor(p * F.lit(1000000000.0)).cast("bigint")).alias("sum_p_e9"),
    )


def trigram_prob_scores(
    docs: DataFrame,
    model_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    lams: tuple[float, float, float] = (0.2, 0.3, 0.5),
    max_model_trigrams: int = 4_000_000,
) -> DataFrame:
    """(id, n_tokens, sum_p_e9): the LOG-FREE exact-integer twin of
    trigram_nll_scores — per token, the interpolated probability itself

        p = l3·p_tri + l2·p_bi + l1·p_uni      (tokens 3+)
        p = (l2+l3)·p_bi + l1·p_uni            (token 2)
        p = p_uni                              (token 1)

    floored to e9 fixed point and integer-summed per doc.  Every
    component probability is a RATIONAL (cnt+1)/(ctx+B) evaluated with
    plain IEEE +,×,÷ — no log, no exp — so the score is bit-identical
    on any engine that parses the same float literals, which is what
    makes this form DRIVER-GATEABLE by value hash where the NLL form
    (one ln per token) is libm-hostage and stays unit/in-test-gated.
    -log is monotone, so every ordering/bucketing decision the NLL
    scorer supports is equally supported by sum_p_e9 at equal n_tokens.

    Convenience fit-then-score composition; callers that score more
    than once should fit_trigram_prob_model / save / load and call
    score_trigram_prob directly (the gated query does, via the
    corpus-keyed model cache in queries/text.py)."""
    model = fit_trigram_prob_model(
        model_docs, text_col, buckets, lams, max_model_trigrams
    )
    return score_trigram_prob(docs, model, id_col, text_col)


def duck_trigram_prob_sql(
    table: str = "documents",
    model_filter: str = "source = 'src0'",
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    lams: tuple[float, float, float] = (0.2, 0.3, 0.5),
) -> str:
    """DuckDB oracle for trigram_prob_scores: same md5 bucketing, same
    count tables (via LAG over token ordinals — set-identical to the
    zip_with explodes), same rational probabilities with the same
    literal lambdas in the same association order, same e9
    floor-then-integer-sum.  Static SQL — no model literals needed,
    because nothing transcendental is computed on either side."""
    l1, l2, l3 = lams
    l23 = l2 + l3
    bf = float(buckets)
    bucket = (
        "CAST(CAST(('0x' || substr(md5(t[i]), 1, 15)) AS UBIGINT) "
        f"% {buckets} AS BIGINT)"
    )
    pu = f"((COALESCE(u.ucnt, 0) + 1.0) / ((SELECT n FROM utot) + {bf!r}))"
    pb = f"((COALESCE(p.pcnt, 0) + 1.0) / (COALESCE(px.pctx, 0) + {bf!r}))"
    p3 = f"((COALESCE(tr.tcnt, 0) + 1.0) / (COALESCE(tx.tctx, 0) + {bf!r}))"
    return f"""
    WITH toks AS (
        SELECT {id_col}, ({model_filter}) AS is_model,
               regexp_split_to_array(trim({text_col}), ' +') AS t
        FROM {table}
    ),
    ex AS (
        SELECT {id_col}, is_model, i AS ord, {bucket} AS b
        FROM (SELECT {id_col}, is_model, t, generate_subscripts(t, 1) AS i
              FROM toks)
    ),
    seq AS (
        SELECT {id_col}, is_model, ord, b,
               LAG(b, 1) OVER w AS c2, LAG(b, 2) OVER w AS c1
        FROM ex WINDOW w AS (PARTITION BY {id_col} ORDER BY ord)
    ),
    uni AS (SELECT b AS w, COUNT(*) AS ucnt FROM seq WHERE is_model GROUP BY 1),
    utot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM seq WHERE is_model),
    pairs AS (
        SELECT c2 AS c, b AS w, COUNT(*) AS pcnt
        FROM seq WHERE is_model AND c2 IS NOT NULL GROUP BY 1, 2
    ),
    pctxs AS (SELECT c, SUM(pcnt) AS pctx FROM pairs GROUP BY 1),
    tris AS (
        SELECT c1, c2, b AS w, COUNT(*) AS tcnt
        FROM seq WHERE is_model AND c1 IS NOT NULL GROUP BY 1, 2, 3
    ),
    tctxs AS (SELECT c1, c2, SUM(tcnt) AS tctx FROM tris GROUP BY 1, 2),
    scored AS (
        SELECT s.{id_col},
               CAST(floor((CASE
                   WHEN s.ord = 1 THEN {pu}
                   WHEN s.ord = 2 THEN (({l23!r} * {pb}) + ({l1!r} * {pu}))
                   ELSE ((({l3!r} * {p3}) + ({l2!r} * {pb})) + ({l1!r} * {pu}))
               END) * 1000000000.0) AS BIGINT) AS p_e9
        FROM seq s
        LEFT JOIN uni u ON u.w = s.b
        LEFT JOIN pairs p ON p.c = s.c2 AND p.w = s.b
        LEFT JOIN pctxs px ON px.c = s.c2
        LEFT JOIN tris tr ON tr.c1 = s.c1 AND tr.c2 = s.c2 AND tr.w = s.b
        LEFT JOIN tctxs tx ON tx.c1 = s.c1 AND tx.c2 = s.c2
    )
    SELECT {id_col}, COUNT(*) AS n_tokens, CAST(SUM(p_e9) AS BIGINT) AS sum_p_e9
    FROM scored GROUP BY {id_col}
    """
