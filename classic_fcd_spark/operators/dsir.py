"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169, public literature): pick the subset of a raw corpus
that looks most like a small TARGET distribution (the "give me 10B
Wikipedia-like tokens out of CommonCrawl" selector).

Recipe (the paper's, re-expressed Spark-first):
1. Featurize every document as a bag of HASHED n-grams (bucket =
   md5(gram) mod B) — the fixed-width sketch that makes two corpora
   comparable without a vocabulary.
2. Fit two smoothed categorical distributions over the B buckets — one
   on the target sample, one on the raw corpus — each a single groupBy
   count (map-side combined; B rows out, tiny).
3. Score every raw doc with its importance log-ratio
   sum_{gram g in doc} log(p_target[bucket(g)] / p_raw[bucket(g)]) —
   an explode + broadcast-join against the B-row log-ratio table + one
   per-doc sum.  No UDF anywhere; the log-ratio table is the model.
4. Resample without replacement via the Gumbel-top-k trick (public:
   sampling ∝ exp(score) without replacement == top-k of score + Gumbel
   noise); the noise is md5-derived, so selection is DETERMINISTIC and
   re-runs/retries pick the same rows — same argument as
   operators/sampling.py.

Scale shape at 100 TB: featurize/score is a projection + one shuffle of
(doc, bucket-count) rows; both distributions are B-row broadcasts; the
final top-k is a TakeOrdered.  Nothing grows with corpus^2 and the only
driver-side state is the 2B-float model.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dedup import ws_tokens

_BUCKET_HEX = 15  # 60 bits — conv() stays exact in a long


def ngram_buckets(text, n: int = 2, buckets: int = 256) -> Column:
    """Array of hashed n-gram bucket ids (WITH multiplicity — DSIR
    features are bags, not sets).  Docs with fewer than n tokens yield
    an empty array (they score 0 and sort on noise alone).

    The token array is LET-BOUND via a single-element outer transform
    before the per-gram lambda touches it: higher-order-function lambda
    bodies are interpreted per ELEMENT, so referencing ws_tokens(text)
    (a regexp split of the whole doc) inside the inner lambda re-split
    the document once per token — O(tokens x doc_len) per doc, measured
    as ~16x the whole scoring stage at sf0.1.  Binding it as a
    lambda variable evaluates the split once per row; every emitted
    bucket id is unchanged."""

    def over(ts: Column) -> Column:
        idx = F.sequence(F.lit(1), F.size(ts) - (n - 1))
        gram = lambda i: F.array_join(F.slice(ts, i, n), " ")  # noqa: E731
        bucket = lambda i: (  # noqa: E731
            F.conv(F.substring(F.md5(gram(i)), 1, _BUCKET_HEX), 16, 10).cast(
                "long"
            )
            % buckets
        )
        return F.when(F.size(ts) >= n, F.transform(idx, bucket)).otherwise(
            F.array().cast("array<bigint>")
        )

    return F.element_at(F.transform(F.array(ws_tokens(text)), over), 1)


def bucket_log_probs(
    docs: DataFrame, text_col: str = "text", n: int = 2, buckets: int = 256,
    exploded: DataFrame | None = None,
) -> dict[int, float]:
    """Laplace-smoothed log p[bucket] over a corpus: (cnt_b + 1) /
    (total + B).  One explode + one groupBy (map-side combined); only
    the B-row histogram is collected — the model, bounded by B.
    `exploded` (an (id, b) table) skips the explode when the caller
    already materialized it."""
    ex = (
        exploded.select("b")
        if exploded is not None
        else docs.select(F.explode(ngram_buckets(text_col, n, buckets)).alias("b"))
    )
    cnts = ex.groupBy("b").agg(F.count("*").alias("c")).collect()
    by_bucket = {int(r["b"]): int(r["c"]) for r in cnts}
    total = sum(by_bucket.values())
    denom = float(total + buckets)
    return {
        b: math.log((by_bucket.get(b, 0) + 1) / denom) for b in range(buckets)
    }


def dsir_scores(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = 256,
    quantize_e6: bool = False,
    memo_key: str | None = None,
) -> DataFrame:
    """(id, score): importance log-ratio of every raw doc under the
    target-vs-raw hashed-ngram models.  The log-ratio table is built
    driver-side (2 x B floats) and broadcast; scoring is explode +
    broadcast equi-join + per-doc sum — one shuffle of narrow rows.

    `memo_key`: the two fitted histograms (a pure function of the two
    corpora) and the raw side's exploded bucket silver are memoized per
    session under that key — steady-state calls skip both model-fit
    collect jobs and the md5 hashing.  Without it every call fits and
    hashes afresh.

    `quantize_e6` emits integer fixed-point scores instead: each
    bucket's log-ratio is floored to 1e-6 resolution BEFORE the per-doc
    sum, so the sum is exact bigint arithmetic — order-free and
    bit-identical across engines.  A float sum over an unordered groupBy
    is not reproducible (IEEE addition does not commute with plan
    order), which is why the driver-gated form uses this mode (same
    lesson as floor_e6 in the ANN family)."""
    spark = raw_docs.sparkSession
    # the raw side's exploded bucket table feeds BOTH the raw model fit
    # and the per-doc scoring; with `memo_key` it is a silver, so the
    # md5 hashing runs once per corpus
    from classic_fcd_spark.session import session_memo, session_silver

    # spread the md5 bigram hashing across cores before the explode —
    # single-file scans arrive as one partition
    par = spark.sparkContext.defaultParallelism

    def _build_ex():
        return raw_docs.repartition(par, id_col).select(
            F.col(id_col), F.explode(ngram_buckets(text_col, n, buckets)).alias("b")
        )

    def key(part: str) -> str | None:
        return None if memo_key is None else f"dsir:{part}|{memo_key}"

    ex = session_silver(spark, key("raw_buckets"), _build_ex)
    lp_t = session_memo(
        spark, key("lp_t"), lambda: bucket_log_probs(target_docs, text_col, n, buckets)
    )
    lp_r = session_memo(
        spark,
        key("lp_r"),
        lambda: bucket_log_probs(raw_docs, text_col, n, buckets, exploded=ex),
    )
    if quantize_e6:
        ratio = spark.createDataFrame(
            [(b, math.floor((lp_t[b] - lp_r[b]) * 1e6)) for b in range(buckets)],
            "b bigint, lr bigint",
        )
        zero = F.lit(0).cast("bigint")
    else:
        ratio = spark.createDataFrame(
            [(b, lp_t[b] - lp_r[b]) for b in range(buckets)], ["b", "lr"]
        )
        zero = F.lit(0.0)
    return (
        ex.join(F.broadcast(ratio), "b")
        .groupBy(id_col)
        .agg(F.sum("lr").alias("score"))
        .unionByName(  # docs with < n tokens: no features, score 0
            raw_docs.join(ex.select(id_col).distinct(), id_col, "left_anti").select(
                F.col(id_col), zero.alias("score")
            )
        )
    )


def gumbel_noise(key: Column | str, salt: str = "dsir") -> Column:
    """Deterministic standard Gumbel draw from the md5 of (salt || key):
    u = (bucket + 0.5) / 2^60 uniform in (0, 1), g = -log(-log(u)).
    Stable across re-runs/retries — rand() is neither."""
    c = F.col(key) if isinstance(key, str) else key
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, _BUCKET_HEX),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(0.5)) / F.lit(float(1 << 60))
    return -F.log(-F.log(u))


def gumbel_noise_e6(key: Column | str, salt: str = "dsir") -> Column:
    """floor(gumbel * 1e6) as bigint — the fixed-point Gumbel draw the
    integer-exact selection key uses (same scale as the e6 scores, so
    score + noise stays a temperature-1 Gumbel-top-k in e6 units)."""
    return F.floor(gumbel_noise(key, salt) * F.lit(1e6)).cast("bigint")


def dsir_resample(
    scored: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "dsir",
    quantize_e6: bool = False,
) -> DataFrame:
    """Top-k of score + Gumbel(md5) — samples k docs without replacement
    with probability ∝ exp(score), deterministically (Gumbel-top-k,
    public result).  A TakeOrdered, no global sort materialized.
    `quantize_e6`: score is already e6-fixed-point bigint; the noise is
    floored to the same scale so the key is exact integer arithmetic."""
    noise = gumbel_noise_e6(id_col, salt) if quantize_e6 else gumbel_noise(id_col, salt)
    key = (F.col("score") + noise).alias("gumbel_key")
    return (
        scored.select(id_col, "score", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col).asc())
        .limit(k)
    )


def dsir_select(
    raw_docs: DataFrame,
    target_docs: DataFrame,
    k: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    buckets: int = 256,
    salt: str = "dsir",
    quantize_e6: bool = False,
    memo_key: str | None = None,
) -> DataFrame:
    """The composed selector: (id, score, gumbel_key) of the k raw docs
    chosen to match the target distribution.  `quantize_e6` runs the
    integer-exact fixed-point path (the driver-gated form)."""
    scored = dsir_scores(
        raw_docs,
        target_docs,
        id_col,
        text_col,
        n,
        buckets,
        quantize_e6=quantize_e6,
        memo_key=memo_key,
    )
    return dsir_resample(scored, k, id_col, salt, quantize_e6=quantize_e6)
