"""Benchmark decontamination: flag training documents that share word
n-grams with an evaluation/benchmark set.

The published recipes (GPT-3 appendix C, PaLM §6.1, The Pile) all reduce
to the same relational shape: build the set of distinct n-grams occurring
in the benchmark corpus, then mark any training doc containing one.  The
scale asymmetry is the whole design: benchmarks are MBs while the corpus
is TBs, so the benchmark n-gram set is broadcast and the corpus side is a
map-only scan — no shuffle of corpus data at all, just a per-doc
aggregation of matched grams (map-side combined).  Reference parity note:
classic-fcd has no decontamination concept; this is part of the
training-data-pipeline extension surface (SURVEY §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dedup import word_shingles


def benchmark_ngrams(bench: DataFrame, text_col: str = "text", n: int = 13) -> DataFrame:
    """Distinct word n-grams of the benchmark set — one `gram` column.

    Kept as its own step so callers can persist/reuse it across many
    corpus shards: the benchmark set is fixed per training run."""
    return (
        bench.select(F.explode(word_shingles(text_col, n)).alias("gram"))
        .distinct()
    )


def contamination_report(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """(id_col, matched_ngrams, contaminated) for every training doc.

    matched_ngrams counts DISTINCT benchmark n-grams found in the doc
    (word_shingles is distinct by construction, so the count needs no
    extra dedup); contaminated = matched_ngrams > 0.  The benchmark gram
    set rides a broadcast hash join — the corpus-side exploded grams
    never shuffle; the only exchange is the per-doc count aggregation,
    which combines map-side and is bounded by the contaminated subset."""
    grams = benchmark_ngrams(bench, text_col, n)
    doc_grams = docs.select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("gram"))
    hits = (
        doc_grams.join(F.broadcast(grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("matched_ngrams"))
    )
    return (
        docs.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("matched_ngrams", F.lit(0)).alias("matched_ngrams"),
            (F.coalesce("matched_ngrams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Training docs with every benchmark-overlapping doc removed — the
    filter form of contamination_report, as a broadcast LEFT ANTI join so
    the clean (overwhelming-majority) side streams through map-only."""
    grams = benchmark_ngrams(bench, text_col, n)
    dirty = (
        docs.select(F.col(id_col), F.explode(word_shingles(text_col, n)).alias("gram"))
        .join(F.broadcast(grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )
    return docs.join(dirty, id_col, "left_anti")


def semantic_contamination_report(
    corpus_emb: DataFrame,
    bench_emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """(id, max_bench_cos_e6, contaminated): the EMBEDDING-space twin of
    the n-gram report — flag training items semantically close to any
    benchmark item (catches the paraphrased/translated leakage that
    13-gram overlap cannot see; the complement, not a replacement).

    Same scale asymmetry as the n-gram path: the benchmark side is tiny
    → broadcast; the corpus side is a map-only scan scoring |bench|
    cosines per vector with the corpus vector's norm hoisted to ONE
    column (cost n·b folds, linear in the corpus for a fixed
    benchmark).  For benchmark sets too big to broadcast, the banded
    hyperplane-LSH candidate machinery (ann_lsh_search's table probe)
    replaces the cross — same recall dial as the dedup family."""
    from classic_fcd_spark.operators.similarity import dot_sql, floor_e6

    spark = corpus_emb.sparkSession
    par = spark.sparkContext.defaultParallelism
    bn = bench_emb.select(
        F.col(id_col).alias("__bid"),
        F.col(vec_col).alias("be"),
        F.expr(f"sqrt({dot_sql(vec_col, vec_col)})").alias("nb"),
    )
    withn = corpus_emb.repartition(par, id_col).select(
        id_col,
        vec_col,
        F.expr(f"sqrt({dot_sql(vec_col, vec_col)})").alias("__nv"),
    )
    cos = F.expr(dot_sql(vec_col, "be")) / (F.col("__nv") * F.col("nb"))
    return (
        withn.crossJoin(F.broadcast(bn))
        .select(F.col(id_col), cos.alias("cos"))
        .groupBy(id_col)
        .agg(F.max("cos").alias("mc"))
        .select(
            id_col,
            floor_e6(F.col("mc")).alias("max_bench_cos_e6"),
            (F.col("mc") >= threshold).alias("contaminated"),
        )
    )
