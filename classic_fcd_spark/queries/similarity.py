"""Similarity-search query inventory over `embeddings`.

Brute-force cosine top-k (baseline), LSH bucketing (scale path), and
threshold pair search — oracle-checked with floor(cos*1e6) encoding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from classic_fcd_spark.operators.similarity import (
    blocked_cosine_pairs,
    bucket_sql,
    cosine,
    duck_cosine_sql,
    floor_e6,
    hyperplane_weights,
)
from classic_fcd_spark.queries.registry import register
from classic_fcd_spark.session import load_tables

DIM = 64
_N_QUERIES = 10
_TOP_K = 5


# ---------------------------------------------------------------------------
# Brute-force cosine top-k.
# ---------------------------------------------------------------------------
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN baseline: brute-force cosine top-k. The query set is tiny →
    broadcast; scoring is a JVM-side zip_with/aggregate fold (no UDF,
    no shuffle of the corpus); per-query top-k via window. At 100 TB
    the corpus scan partitions perfectly; use ann_lsh_buckets to prune.

    Unregistered: ann_lsh_search and ann_ivf_search prove their recall
    contracts against this exact function in
    tests/test_dedup_similarity.py, and it is a bench.py workload."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    scored = (
        F.broadcast(q)
        .crossJoin(emb.select(F.col("vec_id").alias("nid"), "embedding"))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine("qe", "embedding").alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("qid", "nid", "rnk", floor_e6(F.col("cos")).alias("cos_e6"))
    )


# ---------------------------------------------------------------------------
# LSH bucketing (random-hyperplane signs, md5-derived deterministic planes).
# ---------------------------------------------------------------------------
_WEIGHTS = hyperplane_weights(8, DIM)


# Unregistered: ann_lsh_search computes the identical bucket assignment
# inside its gated plan (oracle included); this bucket-only form is a
# bench.py workload with its own tests.
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: 8-bit random-hyperplane LSH bucketing with
    deterministic md5-derived integer planes.  Bucket assignment is a
    projection; ANN then probes only matching buckets — shuffle on
    bucket id, collision-bounded."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return (
        emb.select(
            "vec_id", F.expr(bucket_sql("embedding", _WEIGHTS, "spark")).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


# ---------------------------------------------------------------------------
# Multi-table bucket-probe top-k: the ANN query that actually uses the
# LSH buckets.  A SINGLE 8-bit table has near-zero recall on this corpus
# (per-plane agreement p = 1 - arccos(cos)/pi ≈ 2/3 at cos 0.5 →
# p^8 ≈ 0.04, and a single-table query measured recall@5 = 0.06): the standard
# remedy is L independent tables of k planes each — union of probes,
# recall 1-(1-p^k)^L.  With L=8, k=4: ≈ 0.83 at cos 0.5 and → 1 for
# genuine near-dups; measured below (BENCH_NOTES).  (k, L) is the
# recall/cost dial: candidates ≈ L·n/2^k per query.
# ---------------------------------------------------------------------------
_SEARCH_PLANES = hyperplane_weights(32, DIM)
_N_TABLES = 8
_TABLE_K = 4
_SEARCH_TABLES = [
    _SEARCH_PLANES[t * _TABLE_K : (t + 1) * _TABLE_K] for t in range(_N_TABLES)
]


def _duck_probe_arm(t: int) -> str:
    b = bucket_sql("embedding", _SEARCH_TABLES[t], "duck")
    return f"""
        SELECT q.vec_id AS qid, c.vec_id AS nid
        FROM (SELECT vec_id, embedding, {b} AS bucket FROM embeddings
              WHERE vec_id < {_N_QUERIES}) q
        JOIN (SELECT vec_id, embedding, {b} AS bucket FROM embeddings) c
          ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
    """


# Oracle for the LSH arm of the merged `ann_search` gated row (the ANN
# arms share one slot via a `method` column; every arm stays fully
# oracle-gated).
LSH_ORACLE_SQL = (
    "WITH cand AS (\n    "
    + "\n    UNION\n    ".join(_duck_probe_arm(t) for t in range(_N_TABLES))
    + f"""
    ),
    scored AS (
        SELECT qid, nid, {duck_cosine_sql("q.embedding", "c.embedding", DIM)} AS cos
        FROM cand
        JOIN embeddings q ON q.vec_id = qid
        JOIN embeddings c ON c.vec_id = nid
    ),
    ranked AS (
        SELECT qid, nid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
        FROM scored
    )
    SELECT qid, nid, rnk, CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
    FROM ranked WHERE rnk <= {_TOP_K}
    """
)


def ann_lsh_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN multi-table LSH search: 8 independent 4-plane hash tables;
    each query probes its bucket in EVERY table, the probe union is
    deduped, and survivors are re-ranked by exact cosine — recall
    1-(1-p^4)^8: measured 0.62-0.76 @5 on THIS corpus (random vectors,
    weak cos≈0.45 neighbors; a single-table probe measured 0.06)
    and ≥0.99 by the same formula at genuine near-dup thresholds
    cos≥0.85 — see BENCH_NOTES for the (k, L) dial.  All 8 bucket ids
    are computed in one projection and exploded, so candidates come from
    ONE equi-join on (table, bucket) — collision-bounded, no shuffle of
    the corpus vectors (ids only), arrays joined back per side.  Also
    the bucket-assignment gate: the oracle recomputes the md5-derived
    hyperplane buckets in SQL.  Driver-gated via `ann_search` (lsh arm);
    individually benched."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                F.expr(bucket_sql("embedding", w, "spark")).alias("bucket"),
            )
            for t, w in enumerate(_SEARCH_TABLES)
        ]
    )
    # the 8-table bucket assignment IS the stored hash-table index a
    # production ANN service materializes at ingest — persisted once per
    # (session, corpus), and read by both the query and the probe side
    from classic_fcd_spark.session import session_silver

    def _build_tagged():
        par = spark.sparkContext.defaultParallelism
        return (
            emb.repartition(par, "vec_id")
            .select("vec_id", F.explode(tables).alias("tb"))
            .select(
                "vec_id", F.col("tb.t").alias("t"), F.col("tb.bucket").alias("bucket")
            )
        )

    tagged = session_silver(spark, f"ann_lsh:tagged|{sf_dir}", _build_tagged)
    qb = tagged.filter(F.col("vec_id") < _N_QUERIES).select(
        "t", "bucket", F.col("vec_id").alias("qid")
    )
    cand = (
        F.broadcast(qb)
        .join(tagged.select("t", "bucket", F.col("vec_id").alias("nid")), ["t", "bucket"])
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid")
        .distinct()
    )
    qe = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    ce = emb.select(F.col("vec_id").alias("nid"), "embedding")
    scored = (
        cand.join(F.broadcast(qe), "qid")
        .join(ce, "nid")
        .select("qid", "nid", cosine("qe", "embedding").alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("qid", "nid", "rnk", floor_e6(F.col("cos")).alias("cos_e6"))
    )


# ---------------------------------------------------------------------------
# Threshold pair search (embedding near-dup shape): banded hyperplane-LSH
# pair semantics, scored exactly by the blocked Gram kernel.
# ---------------------------------------------------------------------------
# 8 bands x 2 planes from 16 independent hyperplanes.  Recall at a given
# cosine threshold c: per-plane agreement p = 1 - arccos(c)/pi, candidate
# probability 1 - (1 - p^2)^8.  At the weak 0.45 threshold this measures
# 100% recall at sf0.01 / 98.6% at sf0.1; at genuine near-dup thresholds
# (0.9+) it is ~1.  Two-plane bands prune little: for near-orthogonal
# vectors 1 - (3/4)^8 ~ 90% of all pairs are candidates, so the query
# scores every pair in tiles (operators.similarity.blocked_cosine_pairs)
# and applies the band test as a filter; its cost is quadratic in the
# distinct vectors (SCALE.md).
_PAIR_PLANES = hyperplane_weights(16, DIM)
_N_BANDS = 8
_PAIR_BANDS = [_PAIR_PLANES[i * 2 : (i + 1) * 2] for i in range(_N_BANDS)]
_PAIR_THRESHOLD = 0.45

def _duck_band_arm(band: str) -> str:
    cos = duck_cosine_sql("a.embedding", "b.embedding", DIM)
    return f"""
        SELECT a.vec_id AS i, b.vec_id AS j,
               CAST(floor({cos} * 1000000.0) AS BIGINT) AS cos_e6
        FROM t a JOIN t b ON a.{band} = b.{band} AND a.vec_id < b.vec_id
        WHERE {cos} >= {_PAIR_THRESHOLD}
    """


# The query's DuckDB oracle, checked in tests/test_text_queries.py,
# tests/test_embedding_pairs.py and the analytics_batch benchmark.
EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL = (
    "WITH t AS (\n        SELECT vec_id, embedding,\n"
    + ",\n".join(
        f"               {bucket_sql('embedding', w, 'duck')} AS band{i}"
        for i, w in enumerate(_PAIR_BANDS)
    )
    + "\n        FROM embeddings\n    )\n    "
    + "\n    UNION\n    ".join(_duck_band_arm(f"band{i}") for i in range(_N_BANDS))
)


def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: (i, j, floor(cos * 1e6)) for
    i < j with cosine >= 0.45 that agree on every sign of at least one
    2-plane band (MinHash-LSH banding applied to hyperplane LSH), the
    same set as EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL.

    Pairs are scored once per DISTINCT vector.  Byte-identical vectors
    share every band id and every pairwise cosine, so on a corpus with
    duplicates the kernel runs over one representative per vector
    (grouped by the array itself: exact, no hash to collide) and the
    rep pairs expand back to member pairs.  A duplicate-free corpus
    (max multiplicity 1 in the cached embedding_stats) skips the
    collapse; its vectors are the reps.

    A zero vector is in no pair: its cosine is 0/0, NaN in the kernel
    and NULL in DuckDB, and neither passes the threshold (SCALE.md)."""
    from classic_fcd_spark.session import embedding_stats, session_silver

    emb = load_tables(spark, sf_dir)["embeddings"]
    _, n_distinct, max_m = embedding_stats(spark, sf_dir)
    if max_m == 1:
        return blocked_cosine_pairs(
            emb.select("vec_id", "embedding"), n_distinct, _PAIR_BANDS, _PAIR_THRESHOLD
        )
    groups = session_silver(
        spark,
        f"embpairs:groups|{sf_dir}",
        lambda: emb.groupBy("embedding").agg(
            F.min("vec_id").alias("rid"),
            F.sort_array(F.collect_list("vec_id")).alias("members"),
        ),
    )
    reps = groups.select(F.col("rid").alias("vec_id"), "embedding")
    # the rep self-pairs (i == j) carry each group's self-cosine, the
    # value the oracle computes for two byte-identical copies
    rep_pairs = blocked_cosine_pairs(
        reps, n_distinct, _PAIR_BANDS, _PAIR_THRESHOLD, self_pairs=True
    )
    # every (a in g_i, b in g_j) inherits the rep pair's cosine; within
    # one group (i == j) each member pair comes out in both orders, so
    # one order is dropped
    mi = groups.select(F.col("rid").alias("i"), F.col("members").alias("mi"))
    mj = groups.select(F.col("rid").alias("j"), F.col("members").alias("mj"))
    return (
        rep_pairs.join(mi, "i")
        .join(mj, "j")
        .select("i", "j", "cos_e6", F.explode("mi").alias("a"), "mj")
        .select("i", "j", "cos_e6", "a", F.explode("mj").alias("b"))
        .filter((F.col("i") != F.col("j")) | (F.col("a") < F.col("b")))
        .select(
            F.least("a", "b").alias("i"),
            F.greatest("a", "b").alias("j"),
            "cos_e6",
        )
    )


# ---------------------------------------------------------------------------
# Top-k-capped neighbor pairs — the SHIPPABLE similarity scale story.
# embedding_similar_pairs' deliberately weak 0.45
# threshold sits inside the 64-dim random-cosine tail, so on ANY
# decorrelated corpus its OUTPUT is quadratic (variety-lane sf1: 111 s) —
# true semantics, but not what a 100 TB curation pass ships.  This
# variant bounds both ends:
#   * candidates: 2 bands × 8 planes (vs the stress row's 8 × 2) —
#     random-pair collision 1-(1-(1/2)^8)^2 ≈ 0.8%, so candidate volume
#     on a decorrelated corpus is ~n²/128 verify probes but the emitted
#     set is capped below;
#   * output: per-vector top-K (K=3) by exact cosine among candidates at
#     threshold ≥ 0.6 (outside the random tail: ~4.8σ at dim 64) —
#     output ≤ K·n, LINEAR in corpus size by construction.
# Recall is the documented dial, same as ann_lsh_search: per-plane
# agreement p = 1-arccos(c)/π gives band recall 1-(1-p^8)^2 — ≈0.49 at
# cos 0.9, →1 as c→1 (byte-near duplicates, the curation target); widen
# to more/narrower bands to trade candidate volume for mid-range recall.
# The 0.45 row stays registered as the recall stress; THIS row is the
# linear-output workload: BENCH_sf1_variety_r15.json measured 3.92 s
# here vs 146.53 s for the quadratic-output stress row on the SAME
# decorrelated 10x corpus (BENCH_NOTES "r15 variety-lane sf1 bench").
#
# Candidate generation reuses capped_band_self_join, so a mega-bucket
# (all-identical corpus) can never blow a task's buffered group — the
# same bound the minhash family has.
# ---------------------------------------------------------------------------
_TOPK_BANDS = [_PAIR_PLANES[0:8], _PAIR_PLANES[8:16]]
_TOPK_K = 3
_TOPK_THRESHOLD = 0.6


def embedding_topk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector top-3 neighbors (cosine ≥ 0.6) among 2×8-plane LSH band
    candidates.  Output (i, j, rnk, cos_e6) with rnk over (cos DESC,
    j ASC) — deterministic cross-engine because the cosine fold is the
    identical IEEE expression on both sides.  Threshold applies BEFORE
    ranking (rnk is dense over qualifying neighbors)."""
    from classic_fcd_spark.operators.dedup import adaptive_band_self_join
    from classic_fcd_spark.operators.similarity import dot_sql

    emb = load_tables(spark, sf_dir)["embeddings"]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("b"),
                F.expr(bucket_sql("embedding", w, "spark")).alias("v"),
            )
            for b, w in enumerate(_TOPK_BANDS)
        ]
    )
    # band table + norm table are the stored per-corpus index of this
    # workload (session-persisted once, not re-persisted per call)
    from classic_fcd_spark.session import session_silver

    tagged = session_silver(
        spark,
        f"embtopk:tagged|{sf_dir}",
        lambda: emb.select("vec_id", F.explode(bands).alias("bd")).select(
            "vec_id", F.col("bd.b").alias("b"), F.col("bd.v").alias("v")
        ),
    )
    # i<j unordered candidates with the per-task group bound (engaged
    # only when a band bucket exceeds the cap), then both orientations
    # (top-k is per-SOURCE-vector, so each unordered pair feeds two
    # partitions).
    und = adaptive_band_self_join(
        tagged,
        "vec_id",
        ["b", "v"],
        memo_key=f"embtopk:max_bucket|{sf_dir}",
    )
    cand = und.unionByName(
        und.select(F.col("j").alias("i"), F.col("i").alias("j"))
    )
    normed = session_silver(
        spark,
        f"embtopk:normed|{sf_dir}",
        lambda: emb.select(
            "vec_id",
            "embedding",
            F.expr(dot_sql("embedding", "embedding")).alias("n2"),
        ),
    )
    pa = normed.select(
        F.col("vec_id").alias("i"), F.col("embedding").alias("ea"), F.col("n2").alias("na2")
    )
    pb = normed.select(
        F.col("vec_id").alias("j"), F.col("embedding").alias("eb"), F.col("n2").alias("nb2")
    )
    cos = F.expr(dot_sql("ea", "eb")) / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
    scored = (
        cand.join(pa, "i")
        .join(pb, "j")
        .select("i", "j", cos.alias("cos"))
        .filter(F.col("cos") >= _TOPK_THRESHOLD)
    )
    w = Window.partitionBy("i").orderBy(F.col("cos").desc(), F.col("j").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_K)
        .select("i", "j", "rnk", floor_e6(F.col("cos")).alias("cos_e6"))
    )


def _duck_topk_band_arm(band: str) -> str:
    return f"""
        SELECT a.vec_id AS i, b.vec_id AS j
        FROM t a JOIN t b ON a.{band} = b.{band} AND a.vec_id <> b.vec_id
    """


EMBEDDING_TOPK_PAIRS_ORACLE_SQL = (
    "WITH t AS (\n        SELECT vec_id, embedding,\n"
    + ",\n".join(
        f"               {bucket_sql('embedding', w, 'duck')} AS tband{i}"
        for i, w in enumerate(_TOPK_BANDS)
    )
    + "\n        FROM embeddings\n    ), cand AS (\n    "
    + "\n    UNION\n    ".join(_duck_topk_band_arm(f"tband{i}") for i in range(2))
    + f"""
    ), scored AS (
        SELECT i, j, {duck_cosine_sql("a.embedding", "b.embedding", DIM)} AS cos
        FROM cand
        JOIN embeddings a ON a.vec_id = i
        JOIN embeddings b ON b.vec_id = j
    ), ranked AS (
        SELECT i, j, cos,
               ROW_NUMBER() OVER (PARTITION BY i ORDER BY cos DESC, j ASC) AS rnk
        FROM scored WHERE cos >= {_TOPK_THRESHOLD}
    )
    SELECT i, j, CAST(rnk AS INT) AS rnk,
           CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
    FROM ranked WHERE rnk <= {_TOPK_K}
    """
)


# ---------------------------------------------------------------------------
# IVF-style ANN: coarse quantization by nearest centroid, probe = the
# query's own cell (the brief's "IVF or LSH-bucketed variant").
# ---------------------------------------------------------------------------
_N_CENTROIDS = 16

# Deterministic "training" stand-in: the first K corpus vectors act as
# centroids.  Production IVF trains k-means; the ASSIGN + PROBE plumbing
# below — the part that runs at 100 TB — is identical either way, and a
# deterministic codebook is what makes the oracle exact.


def _centroid_terms(vec: str, fold: str) -> str:
    """Per-centroid encoded score terms; centroid embeddings come from a
    correlated lookup in SQL, so both engines share the same codebook."""
    terms = []
    for cid in range(_N_CENTROIDS):
        if fold == "spark":
            cos = f"""(aggregate(zip_with({vec}, __c{cid}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
                / (sqrt(aggregate(zip_with({vec}, {vec}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))
                 * sqrt(aggregate(zip_with(__c{cid}, __c{cid}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))))"""
        else:
            dot = f"list_sum([CAST({vec}[i] AS DOUBLE) * CAST(__c{cid}[i] AS DOUBLE) for i in range(1, {DIM + 1})])"
            na = f"list_sum([CAST({vec}[i] AS DOUBLE) * CAST({vec}[i] AS DOUBLE) for i in range(1, {DIM + 1})])"
            nb = f"list_sum([CAST(__c{cid}[i] AS DOUBLE) * CAST(__c{cid}[i] AS DOUBLE) for i in range(1, {DIM + 1})])"
            cos = f"({dot} / (sqrt({na}) * sqrt({nb})))"
        # +2e9 keeps the encoded score strictly positive even at cos = -1,
        # so `% 100` extracts cid identically on both engines (trunc-modulo
        # of a negative encoding would yield cid-100 and split a centroid's
        # cell by the sign of its best cosine — a deterministic recall hole)
        terms.append(
            f"((CAST(floor({cos} * 1000000000.0) AS BIGINT) + 2000000000) * 100 + {cid})"
        )
    return ", ".join(terms)


def _seq_norm(vec: list[float]) -> float:
    """sqrt of the left-to-right double fold of vec·vec — the exact ops
    the Spark/DuckDB folds run, so the literal equals their value."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


# Oracle for the IVF arm of the merged `ann_search` driver row.
IVF_ORACLE_SQL = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id < {_N_CENTROIDS}
    ),
    wide AS (
        SELECT e.vec_id, e.embedding,
               {", ".join(f"(SELECT ce FROM cents WHERE cid = {c}) AS __c{c}" for c in range(_N_CENTROIDS))}
        FROM embeddings e
    ),
    assigned AS (
        SELECT vec_id, embedding,
               GREATEST({_centroid_terms("embedding", "duck")}) % 100 AS cell
        FROM wide
    ),
    scored AS (
        SELECT q.vec_id AS qid, c.vec_id AS nid,
               {duck_cosine_sql("q.embedding", "c.embedding", DIM)} AS cos
        FROM assigned q JOIN assigned c ON q.cell = c.cell AND q.vec_id <> c.vec_id
        WHERE q.vec_id < {_N_QUERIES}
    ),
    ranked AS (
        SELECT qid, nid, cos,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid ASC) AS rnk
        FROM scored
    )
    SELECT qid, nid, rnk, CAST(floor(cos * 1000000.0) AS BIGINT) AS cos_e6
    FROM ranked WHERE rnk <= {_TOP_K}
    """


def ann_ivf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: every vector is assigned to its nearest of 16
    deterministic centroids (argmax cosine, encoded (floor(cos*1e9)+2e9)
    *100+cid — strictly positive so %100 extracts cid on both engines
    and GREATEST breaks ties identically); a query probes only its own
    cell and re-ranks by exact cosine.  The assignment is a projection
    against a broadcast codebook — no shuffle; the probe is one
    equi-join on the cell id.  Production swaps the codebook for trained
    centroids via operators/similarity.kmeans_train (distributed
    spherical Lloyd iterations, unit-tested); plumbing is unchanged —
    the oracle stays exact because the query pins the deterministic
    codebook.  Driver-gated via `ann_search` (ivf arm); individually
    benched."""
    from classic_fcd_spark.session import embedding_codebook

    emb = load_tables(spark, sf_dir)["embeddings"]
    # the pinned first-16-vector codebook is collected ONCE per
    # (session, corpus) and shared with the pq arm and semantic_dedup
    # (session.embedding_codebook)
    cents = dict(enumerate(embedding_codebook(spark, sf_dir, _N_CENTROIDS)))
    # Assignment as a broadcast join + map-side argmax, NOT a 16-wide
    # literal-array projection: materializing 16 x 64 constant doubles
    # per row was the stage's real cost (array literals are rebuilt per
    # row).  Per (vector, centroid) pair we compute ONE fold — the
    # query-vector norm is hoisted to a per-row column and the centroid
    # norm is a precomputed literal in the broadcast side — and the
    # argmax uses the SAME encoding as the oracle's GREATEST form
    # ((floor(cos*1e9)+2e9)*100+cid, max, %100), so cell assignment is
    # bit-for-bit identical (re-proven by the ann_search oracle row).
    from classic_fcd_spark.operators.similarity import dot_sql

    nb_consts = [_seq_norm(cents[cid]) for cid in range(_N_CENTROIDS)]
    cdf = spark.createDataFrame(
        [(cid, [float(x) for x in cents[cid]], nb_consts[cid]) for cid in range(_N_CENTROIDS)],
        "cid int, ce array<double>, nc double",
    )
    # the cell assignment IS the stored IVF inverted-list index —
    # persisted once per (session, corpus); the probe join reads it on
    # both sides
    from classic_fcd_spark.session import session_silver

    def _build_assigned():
        withn = emb.repartition(
            spark.sparkContext.defaultParallelism, "vec_id"
        ).withColumn("__na", F.expr(f"sqrt({dot_sql('embedding', 'embedding')})"))
        cos = F.expr(dot_sql("embedding", "ce")) / (F.col("__na") * F.col("nc"))
        enc = (
            F.floor(cos * F.lit(1000000000.0)).cast("bigint") + F.lit(2000000000)
        ) * 100 + F.col("cid")
        return (
            withn.crossJoin(F.broadcast(cdf))
            .select("vec_id", "embedding", enc.alias("enc"))
            .groupBy("vec_id", "embedding")
            .agg((F.max("enc") % 100).cast("int").alias("cell"))
        )

    assigned = session_silver(spark, f"ann_ivf:assigned|{sf_dir}", _build_assigned)
    q = assigned.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), "cell"
    )
    scored = (
        F.broadcast(q)
        .join(
            assigned.select(F.col("vec_id").alias("nid"), "embedding", "cell"), "cell"
        )
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "nid", cosine("qe", "embedding").alias("cos"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
        .select("qid", "nid", "rnk", floor_e6(F.col("cos")).alias("cos_e6"))
    )


# ---------------------------------------------------------------------------
# PQ/ADC arm of the merged ANN gated row: the product-quantization
# compressed-domain search with a PINNED codebook — sub-codebook j = the
# j-th dsub-slice of the first ks corpus vectors, the same first-K
# determinism as the IVF arm and the SemDeDup codebook, so the DuckDB
# oracle can reconstruct every code and distance exactly.  What this row
# pins is the plumbing that runs at 100 TB: encode = broadcast-codebook
# argmin (two narrow shuffles), ADC scan = M element_at lookups per
# candidate over 8-byte codes.
#
# Gate-exactness design: the ADC ranking sums PER-SUBSPACE distances
# floored to e6 integers (the module's order-free-integer policy), so
# the GROUP-BY sum in SQL needs no float fold-order agreement; the
# emitted score is then the EXACT cosine of each winner (same fold as
# the green lsh/ivf arms), keeping the merged row's column contract.
# ---------------------------------------------------------------------------
_PQ_M = 8
_PQ_KS = 16
_PQ_DSUB = DIM // _PQ_M

_DUCK_SUBDIST = (
    "list_sum(["
    "(CAST(e.embedding[js.j*{d} + i] AS DOUBLE) - CAST(c.ce[js.j*{d} + i] AS DOUBLE))"
    " * (CAST(e.embedding[js.j*{d} + i] AS DOUBLE) - CAST(c.ce[js.j*{d} + i] AS DOUBLE))"
    " for i in range(1, {d} + 1)])"
).format(d=_PQ_DSUB)

PQ_ORACLE_SQL = f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id < {_PQ_KS}
    ),
    sv AS (
        SELECT e.vec_id, js.j, c.cid, {_DUCK_SUBDIST} AS d
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range({_PQ_M})) AS j) js
        CROSS JOIN cents c
    ),
    codes AS (
        SELECT vec_id, j, cid AS code
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                           ORDER BY d ASC, cid ASC) AS rn
              FROM sv)
        WHERE rn = 1
    ),
    qd AS (
        SELECT vec_id AS qid, j, cid,
               CAST(floor(d * 1000000.0) AS BIGINT) AS d_e6
        FROM sv WHERE vec_id < {_N_QUERIES}
    ),
    adist AS (
        SELECT q.qid, c.vec_id AS nid, SUM(q.d_e6) AS adist_e6
        FROM codes c JOIN qd q ON q.j = c.j AND q.cid = c.code
        WHERE c.vec_id <> q.qid
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT qid, nid,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adist_e6 ASC, nid ASC) AS rnk
        FROM adist
    )
    SELECT r.qid, r.nid, r.rnk,
           CAST(floor({duck_cosine_sql("q.embedding", "n.embedding", DIM)}
                      * 1000000.0) AS BIGINT) AS cos_e6
    FROM ranked r
    JOIN embeddings q ON q.vec_id = r.qid
    JOIN embeddings n ON n.vec_id = r.nid
    WHERE r.rnk <= {_TOP_K}
    """


def ann_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ/ADC ANN with the pinned first-{ks}-vector sub-codebooks:
    encode the corpus to M={m} codes (operators/similarity.pq_encode —
    broadcast argmin, never a corpus re-shuffle wider than (id, m,
    code)), rank candidates by the e6-quantized ADC distance (integer
    sum of M per-subspace table lookups — order-free, so the rank is
    bit-stable on any engine), then emit the exact cosine of each
    winner.  Driver-gated via `ann_search` (pq arm)."""
    from classic_fcd_spark.operators.similarity import _SQDIST, pq_encode
    from classic_fcd_spark.session import embedding_codebook

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = embedding_codebook(spark, sf_dir, _PQ_KS)
    books = [
        [
            [float(x) for x in cents[c][j * _PQ_DSUB : (j + 1) * _PQ_DSUB]]
            for c in range(_PQ_KS)
        ]
        for j in range(_PQ_M)
    ]
    # the 8-byte PQ codes ARE the stored compressed index (the whole
    # point of PQ is scanning codes instead of raw vectors) — encoded
    # once per (session, corpus)
    from classic_fcd_spark.session import session_silver

    codes = session_silver(spark, f"ann_pq:codes|{sf_dir}", lambda: pq_encode(emb, books))

    def _lit_arr(vals):
        return "array(" + ", ".join(repr(float(x)) for x in vals) + ")"

    # per-query distance table, e6-floored at the CELL level so the
    # M-term sum is pure bigint addition (order-free on both engines)
    rows = []
    for j in range(_PQ_M):
        cells = []
        for c in range(_PQ_KS):
            sub = f"slice(embedding, {j * _PQ_DSUB + 1}, {_PQ_DSUB})"
            cells.append(
                "CAST(floor("
                + _SQDIST.format(a=sub, b=_lit_arr(books[j][c]))
                + " * 1000000.0) AS BIGINT)"
            )
        rows.append("array(" + ", ".join(cells) + ")")
    dtab = F.expr("array(" + ", ".join(rows) + ")")

    q = emb.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        dtab.alias("dtab"),
    )
    score = F.expr(
        "aggregate(zip_with(codes, dtab, "
        "(c, row) -> element_at(row, CAST(c AS INT) + 1)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("qid").orderBy(F.col("adist_e6").asc(), F.col("nid").asc())
    ranked = (
        F.broadcast(q)
        .crossJoin(codes.select(F.col("vec_id").alias("nid"), "codes"))
        .filter(F.col("nid") != F.col("qid"))
        .select("qid", "qe", "nid", score.alias("adist_e6"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOP_K)
    )
    ne = emb.select(F.col("vec_id").alias("nid"), F.col("embedding").alias("ne"))
    return ranked.join(ne, "nid").select(
        "qid", "nid", "rnk", floor_e6(cosine("qe", "ne")).alias("cos_e6")
    )


# ---------------------------------------------------------------------------
# Merged ANN gated row: the index structures in one gated query, tagged
# by a `method` column — each arm keeps its full exact oracle (the SQL is
# the UNION ALL of the per-arm oracles).
# ---------------------------------------------------------------------------
@register(
    "ann_search",
    f"""
    SELECT 'lsh' AS method, * FROM ({LSH_ORACLE_SQL})
    UNION ALL
    SELECT 'ivf' AS method, * FROM ({IVF_ORACLE_SQL})
    UNION ALL
    SELECT 'pq' AS method, * FROM ({PQ_ORACLE_SQL})
    """,
    doc="ANN search over three index structures in one gated row: "
    "method='lsh' is the 8-table x 4-plane multi-probe hash search, "
    "method='ivf' the 16-cell coarse-quantizer probe, method='pq' the "
    "product-quantization ADC scan (pinned sub-codebooks, e6-integer "
    "ranking, exact-cosine emit) — see ann_lsh_search / ann_ivf_search "
    "/ ann_pq_search for per-arm plan and recall notes.  Merged to free "
    "slots, not to weaken the gate — the oracle is the UNION ALL of the "
    "exact per-arm oracles, so every value of every arm is still "
    "hash-compared every round.",
)
def ann_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = ann_lsh_search(spark, sf_dir).select(F.lit("lsh").alias("method"), "*")
    ivf = ann_ivf_search(spark, sf_dir).select(F.lit("ivf").alias("method"), "*")
    pq = ann_pq_search(spark, sf_dir).select(F.lit("pq").alias("method"), "*")
    return lsh.unionByName(ivf).unionByName(pq)


# ---------------------------------------------------------------------------
# Semantic dedup gated row.  Pinned first-16-vector codebook, exactly
# like the ann_search IVF arm: the assign + cell-pair-join + CC + keeper plumbing
# is what runs at 100 TB and what the oracle must pin; the spherical
# k-means trainer stays unit-gated (tests/test_semdedup.py runs the full
# pure-Python-reference equivalence, trained path included).
# ---------------------------------------------------------------------------
_SEM_K = 16
_SEM_EPS = 0.55  # pair threshold = 1 - eps = 0.45: corpus-calibrated — the
# synthetic embeddings are near-orthogonal random vectors (max pair cosine
# ~0.51 at sf0.01), so the paper's production eps≈0.05 would find zero
# groups here; the operator semantics are threshold-independent.
_SEM_THRESH = 1.0 - _SEM_EPS  # the Python float the engine compares against

_DUCK_VN = (
    f"sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE) "
    f"for i in range(1, {DIM + 1})]))"
)
_DUCK_NC = (
    f"sqrt(list_sum([CAST(ce[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE) "
    f"for i in range(1, {DIM + 1})]))"
)

# The oracle's cell pair-join and transitive closure run over DISTINCT
# embeddings (one rep per byte-identical vector, the same collapse the
# Spark side runs) — a doc-level pair join would compute a
# same-cell cosine for every vector pair, which on the sf10
# clone corpus is ~1.25G 64-dim folds.  Labeling is identical: copies
# share cell, cos_c, and every pairwise cosine, so doc-level components
# are the member-expansion of rep-level components; a multi-member group
# links internally iff its self-cosine clears the threshold (guards the
# zero-vector NaN case exactly like the doc-level predicate did), and
# keeper selection stays at member level, unchanged.
SEMANTIC_DEDUP_ORACLE_SQL = f"""
    WITH RECURSIVE cents AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings
        WHERE vec_id < {_SEM_K}
    ),
    cn AS (SELECT cid, ce, {_DUCK_NC} AS nc FROM cents),
    vg AS (
        SELECT embedding, MIN(vec_id) AS rid, COUNT(*) AS m
        FROM embeddings GROUP BY embedding
    ),
    vn AS (SELECT rid, embedding, m, {_DUCK_VN} AS nv FROM vg),
    scored AS (
        SELECT v.rid, v.embedding, v.m, v.nv, c.cid,
               list_sum([CAST(v.embedding[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)
                         for i in range(1, {DIM + 1})]) / (v.nv * c.nc) AS cos
        FROM vn v CROSS JOIN cn c
    ),
    assigned AS (
        SELECT rid, embedding, m, nv, cid AS cell, cos AS cos_c,
               list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                         for i in range(1, {DIM + 1})]) / (nv * nv)
                   >= {_SEM_THRESH!r} AS self_linked
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY rid
                                           ORDER BY cos DESC, cid DESC) AS rn
              FROM scored)
        WHERE rn = 1
    ),
    pairs AS (
        SELECT a.rid AS i, b.rid AS j
        FROM assigned a JOIN assigned b
          ON a.cell = b.cell AND a.rid < b.rid
        WHERE list_sum([CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)
                        for i in range(1, {DIM + 1})]) / (a.nv * b.nv) >= {_SEM_THRESH!r}
    ),
    edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, reach.label FROM reach JOIN edges e ON reach.node = e.a
    ),
    rcomp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
    glab AS (
        SELECT a.embedding, a.cell, a.cos_c,
               CASE WHEN rc.node IS NOT NULL OR (a.m >= 2 AND a.self_linked)
                    THEN COALESCE(rc.label, a.rid) END AS rlabel
        FROM assigned a LEFT JOIN rcomp rc ON a.rid = rc.node
    ),
    members AS (
        SELECT v.vec_id, gl.cell, gl.cos_c,
               COALESCE(gl.rlabel, v.vec_id) AS group_id
        FROM embeddings v JOIN glab gl ON v.embedding = gl.embedding
    ),
    keep AS (
        SELECT group_id, vec_id AS keeper_id
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY group_id
                                           ORDER BY cos_c ASC, vec_id ASC) AS rn
              FROM members)
        WHERE rn = 1
    )
    SELECT m.vec_id, m.cell, m.group_id, k.keeper_id,
           m.vec_id = k.keeper_id AS is_kept
    FROM members m JOIN keep k USING (group_id)
    """


@register(
    "semantic_dedup",
    SEMANTIC_DEDUP_ORACLE_SQL,
    doc="Semantic deduplication (SemDeDup, Abbas et al. 2023, "
    "arXiv:2303.09540): cluster the embedding space, collapse "
    "within-cluster groups at cosine >= 1-eps down to the member "
    "FARTHEST from its centroid (the paper's keep-the-edge-example "
    "criterion), keep all singletons.  Assignment is a broadcast 16-row "
    "codebook join (no corpus shuffle); the pair search is a cell "
    "equi-join so cost is sum(n_c^2), never corpus^2 — k is the dial at "
    "100 TB; groups are pointer-jumping connected components; no float "
    "column is emitted, so the hash gate sees only ints/bools.  The "
    "codebook is pinned to the first 16 vectors for oracle exactness "
    "(same pattern as the ann_search IVF arm); the spherical-k-means "
    "trained path is unit-gated in tests/test_semdedup.py.",
)
def semantic_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.operators.similarity import semantic_dedup
    from classic_fcd_spark.session import embedding_codebook, embedding_stats

    emb = load_tables(spark, sf_dir)["embeddings"]
    cents = embedding_codebook(spark, sf_dir, _SEM_K)
    # the cached corpus duplicate bound drives the collapse dispatch,
    # and the cell-assignment index persists per corpus, not per call
    _, _, max_m = embedding_stats(spark, sf_dir)
    return semantic_dedup(
        emb,
        centroids=cents,
        eps=_SEM_EPS,
        max_multiplicity=max_m,
        silver_key=sf_dir,
    )
