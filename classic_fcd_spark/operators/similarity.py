"""Embedding similarity search: brute-force cosine top-k + LSH bucketing.

LLM-pipeline extensions (brief): approximate-nearest-neighbor over an
`array<float>` embedding column.

Design for 100 TB:
- Brute-force: broadcast the (small) query set, score every corpus vector
  with JVM-side higher-order functions (zip_with/aggregate — no Python,
  no shuffle beyond the final per-query top-k), TakeOrdered per query.
- LSH (random hyperplane): bucket = sign bits of dot(v, r_j) for
  deterministic md5-derived hyperplanes r_j; ANN probes only the query's
  bucket — shuffle on the bucket id, collision-bounded like MinHash-LSH.
- Numeric policy: element products are CAST to double inside the fold and
  summed left-to-right (both engines fold lists sequentially); emitted
  scores are floor(cos*1e6) so last-ulp float differences can't flip a
  hash compare.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def dot_sql(a: str, b: str) -> str:
    """Spark SQL fold for dot(a, b) in double."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def duck_dot_sql(a: str, b: str, dim: int) -> str:
    """DuckDB fold for dot(a, b): explicit index comprehension + list_sum
    (sequential, same order as the Spark fold)."""
    return (
        f"list_sum([CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) "
        f"for i in range(1, {dim + 1})])"
    )


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)} / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)})))"


def duck_cosine_sql(a: str, b: str, dim: int) -> str:
    return (
        f"({duck_dot_sql(a, b, dim)} / "
        f"(sqrt({duck_dot_sql(a, a, dim)}) * sqrt({duck_dot_sql(b, b, dim)})))"
    )


def cosine(a: str, b: str) -> Column:
    return F.expr(cosine_sql(a, b))


def floor_e6(c: Column) -> Column:
    """floor(x*1e6) as bigint — the stable cross-engine score encoding."""
    return F.floor(c * F.lit(1000000.0)).cast("bigint")


# ---------------------------------------------------------------------------
# Random-hyperplane LSH with deterministic md5-derived planes.
# ---------------------------------------------------------------------------
def hyperplane_weights(num_planes: int, dim: int) -> list[list[int]]:
    """Integer weights in [-8, 7]: first md5 hex digit of 'j:i'.  Derived
    once in Python (hashlib) and embedded as literals, so Spark and the
    oracle share the exact same planes."""
    return [
        [
            int(hashlib.md5(f"{j}:{i}".encode()).hexdigest()[0], 16) - 8
            for i in range(dim)
        ]
        for j in range(num_planes)
    ]


def bucket_sql(vec: str, weights: list[list[int]], fold: str) -> str:
    """SQL (Spark or DuckDB flavor) computing the LSH bucket id: bit j set
    iff dot(vec, plane_j) > 0.  `fold` is 'spark' or 'duck'."""
    terms = []
    for j, w in enumerate(weights):
        lit = "array(" + ", ".join(str(x) for x in w) + ")" if fold == "spark" else "[" + ", ".join(str(x) for x in w) + "]"
        if fold == "spark":
            dot = (
                f"aggregate(zip_with({vec}, {lit}, (x, y) -> CAST(x AS DOUBLE) * y), "
                f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
            )
        else:
            dim = len(w)
            dot = (
                f"list_sum([CAST({vec}[i] AS DOUBLE) * ({lit})[i] "
                f"for i in range(1, {dim + 1})])"
            )
        terms.append(f"(CASE WHEN {dot} > 0 THEN {2**j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# ---------------------------------------------------------------------------
# Blocked Gram kernel: exact all-pairs cosine, one Gram block per tile pair.
# ---------------------------------------------------------------------------
# Vectors per tile: a 1024 x 1024 float64 Gram block is 8 MB per task.
TILE = 1024
# Gram rows per strip: a 64 x 1024 float64 strip (512 KB) stays in cache.
_STRIP = 64


def blocked_cosine_pairs(
    vecs: DataFrame,
    n: int,
    bands: list[list[list[int]]],
    threshold: float,
    self_pairs: bool = False,
) -> DataFrame:
    """(i, j, cos_e6) for every pair of `vecs` (vec_id, embedding) whose
    cosine is >= `threshold` and which agrees on at least one LSH band
    id (`bucket_sql` over each plane set in `bands`); i < j.  With
    `self_pairs`, each vector's self-cosine row (i == j) is emitted too.
    `n` is the row count of `vecs`, known to the caller; it sets the
    tile count.

    Vectors are split into ceil(n / TILE) tiles by vec_id and each one
    is replicated to every tile pair it belongs to; one grouped-map task
    per tile pair computes the whole Gram block, so every pair is scored
    exactly once and no candidate pair ever leaves its task.  When the
    bands prune little (low-bit bands at a weak threshold), this is
    cheaper than joining candidates and verifying each one.

    Exactness: the dot products are a left-to-right loop over the
    dimension of float64 products, the order of the SQL `aggregate`
    fold (`dot_sql`, and DuckDB's `list_sum`); float32 -> float64 is
    exact, and cos = dot / (sqrt(na) * sqrt(nb)) and floor(cos * 1e6)
    are the same scalar IEEE operations.  A BLAS matmul reorders the
    sum and is not bit-exact.  A zero vector gives 0/0 = NaN, which
    fails the threshold, so it is in no pair (DuckDB's 0/0 is NULL,
    which fails it as well)."""
    import numpy as np
    import pandas as pd

    n_tiles = max(1, -(-n // TILE))
    band_ids = F.array(*[F.expr(bucket_sql("embedding", w, "spark")) for w in bands])
    tagged = vecs.select(
        "vec_id",
        "embedding",
        band_ids.alias("bands"),
        F.pmod("vec_id", F.lit(n_tiles)).alias("tile"),
    )
    # each vector goes to the n_tiles pairs (min(tile, o), max(tile, o)),
    # numbered p = tj * (tj + 1) / 2 + ti in [0, n_pairs)
    other = F.explode(F.sequence(F.lit(0), F.lit(n_tiles - 1))).alias("o")
    pairs = (
        tagged.select("*", other)
        .select(
            "vec_id",
            "embedding",
            "bands",
            "tile",
            F.least("tile", "o").alias("ti"),
            F.greatest("tile", "o").alias("tj"),
        )
        .withColumn("p", F.expr("CAST(tj * (tj + 1) div 2 + ti AS INT)"))
    )
    n_pairs = n_tiles * (n_tiles + 1) // 2

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        ti, tj = int(pdf["ti"].iat[0]), int(pdf["tj"].iat[0])
        a = pdf[pdf["tile"] == ti]
        b = a if ti == tj else pdf[pdf["tile"] == tj]
        if a.empty or b.empty:  # a tile no vec_id falls in
            return pd.DataFrame({"i": [], "j": [], "cos_e6": []}, dtype=np.int64)
        # dimension-major copies: each k step reads contiguous memory
        at = np.stack(a["embedding"].to_numpy()).astype(np.float64).T.copy()
        bt = np.stack(b["embedding"].to_numpy()).astype(np.float64).T.copy()
        na = np.zeros(at.shape[1])
        nb = np.zeros(bt.shape[1])
        for k in range(len(at)):
            na += at[k] * at[k]
            nb += bt[k] * bt[k]
        gram = np.zeros((at.shape[1], bt.shape[1]))
        prod = np.empty((_STRIP, bt.shape[1]))
        # the k loop runs per strip of rows, so the strip stays in cache
        for r in range(0, len(gram), _STRIP):
            g = gram[r : r + _STRIP]
            pr = prod[: len(g)]
            for k in range(len(at)):
                np.multiply(at[k, r : r + _STRIP, None], bt[k], out=pr)
                g += pr
        with np.errstate(divide="ignore", invalid="ignore"):
            cos = gram / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :])
            keep = cos >= threshold
        ba = np.stack(a["bands"].to_numpy())
        bb = np.stack(b["bands"].to_numpy())
        keep &= (ba[:, None, :] == bb[None, :, :]).any(axis=2)
        ia = a["vec_id"].to_numpy()
        ib = b["vec_id"].to_numpy()
        if ti == tj:
            # a diagonal block is symmetric: keep one order.  An
            # off-diagonal block holds each pair once, in either order.
            upper = ia[:, None] < ib[None, :]
            if self_pairs:
                upper |= ia[:, None] == ib[None, :]
            keep &= upper
        r, c = np.nonzero(keep)
        return pd.DataFrame(
            {
                "i": np.minimum(ia[r], ib[c]),
                "j": np.maximum(ia[r], ib[c]),
                "cos_e6": np.floor(cos[r, c] * 1000000.0).astype(np.int64),
            }
        )

    # one task per tile pair: a hash-partitioned groupBy lets adaptive
    # execution coalesce the small shuffle into one serial task
    return (
        pairs.repartitionById(n_pairs, "p")
        .groupBy("p")
        .applyInPandas(kernel, "i bigint, j bigint, cos_e6 bigint")
    )


# ---------------------------------------------------------------------------
# Distributed spherical k-means — the IVF codebook trainer.
# ---------------------------------------------------------------------------
def kmeans_train(
    emb,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    n_iter: int = 5,
    sample_limit: int | None = None,
):
    """Train an IVF codebook with Lloyd iterations, Spark-first.

    Per round: ASSIGN is a broadcast of the k centroids against the full
    corpus (k·n cosine rows, combined map-side to n via max(struct(cos,
    cid)) — one shuffle of n narrow rows); UPDATE is posexplode →
    groupBy (cell, dim) mean — one shuffle of n·dim narrow rows; only
    the k×dim centroid table is collected to the driver per round (the
    model state, bounded, exactly like MLlib's own KMeans).  Centroids
    are L2-normalized each round (spherical k-means) because IVF cells
    here partition by COSINE, not Euclidean distance.

    The (id, vec) training projection is persisted ONCE before the loop:
    each Lloyd round re-reads it from executor cache rather than
    re-scanning the source table, so the trainer's cost is n_iter×cache
    scans + one source scan — not n_iter× the parquet read.
    `sample_limit` bounds training further: the codebook only needs
    cluster GEOMETRY, not every row (the SemDeDup
    paper's own recipe), so passing e.g. 100_000 trains on the
    `sample_limit` smallest-md5(id) rows — the same deterministic
    hash-order used for seeding, so the trained codebook is reproducible
    for a given (corpus, k, n_iter, sample_limit) regardless of
    partitioning.  At 100 TB this turns an O(corpus) per-round cost into
    a constant; downstream assign_cells still scans the full corpus
    exactly once.

    Returns (centroids, mean_cos_history): `centroids` is a list of k
    dim-length float lists usable as the `ann_ivf_search`-style codebook;
    `history[i]` is the corpus mean best-cosine after round i — it must
    be non-decreasing up to float noise (asserted in tests).
    """
    import math

    from pyspark.sql import DataFrame  # noqa: F401 — signature doc only

    spark = emb.sparkSession
    proj = emb.select(id_col, vec_col)
    if sample_limit is not None:
        # deterministic bounded sample: hash-order is uniform over ids,
        # so this is a fixed-size uniform sample with a stable identity
        proj = (
            proj.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
            .limit(sample_limit)
        )
    # spread across cores (a single-file scan arrives as one partition);
    # the codebook is the result, so each round re-reads this plan
    # rather than pinning a copy in executor storage
    proj = proj.repartition(spark.sparkContext.defaultParallelism)
    # hash-ordered init: the k smallest md5(id) rows — deterministic,
    # pseudo-randomly spread across the corpus (unlike "first k", which
    # can land every seed in one region), and a distributed TakeOrdered
    # rather than a global-window scan; production can swap in k-means++
    # without touching the iteration below
    seeds = (
        proj.orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .limit(k)
        .collect()
    )
    if len(seeds) < k:
        # fail fast: a corpus smaller than k would leave cents[cid]
        # unpopulated for cid >= len(seeds) and crash mid-iteration with
        # an opaque IndexError instead
        raise ValueError(
            f"kmeans_train: corpus has only {len(seeds)} rows but k={k}; "
            "lower k to at most the corpus size"
        )
    cents = [list(map(float, r[vec_col])) for r in seeds]
    history: list[float] = []

    def _norm(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    cents = [_norm(c) for c in cents]
    for _ in range(n_iter):
        cdf = spark.createDataFrame(
            [(cid, c) for cid, c in enumerate(cents)], ["cid", "ce"]
        )
        scored = proj.crossJoin(F.broadcast(cdf)).select(
            F.col(id_col),
            F.col(vec_col),
            F.struct(
                F.expr(cosine_sql(vec_col, "ce")).alias("cos"), F.col("cid")
            ).alias("sc"),
        )
        assigned = scored.groupBy(id_col, vec_col).agg(F.max("sc").alias("best"))
        # both per-round actions (distortion stat + centroid means) read
        # the same assignment — persist it once instead of recomputing
        # the broadcast join + argmax per action
        assigned = assigned.persist()
        stats = assigned.agg(F.avg("best.cos").alias("m")).collect()[0]
        history.append(float(stats["m"]))
        # UPDATE: element-wise mean per cell — narrow (cell, pos, val)
        # rows, map-side combined; k*dim result rows collected (the model)
        new_rows = (
            assigned.select(
                F.col("best.cid").alias("cell"),
                F.posexplode(vec_col).alias("pos", "val"),
            )
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("val").cast("double")).alias("m"))
            .collect()
        )
        assigned.unpersist()
        by_cell: dict[int, dict[int, float]] = {}
        for r in new_rows:
            by_cell.setdefault(r["cell"], {})[r["pos"]] = r["m"]
        dim = len(cents[0])
        cents = [
            _norm([by_cell[cid].get(p, cents[cid][p]) for p in range(dim)])
            if cid in by_cell
            else cents[cid]  # empty cell keeps its centroid (standard)
            for cid in range(k)
        ]
    proj.unpersist()
    return cents, history


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the Faiss storage/search design (Jégou,
# Douze, Schmid, "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011): a vector is stored as M sub-centroid ids (here 64 float32
# -> 8 codes, 32x smaller) and scored by asymmetric-distance (ADC) table
# lookups, never touching the raw vectors.  Encoding is a broadcast join
# corpus-subvectors x codebook with an argmin aggregate and a sorted
# collect_list — two narrow shuffles of n*M rows, no Python in the loop.
# The registered ann_pq_search pins its codebook and runs the ADC scan.
# ---------------------------------------------------------------------------
def _subvectors(emb, vec_col: str, id_col: str, m: int, dsub: int):
    """(id, m, sv): corpus exploded into M dsub-length subvectors."""
    subs = F.array(
        *[
            F.struct(
                F.lit(j).alias("m"),
                F.slice(F.col(vec_col), j * dsub + 1, dsub).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return emb.select(F.col(id_col), F.explode(subs).alias("s")).select(
        id_col, F.col("s.m").alias("m"), F.col("s.sv").alias("sv")
    )


_SQDIST = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) "
    "* (CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)


def pq_encode(
    emb,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """(id, codes array<tinyint> of length M): each subvector replaced by
    its nearest sub-centroid id.  Join-based argmin — the codebook rides
    a broadcast, the corpus never re-shuffles wider than (id, m, code),
    and the final array is a sorted collect_list per id (deterministic:
    one code per (id, m) by construction)."""
    m, ks = len(codebooks), len(codebooks[0])
    dsub = len(codebooks[0][0])
    spark = emb.sparkSession
    sv = _subvectors(emb, vec_col, id_col, m, dsub)
    cdf = spark.createDataFrame(
        [(j, c, codebooks[j][c]) for j in range(m) for c in range(ks)],
        ["m", "cid", "ce"],
    )
    dist = F.expr(_SQDIST.format(a="sv", b="ce"))
    best = (
        sv.join(F.broadcast(cdf), "m")
        .select(id_col, "m", F.struct(dist.alias("d"), F.col("cid")).alias("sc"))
        .groupBy(id_col, "m")
        .agg(F.min("sc").alias("best"))
        .select(id_col, "m", F.col("best.cid").alias("code"))
    )
    return (
        best.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: s["code"].cast("tinyint"),
            ).alias("codes")
        )
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540 —
# public literature): cluster the embedding space, then within each
# cluster collapse groups of semantically-identical items (cosine >=
# 1 - eps) down to one representative.  The step after exact/minhash
# dedup in a modern curation funnel: it removes *paraphrase*-level
# redundancy that token-hash methods cannot see.
#
# Scale shape at 100 TB:
# - assignment is a broadcast of the k x dim codebook — a projection,
#   no shuffle of the corpus;
# - the pair search is an equi-join on the cluster id, so cost is
#   sum(n_c^2) over clusters, never corpus^2 — k is the dial that keeps
#   n_c bounded (the paper runs k=50k on LAION; here k defaults small
#   because the test corpus is small);
# - keeper election reuses connected_components (pointer-jumping CC)
#   and one per-group min — both shuffle on bounded keys.
# ---------------------------------------------------------------------------
def assign_cells(
    emb: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, vec, vnorm, cell, cos_c): nearest-centroid assignment by
    cosine against a broadcast codebook; cos_c is the cosine to the OWN
    centroid (SemDeDup's keeper criterion) and vnorm the vector's L2
    norm (hoisted once, reused by downstream pair cosines).  Argmax via
    max over (cos, cid) structs, then the winner's cid (max over the
    cid alone would pick the largest cid outright)."""
    import math

    spark = emb.sparkSession

    def _norm(c):
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    # centroid norms precomputed as literals and the row norm hoisted to
    # one column: one fold per (vector, centroid) pair instead of three.
    # Same IEEE ops in the same order as cosine_sql (sequential fold,
    # correctly-rounded sqrt), so the cosines — and the argmax — are
    # bit-identical to the naive form (the semdedup tests' pure-Python
    # reference recomputes them independently).
    cdf = spark.createDataFrame(
        [(cid, [float(x) for x in c], _norm(c)) for cid, c in enumerate(centroids)],
        "cid int, ce array<double>, nc double",
    )
    withn = emb.select(id_col, vec_col).withColumn(
        "__nv", F.expr(f"sqrt({dot_sql(vec_col, vec_col)})")
    )
    cos = F.expr(dot_sql(vec_col, "ce")) / (F.col("__nv") * F.col("nc"))
    scored = withn.crossJoin(F.broadcast(cdf)).select(
        F.col(id_col),
        F.col(vec_col),
        "__nv",
        F.struct(cos.alias("cos"), F.col("cid")).alias("sc"),
    )
    return (
        scored.groupBy(id_col, vec_col, "__nv")
        .agg(F.max("sc").alias("best"))
        .select(
            id_col,
            vec_col,
            F.col("__nv").alias("vnorm"),
            F.col("best.cid").alias("cell"),
            F.col("best.cos").alias("cos_c"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    k: int = 16,
    n_iter: int = 3,
    eps: float = 0.05,
    max_multiplicity: int | None = None,
    silver_key: str | None = None,
) -> DataFrame:
    """(id, cell, group_id, keeper_id, is_kept): SemDeDup over `emb`.

    Pairs within a cluster with cosine >= 1 - eps are semantic
    duplicates; duplicate groups are the connected components of that
    pair graph (transitively closed, as in the paper's implementation);
    the kept representative is the member with the LOWEST cosine to its
    cluster centroid (the paper's choice: keep the "edge" example,
    discard the prototypical interior ones), ties broken by smallest id.
    Singletons (no semantic twin) are all kept.

    `centroids` pins a codebook (deterministic, oracle-friendly);
    otherwise spherical k-means trains one (kmeans_train, k/n_iter).
    Cross-cluster duplicate pairs are invisible by construction — the
    paper's accepted approximation; raise k for cost, lower it for
    recall.

    The O(sum n_c^2) pair scan runs over FINGERPRINT-COLLAPSED
    representatives (one row per distinct vector, md5 of the array's
    JSON form), with each collapsed copy linked to its representative by
    a linear (rep, member) edge — the near_dup_groups discipline, which
    makes pair-scan volume independent of exact-duplicate multiplicity.
    Identical nonzero vectors have pairwise cosine 1.0 >= 1-eps for any
    eps >= 0, so the collapsed graph has exactly the components of the
    naive all-copies scan (up to the one degenerate corner: at eps=0 an
    identical pair whose cosine rounds to 0.99999... under IEEE would be
    dropped by the naive filter but kept here — the collapse is the
    mathematically correct side).  Zero-norm vectors have undefined
    cosine (NULL, filtered) and stay singletons on both paths.

    `silver_key` makes the two intermediates (the cell
    assignment — the stored cluster index of a production SemDeDup run —
    and the collapsed rep table) and the connected-components state
    session silvers under that key; without it they are lazy plans
    recomputed per call; `max_multiplicity` is the cached
    corpus duplicate bound (session.embedding_stats) — when it is 1 the
    fingerprint collapse is the identity, so the groupBy, the rep
    persist and the copy-edge expansion are all skipped (the vectors ARE
    the reps; identical components by construction).  A fingerprint
    collision in the stats can only report max_m > 1 and run the exact
    collapse unnecessarily — never skip it when copies exist."""
    if centroids is None:
        centroids, _ = kmeans_train(emb, vec_col, id_col, k=k, n_iter=n_iter)

    from classic_fcd_spark.session import session_silver

    def _silver(build, scope: str):
        key = None if silver_key is None else f"{scope}|{silver_key}"
        return session_silver(emb.sparkSession, key, build)

    par = emb.sparkSession.sparkContext.defaultParallelism
    assigned = _silver(
        lambda: assign_cells(emb, centroids, vec_col, id_col).repartition(
            par, id_col
        ),
        "semantic_dedup:assigned",
    )
    if max_multiplicity == 1:
        nz = assigned.filter(F.col("vnorm") > 0)
        reps = nz.select(
            F.col(id_col).alias("rid"),
            F.col("cell"),
            F.col(vec_col).alias("v"),
            F.col("vnorm").alias("n"),
        )
        collapsed = False
    else:
        collapsed = True
        # collapse exact duplicates: identical vectors land in the same
        # cell (assignment is a pure function of the vector), so one rep
        # per fingerprint carries the whole copy-set through the
        # quadratic scan
        nz = assigned.filter(F.col("vnorm") > 0).withColumn(
            "fp", F.md5(F.to_json(F.struct(F.col(vec_col).alias("v"))))
        )
        reps = _silver(
            lambda: nz.groupBy("fp")
            .agg(
                F.min(
                    F.struct(
                        F.col(id_col).alias("rid"),
                        F.col("cell").alias("cell"),
                        F.col(vec_col).alias("v"),
                        F.col("vnorm").alias("n"),
                    )
                ).alias("r")
            )
            .select("fp", "r.rid", "r.cell", "r.v", "r.n"),
            "semantic_dedup:reps",
        )
    a = reps.select(
        "cell",
        F.col("rid").alias("i"),
        F.col("v").alias("va"),
        F.col("n").alias("na"),
    )
    b = reps.select(
        "cell",
        F.col("rid").alias("j"),
        F.col("v").alias("vb"),
        F.col("n").alias("nb"),
    )
    # pair cosine with both norms hoisted: ONE fold per candidate pair
    # (dot), bit-identical to cosine_sql's dot/(sqrt*sqrt) form
    pair_cos = F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
    rep_pairs = (
        a.join(b, "cell")
        .filter(F.col("i") < F.col("j"))
        .filter(pair_cos >= 1.0 - eps)
        .select("i", "j")
    )
    # copy edges: rid is the min id of its fingerprint group, so i < j
    # holds and these cannot collide with rep_pairs (different-fp only).
    # On the max_multiplicity == 1 dispatch there are no copies — the
    # rep pairs are the whole edge set.
    if not collapsed:
        pairs = rep_pairs
    else:
        copy_edges = (
            nz.select(id_col, "fp")
            .join(reps.select("fp", "rid"), "fp")
            .filter(F.col(id_col) != F.col("rid"))
            .select(F.col("rid").alias("i"), F.col(id_col).alias("j"))
        )
        pairs = rep_pairs.unionByName(copy_edges)
    from classic_fcd_spark.operators.dedup import connected_components

    comp = connected_components(
        pairs,
        memo_key=None if silver_key is None else f"semantic_dedup|{silver_key}",
    )  # (node, label); only non-singletons
    members = assigned.join(
        comp, assigned[id_col] == comp["node"], "left"
    ).select(
        id_col,
        "cell",
        "cos_c",
        F.coalesce("label", F.col(id_col)).alias("group_id"),
    )
    keepers = members.groupBy("group_id").agg(
        F.min(F.struct(F.col("cos_c").alias("c"), F.col(id_col).alias("n"))).alias(
            "kp"
        )
    )
    return members.join(keepers, "group_id").select(
        id_col,
        "cell",
        "group_id",
        F.col("kp.n").alias("keeper_id"),
        (F.col(id_col) == F.col("kp.n")).alias("is_kept"),
    )


def incremental_semantic_pairs(
    new_emb: DataFrame | None,
    index_assigned: DataFrame,
    centroids: list[list[float]] | None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    eps: float = 0.05,
    probe_assigned: DataFrame | None = None,
) -> DataFrame:
    """(new_id, dup_of, cos_e6): semantic duplicates of a NEW batch
    against the STORED corpus assignment index — the incremental form of
    semantic_dedup, mirroring operators/dedup.incremental_near_dups:
    production ingest dedupes today's batch against yesterday's corpus,
    never re-clusters the corpus.

    `index_assigned` is a prior assign_cells output (id, vec, vnorm,
    cell, cos_c) — the stored artifact; at 100 TB it lives partitioned
    BY CELL, so the cell equi-join below prunes the index read to the
    batch's touched cells (a batch touches at most |batch| of the k
    cells).  The new batch is assigned against the SAME frozen codebook
    (centroid drift invalidates cell locality — retraining is a corpus
    regeneration event, exactly like re-banding the MinHash index).

    Cost: assignment is |batch| x k broadcast folds; the probe join is
    bounded by batch-cell occupancy — never a corpus self-join.  Pair
    cosines reuse both sides' hoisted norms (one fold per candidate) and
    are floored to e6 integers (the engine's order-free exact policy).
    Growing the index = appending the batch's own assignment rows to the
    stored table (same partition-overwrite exactly-once story as the
    MinHash band index, streaming/incremental_dedup.py).

    `probe_assigned` supplies an already-assigned batch (an assign_cells
    output) and skips the assignment — the streaming twin's path, which
    assigns once and reuses the rows for both the probe and the index
    write (one shared implementation of the pair scan, not two)."""
    if probe_assigned is None and (new_emb is None or centroids is None):
        raise ValueError(
            "incremental_semantic_pairs needs either probe_assigned or "
            "both new_emb and centroids"
        )
    probe = (
        probe_assigned
        if probe_assigned is not None
        else assign_cells(new_emb, centroids, vec_col, id_col)
    )
    n = probe.select(
        "cell",
        F.col(id_col).alias("new_id"),
        F.col(vec_col).alias("va"),
        F.col("vnorm").alias("na"),
    )
    x = index_assigned.select(
        "cell",
        F.col(id_col).alias("dup_of"),
        F.col(vec_col).alias("vb"),
        F.col("vnorm").alias("nb"),
    )
    pair_cos = F.expr(dot_sql("va", "vb")) / (F.col("na") * F.col("nb"))
    return (
        n.join(x, "cell")
        .withColumn("cos", pair_cos)
        .filter(F.col("cos") >= 1.0 - eps)
        .select(
            "new_id",
            "dup_of",
            F.floor(F.col("cos") * F.lit(1e6)).cast("bigint").alias("cos_e6"),
        )
    )
