"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

These are the LLM-training-pipeline extensions (brief §extensions; the
reference itself only needs exact dedup, D3-D7 in SURVEY §2.7 —
dropDuplicates / anti-join MERGE).

Design for 100 TB:
- Exact dedup: hash-groupBy on md5(normalized text) — one shuffle on the
  fingerprint, perfectly partitionable.
- MinHash+LSH: per-doc signature is a narrow projection (no shuffle);
  banding explodes to (band_idx, band_hash) keys and the candidate join
  shuffles on the BAND key, so cost scales with collisions, not with
  n² pairs.  Verification (exact Jaccard) touches only candidates.
- SimHash: single projection pass; near-dup = hamming ≤ k via either
  band-join on bit-chunks (same LSH trick) or pairwise check on candidates.
- All hashing is md5-based (first 16 hex chars, compared as fixed-width
  hex strings — lexicographic order == numeric order), so every operator
  here is reproducible in ANSI SQL for the DuckDB oracle: no engine hash
  functions (Spark murmur3 / DuckDB's hash differ), no RNG.

Determinism-over-floats policy: Jaccard = intersection/union of integer
counts (exact); SimHash bits come from md5 hex digits (exact); nothing
depends on float summation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

HEX_DIGITS = "0123456789abcdef"


# ---------------------------------------------------------------------------
# Shingling.
# ---------------------------------------------------------------------------
def ws_tokens(text) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), " +")


def word_shingles(text, n: int = 3) -> Column:
    """Distinct word n-grams as space-joined strings.  Docs with fewer
    than n tokens yield an empty array (callers filter them out).

    array_join(slice(toks, i, n)) rather than concat_ws over n
    element_at calls: the expression tree (and the generated code) stays
    O(1) in n, which matters for the 13-gram decontamination features —
    the n=13 concat form compiled a codegen unit big enough to cost
    seconds of Janino/JIT on first execution."""
    toks = ws_tokens(text)
    idx = F.sequence(F.lit(1), F.size(toks) - (n - 1))
    gram = lambda i: F.array_join(F.slice(toks, i, n), " ")  # noqa: E731
    return F.when(F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array().cast("array<string>")
    )


def duck_word_shingles(text_expr: str = "text", n: int = 3) -> str:
    """DuckDB expression computing the same distinct word n-grams."""
    toks = f"regexp_split_to_array(trim({text_expr}), ' +')"
    joined = " || ' ' || ".join(f"toks[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN list_distinct("
        f"[{joined} for i in range(1, len({toks}) - {n - 1} + 1)]"
        f") ELSE [] END".replace("toks[", f"{toks}[")
    )


# ---------------------------------------------------------------------------
# MinHash.
# ---------------------------------------------------------------------------
# Hash-family slice width in hex chars.  4 hex = 16-bit families: narrow
# enough that TWO md5 calls cover 16 families (CPU halves vs 8-hex), wide
# enough that chance min-collisions between unrelated docs are rare — and
# any such collision only ADDS a candidate pair, which exact-Jaccard
# verification then rejects; it can never lose a true near-dup.
SLICE_HEX = 4


def duck_shingle_hashes(shingles_expr: str, num_hashes: int = 16) -> str:
    """DuckDB expression: per-shingle concatenated hash string (bind it in
    a CTE so the minima below don't recompute the md5s)."""
    n_md5 = (num_hashes * SLICE_HEX + 31) // 32
    concat = " || ".join(f"md5('{k}:' || s)" for k in range(n_md5))
    return f"list_transform({shingles_expr}, s -> {concat})"


def duck_minhash_from_hashes(hs_expr: str, num_hashes: int = 16) -> str:
    minima = [
        f"list_aggregate(list_transform({hs_expr}, h -> substr(h, {k * SLICE_HEX + 1}, {SLICE_HEX})), 'min')"
        for k in range(num_hashes)
    ]
    return "[" + ", ".join(minima) + "]"


def minhash_sig_table(
    docs: DataFrame, id_col: str, shingle_col: str, num_hashes: int = 16
) -> DataFrame:
    """Wide signature table: one row per doc, columns m0..m{n-1}.

    Explode-then-aggregate shape instead of array higher-order functions:
    the per-row expressions stay tiny (4 md5 + 16 substr/min), so they
    compile under whole-stage codegen (the single giant array expression
    falls back to interpreted evaluation — ~100× slower), and the min()
    aggregate combines map-side.  This is also the plan that scales: the
    explode shuffles nothing; only the reduced (doc × 16 strings) row
    moves."""
    n_md5 = (num_hashes * SLICE_HEX + 31) // 32
    ex = docs.select(F.col(id_col), F.explode(F.col(shingle_col)).alias("s"))
    h = F.concat(*[F.md5(F.concat(F.lit(f"{k}:"), F.col("s"))) for k in range(n_md5)])
    hashed = ex.select(id_col, h.alias("h"))
    aggs = [
        F.min(F.substring("h", k * SLICE_HEX + 1, SLICE_HEX)).alias(f"m{k}")
        for k in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def banded_signatures(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bh) LSH band table — the thing a production corpus
    STORES at ingest time: ~bands rows x ~50 bytes per doc (~1% of corpus
    size), partitionable by (band, bh), and sufficient to answer both
    batch self-dedup (lsh_candidate_pairs) and new-batch-vs-corpus
    probes (incremental_near_dups) without touching raw text."""
    rows_per_band = num_hashes // bands
    sig = minhash_sig_table(docs, id_col, shingle_col, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"m{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    return sig.select(
        id_col, F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band", "b.bh")


def lsh_collision_prob(jaccard: float, bands: int, rows: int) -> float:
    """P(two docs with this Jaccard share >= 1 band) = 1 - (1 - J^r)^b —
    the MinHash-LSH S-curve (Mining of Massive Datasets §3.4, public
    literature).  The engine's default (b=4, r=4) gives
    1-(1-0.8^4)^4 ~= 0.88 at J=0.8 per table; multi-table/repeated-
    banding closes the recall gap."""
    if not 0.0 <= jaccard <= 1.0:
        raise ValueError(f"jaccard must be in [0,1], got {jaccard}")
    return 1.0 - (1.0 - jaccard**rows) ** bands


def choose_lsh_bands(
    num_hashes: int, threshold: float
) -> tuple[int, int]:
    """(bands, rows) with bands*rows = num_hashes whose S-curve knee
    sits closest to `threshold` — the standard sizing rule: the curve's
    steepest point is at J ~= (1/b)^(1/r), so minimize the total error
    weight (collision probability mass BELOW the threshold = false-
    positive verify work, miss probability ABOVE it = lost recall),
    integrated numerically in equal measure.

    This is the dial the 100 TB operator turns: more bands = more
    candidate collisions to verify (cost), more rows per band = sharper
    precision but recall loss near the threshold.  Deterministic: ties
    break toward more rows (fewer false positives)."""
    if num_hashes < 1:
        raise ValueError("num_hashes must be >= 1")
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1), got {threshold}")
    best = None
    for rows in range(1, num_hashes + 1):
        if num_hashes % rows:
            continue
        bands = num_hashes // rows
        steps = 200
        fp = sum(
            lsh_collision_prob(threshold * (i + 0.5) / steps, bands, rows)
            for i in range(steps)
        ) * (threshold / steps)
        fn = sum(
            1.0
            - lsh_collision_prob(
                threshold + (1.0 - threshold) * (i + 0.5) / steps, bands, rows
            )
            for i in range(steps)
        ) * ((1.0 - threshold) / steps)
        err = fp + fn
        key = (err, rows * -1)  # tie -> larger rows (sharper precision)
        if best is None or key < best[0]:
            best = (key, (bands, rows))
    return best[1]


# Per-task working-set cap for the band self-join (VERDICT r13 item 2).
# A sort-merge self-join on (band, bh) buffers one side's ENTIRE band
# group per key, so its memory is bounded only by the largest bucket —
# which on an adversarial (all-identical) or heavily-cloned corpus is
# the whole corpus: the r13 sf10 run hit UNABLE_TO_ACQUIRE_MEMORY in
# exactly this join and was "fixed" by 64 GB of driver — vertical
# scaling a 100 TB design cannot assume.  Buckets larger than this are
# split into ceil(n/K) sub-groups by a secondary hash of the id and the
# self-join runs over sub-group PAIRS (both sides replicated G ways), so
# the buffered group is ≤ ~K rows (~100 B each -> ~400 KB/task at the
# default) REGARDLESS of corpus shape, while the emitted pair set is
# provably identical (each unordered pair {i,j} meets in exactly the
# (g_i, g_j) task under i<j).  Buckets within the cap take the G=1
# degenerate path: zero replication.
MAX_BAND_GROUP = 4096

# Duplicate-mass dispatch for the r14 collapse (r15, VERDICT r14 item 3).
# collapse_by_shingles is a pure PERFORMANCE rewrite — both the collapsed
# and the direct plan emit the exact same pair set — but the collapse
# costs a full groupBy on the shingle arrays plus two member-expansion
# joins, which r14 charged to EVERY corpus: 2.73x on minhash at sf0.1,
# where the planted duplicate mass is 8 docs out of 5000.  The extra
# verify work the direct plan risks is bounded by the duplicate PAIRS it
# re-verifies: sum_g C(m_g,2) <= n_dup_docs * max_m / 2 (n_dup_docs =
# n_docs - n_distinct; within a group of size m there are (m-1) redundant
# docs and C(m,2) <= (m-1)*m/2 pairs).  Collapse only when that bound
# crosses COLLAPSE_DUP_MASS: below it the direct plan re-verifies at most
# ~COLLAPSE_DUP_MASS/2 extra pairs (~3M shingle-token rows at the
# default — noise at any scale); above it (clone corpora, adversarial
# all-identical) the collapse's distinct-sized verify is the difference
# between 1x and multiplicity-quadratic shuffle volume (the r13 sf10
# 125 GB verify).  Stats come from session.shingle_stats — one cached
# fingerprint aggregate per corpus, never a per-query probe.
COLLAPSE_DUP_MASS = 1 << 16


def collapse_pays_off(n_docs: int, n_distinct: int, max_m: int) -> bool:
    """True when the duplicate-pair upper bound justifies the collapse
    shuffle (see COLLAPSE_DUP_MASS). Exactness is unaffected either way."""
    return (n_docs - n_distinct) * max_m > COLLAPSE_DUP_MASS


def adaptive_band_self_join(
    banded: DataFrame,
    id_col: str,
    key_cols: list[str],
    max_group: int = MAX_BAND_GROUP,
    memo_key: str | None = None,
) -> DataFrame:
    """Exact self-join pairs (i < j) over equal `key_cols`, engaging the
    capped sub-group split ONLY when some bucket exceeds `max_group`.

    The detection is one aggregate over the (persisted, tiny) banded
    table collecting a single scalar — the same driver-side-statistics
    class as AQE's runtime stats and the skewjoin MG detection
    (operators/skewjoin.py): a plan decision, not a data-path collect.
    An honest corpus (every bucket within the cap) then runs the
    ORIGINAL direct self-join with ZERO added shuffles; a degenerate one
    (all-identical / heavily-cloned) pays the split instead of melting a
    task.  `banded` should be persisted by the caller — both the
    detection agg and the join branches re-read it.

    The probe is EAGER (ADVICE r14): it runs a Spark job at DataFrame-
    construction time, so building this plan costs one pass over the
    banded table even if the result is never executed, and the dispatch
    freezes against build-time data.  Deliberate: every current caller
    executes the result exactly once per corpus generation, and the
    alternative (deferring behind the first action) would decide the
    plan from inside a running job.  If a caller ever constructs these
    plans speculatively, memoize the probe next to the caller's persist
    scope rather than making it lazy.

    `memo_key` (r15) caches the probe RESULT per session via
    session.session_memo: the max bucket count is a pure function of
    (corpus, banding parameters), so repeated invocations over the same
    corpus generation — every steady-state engine call — skip the probe
    job entirely.  Callers embed the corpus identity in the key."""

    def _probe() -> int:
        return (
            banded.groupBy(*key_cols)
            .agg(F.count("*").alias("_bn"))
            .agg(F.max("_bn"))
            .first()[0]
            or 0
        )

    if memo_key is None:
        max_bucket = _probe()
    else:
        from classic_fcd_spark.session import session_memo

        max_bucket = session_memo(banded.sparkSession, memo_key, _probe)
    if max_bucket <= max_group:
        left = banded.alias("l")
        right = banded.alias("r")
        key_eq = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in key_cols]
        cond = key_eq[0]
        for e in key_eq[1:]:
            cond = cond & e
        return (
            left.join(right, cond & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")))
            .select(
                F.col(f"l.{id_col}").alias("i"),
                F.col(f"r.{id_col}").alias("j"),
            )
            .distinct()
        )
    return capped_band_self_join(banded, id_col, key_cols, max_group)


def capped_band_self_join(
    banded: DataFrame, id_col: str, key_cols: list[str], max_group: int = MAX_BAND_GROUP
) -> DataFrame:
    """Exact self-join pairs (i < j) over equal `key_cols`, with per-task
    buffered-group size capped at ~`max_group` rows (see MAX_BAND_GROUP).

    Returns distinct (i, j).  One window shuffle on the key computes
    bucket sizes without a separate aggregate+join; sub-group ids come
    from xxhash64(id) mod G so the split is deterministic and
    data-independent."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key_cols)
    g_total = F.greatest(
        F.lit(1), F.ceil(F.count("*").over(w) / F.lit(max_group))
    ).cast("int")
    b2 = banded.select(
        F.col(id_col),
        *key_cols,
        F.pmod(F.xxhash64(F.col(id_col)), g_total).cast("int").alias("__g"),
        g_total.alias("__gt"),
    )
    left = b2.select(
        F.col(id_col).alias("i"),
        *key_cols,
        F.col("__g").alias("__ga"),
        F.explode(F.sequence(F.lit(0), F.col("__gt") - 1)).alias("__gb"),
    )
    right = b2.select(
        F.col(id_col).alias("j"),
        *key_cols,
        F.explode(F.sequence(F.lit(0), F.col("__gt") - 1)).alias("__ga"),
        F.col("__g").alias("__gb"),
    )
    return (
        left.join(right, [*key_cols, "__ga", "__gb"])
        .filter(F.col("i") < F.col("j"))
        .select("i", "j")
        .distinct()
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_band_group: int = MAX_BAND_GROUP,
    memo_key: str | None = None,
) -> DataFrame:
    """(i, j) candidate pairs sharing ≥1 LSH band, i < j, distinct.

    Shuffles on the band hash (skew-safe: bucket sizes are bounded by
    collision rate, and since r14 HARD-bounded per task — buckets over
    `max_band_group` engage the capped sub-group split, see
    adaptive_band_self_join / capped_band_self_join); never
    materializes the n² pair space.
    """
    banded = banded_signatures(docs, id_col, shingle_col, num_hashes, bands)
    # The self-join would otherwise recompute the signatures on BOTH
    # branches; persist the (tiny: bands rows/doc, ~50 bytes/row) banded
    # table so they are computed exactly once.  At 100 TB banded is
    # still ~1% of corpus size — persist to MEMORY_AND_DISK or a staging
    # table; the join shuffles only (band, hash, id).  scoped_persist
    # unpersists the previous run's cache, so a long-lived session holds
    # one generation, not an ever-growing pile (round-1 leak fix).
    from classic_fcd_spark.session import scoped_persist

    banded = scoped_persist(banded, "lsh_candidate_pairs:banded")
    return adaptive_band_self_join(
        banded, id_col, ["band", "bh"], max_band_group, memo_key=memo_key
    )


def collapse_by_shingles(
    sh: DataFrame, id_col: str, shingle_col: str
) -> DataFrame:
    """(shingle_col, rid, members, m): one row per DISTINCT shingle set —
    the r7/r8 duplicate-collapse pattern (semantic_dedup /
    embedding_similar_pairs) applied to the text-dedup family.

    Byte-identical texts share the shingle ARRAY exactly (word_shingles
    is deterministic), so grouping on the array itself is exact — no
    fingerprint to collide.  On a duplicate-heavy corpus the banding and
    the Jaccard verify then run once per DISTINCT document: the r13 sf10
    attempt exploded because the clone corpus's ~25M all-true candidate
    pairs each dragged ~100 shingle rows through the verify shuffle
    (~125 GB — it exhausted the host's disk, not just its memory); with
    the collapse the verify is distinct-sized and the member expansion
    emits output-sized rows only.  Cost on a dup-free corpus: one
    groupBy over the (persisted) shingle silver."""
    return sh.groupBy(shingle_col).agg(
        F.min(id_col).alias("rid"),
        F.sort_array(F.collect_list(id_col)).alias("members"),
        F.count("*").alias("m"),
    )


def jaccard_pairs(
    pairs: DataFrame, docs: DataFrame, id_col: str, shingle_col: str
) -> DataFrame:
    """Exact Jaccard for candidate (i, j) pairs — integer arithmetic only.

    Exploded-token formulation: intersection = count of shingle tokens
    shared by i and j, computed by joining the exploded (doc, token)
    table to the candidate list and grouping — only (pair, token) rows
    ever move, never the full shingle arrays (the r1 plan shuffled
    whole arrays to both sides of two joins).  Cost is
    |candidates| × avg_shingles, independent of corpus width."""
    ex = docs.select(F.col(id_col), F.explode(F.col(shingle_col)).alias("s"))
    sizes = docs.select(F.col(id_col), F.size(F.col(shingle_col)).alias("n"))
    # (i, j, s) for i's tokens restricted to candidate pairs, then keep
    # the tokens j also has: count = |shingles(i) ∩ shingles(j)|
    # (shingle arrays are distinct by construction — word_shingles).
    pi = pairs.join(ex.withColumnRenamed(id_col, "i"), "i")
    inter = (
        pi.join(ex.select(F.col(id_col).alias("j"), "s"), ["j", "s"])
        .groupBy("i", "j")
        .agg(F.count("*").alias("inter"))
    )
    uni = F.col("sa.n") + F.col("sb.n") - F.col("inter")
    return (
        inter.join(sizes.select(F.col(id_col).alias("i"), "n").alias("sa"), "i")
        .join(sizes.select(F.col(id_col).alias("j"), "n").alias("sb"), "j")
        .select(
            "i",
            "j",
            "inter",
            uni.alias("uni"),
            (F.col("inter").cast("double") / uni.cast("double")).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (32-bit, md5-digit-derived — portable across engines).
# ---------------------------------------------------------------------------
def _bit_sql(token_expr: str, j: int) -> str:
    """Engine-portable SQL for bit j (0-based) of md5(token): hex char
    j//4 (1-based substr), bit j%4 of its digit value.  Valid in BOTH
    Spark SQL and DuckDB (instr/substr/md5/floor/% shared)."""
    char_pos = j // 4 + 1
    p = 2 ** (j % 4)
    return (
        f"CAST(FLOOR((instr('{HEX_DIGITS}', substr(md5({token_expr}), {char_pos}, 1)) - 1) / {p}) AS INT) % 2"
    )


def duck_simhash32_cte(
    tokens_expr: str, source_sql: str = "documents", id_col: str = "doc_id"
) -> str:
    """DuckDB CTE body computing (id_col, simhash) with ONE md5 per token
    — the oracle mirror of simhash32_table's explode shape.  The inline
    simhash32_sql form references the tokens expression 64 times (filter
    + len per bit), which is fine for a cheap unigram split but
    recomputes an expensive shingle list-comprehension (and re-md5s
    every token) 32x per row — minutes instead of ms on shingle
    features.  Here tokens are unnested once, hashed once, and the 32
    bit-majorities are plain integer aggregates over the hex column."""
    bit_sums = ", ".join(
        f"SUM(CAST(FLOOR((instr('{HEX_DIGITS}', substr(h, {j // 4 + 1}, 1)) - 1)"
        f" / {2 ** (j % 4)}) AS INT) % 2) AS o{j}"
        for j in range(32)
    )
    word = " + ".join(
        f"(CASE WHEN 2 * o{j} > n THEN {2**j} ELSE 0 END)" for j in range(32)
    )
    return f"""
        src AS (SELECT {id_col}, {tokens_expr} AS toks FROM {source_sql}),
        ex AS (SELECT {id_col}, md5(t.t) AS h FROM src, unnest(toks) AS t(t)),
        bitsum AS (SELECT {id_col}, COUNT(*) AS n, {bit_sums} FROM ex GROUP BY {id_col}),
        sh AS (SELECT {id_col}, CAST({word} AS BIGINT) AS simhash FROM bitsum)
    """


def simhash32_sql(tokens_expr: str, transform_fn: str, filter_fn: str, len_fn: str) -> str:
    """SimHash-32 as one SQL expression: bit j of the output is set iff
    the majority of (distinct) tokens have bit j set (strict majority;
    ties → 0).  `transform_fn`/`filter_fn`/`len_fn` adapt the HOF names
    (Spark: transform/filter/size; DuckDB: list_transform/list_filter/len).
    """
    terms = []
    for j in range(32):
        ones = f"{len_fn}({filter_fn}({tokens_expr}, t -> {_bit_sql('t', j)} = 1))"
        total = f"{len_fn}({tokens_expr})"
        terms.append(f"(CASE WHEN 2 * {ones} > {total} THEN {2**j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def simhash32_table(docs: DataFrame, id_col: str, tokens: Column) -> DataFrame:
    """Explode-based SimHash-32 (same semantics as simhash32_sql, same
    reasoning as minhash_sig_table: 32 tiny codegen-able expressions over
    exploded tokens + one map-side-combining aggregate, instead of one
    giant interpreted array expression).  Returns (id_col, simhash).

    Bit extraction is arithmetic, not string ops: the per-bit definition
    (bit j = bit j%4 of hex digit j//4 of md5) makes the 32-bit word
    exactly the little-endian read of the first 8 hex chars, so ONE
    conv(reverse(substr(md5, 1, 8)), 16, 10) per token yields a long
    whose shiftright/&1 gives every bit — 32 long ops per row instead of
    32 instr/substr string scans (the oracle keeps the per-bit string
    form; both are checked identical end-to-end by the simhash oracles
    and the unit equivalence test)."""
    ex = docs.select(F.col(id_col), F.explode(tokens).alias("t")).select(
        id_col,
        F.expr("CAST(conv(reverse(substr(md5(t), 1, 8)), 16, 10) AS BIGINT)").alias(
            "x"
        ),
    )
    ones = [
        F.sum(F.expr(f"shiftright(x, {j}) & 1")).alias(f"o{j}") for j in range(32)
    ]
    agg = ex.groupBy(id_col).agg(F.count("*").alias("n"), *ones)
    bits = [
        F.when(2 * F.col(f"o{j}") > F.col("n"), F.lit(2**j)).otherwise(F.lit(0))
        for j in range(32)
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    return agg.select(F.col(id_col), total.cast("bigint").alias("simhash"))


def _simhash_rep_pairs(
    sh: DataFrame, id_col: str, max_hamming: int, reps: DataFrame | None = None
) -> DataFrame:
    """(sa, sb, ra, rb, hamming) pairs of DISTINCT fingerprint values at
    hamming 1..k, via byte-band LSH over the collapsed fingerprint table
    — one row per distinct simhash, keyed by its min-doc representative.

    Collapsing before the band join is the scale move: a dup-heavy
    corpus concentrates docs onto few fingerprints (sf0.1: 5000 docs →
    2949 hashes, largest clique 339), and the doc-level self-join
    materializes |clique_a|x|clique_b| rows per colliding hash pair —
    the collapsed join is invariant to clique sizes.  4 byte bands over
    32 bits guarantee every pair at hamming <= 3 shares a whole band
    (pigeonhole), so recall is exact; the hamming verify runs inside the
    join stage so only true pairs leave it.

    Multi-band collisions (a pair agreeing on >1 band shows up once per
    shared band) are deduped MAP-SIDE, not by distinct (r15 opt 2): a
    pair is kept only in the FIRST band whose bytes agree — decidable
    from (sa, sb) alone inside the join stage, so each qualifying pair
    is emitted exactly once and the full-width distinct (one Exchange +
    two HashAggregates over the pair list, guide §2.2 "shuffle fewer
    bytes — or none") disappears from every simhash consumer."""
    if reps is None:
        reps = sh.groupBy("simhash").agg(F.min(id_col).alias("rep"))
    bands = F.array(
        *[F.struct(F.lit(b).alias("b"), F.lit(256**b).alias("d")) for b in range(4)]
    )
    banded = reps.select("simhash", "rep", F.explode(bands).alias("bd")).select(
        "simhash",
        "rep",
        F.col("bd.b").alias("b"),
        F.expr("(simhash div bd.d) % 256").alias("byte"),
    )
    left = banded.select(
        "b", "byte", F.col("simhash").alias("sa"), F.col("rep").alias("ra")
    )
    right = banded.select(
        "b", "byte", F.col("simhash").alias("sb"), F.col("rep").alias("rb")
    )
    hamming = F.expr("CAST(bit_count(sa ^ sb) AS INT)")
    # first band (lowest byte) on which the two fingerprints agree; the
    # join guarantees at least band `b` agrees, so the CASE total covers
    first_band = F.expr(
        "CASE WHEN sa % 256 = sb % 256 THEN 0 "
        "WHEN (sa div 256) % 256 = (sb div 256) % 256 THEN 1 "
        "WHEN (sa div 65536) % 256 = (sb div 65536) % 256 THEN 2 "
        "ELSE 3 END"
    )
    return (
        left.join(right, ["b", "byte"])
        .filter(
            (F.col("sa") < F.col("sb"))
            & (hamming <= max_hamming)
            & (F.col("b") == first_band)
        )
        .select("sa", "sb", "ra", "rb", hamming.alias("hamming"))
    )


def simhash_hamming_pairs(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    max_hamming: int = 1,
    fingerprints: DataFrame | None = None,
    reps: DataFrame | None = None,
) -> DataFrame:
    """Near-dup (i, j, hamming) pairs with hamming(simhash) <= k —
    exact recall up to hamming <= 3 (see _simhash_rep_pairs).

    Two disjoint arms, neither needing a full-width distinct: hamming-0
    pairs come from a self-join on fingerprint equality (pairwise within
    each identical-hash clique, unique by construction), hamming >= 1
    pairs from expanding the collapsed rep-pair list back to member
    docs (rep pairs are distinct and cliques are disjoint, so the
    expansion is collision-free).  Cost is O(output), not
    O(band-collision set).

    `fingerprints` (r15) reuses a stored (id, simhash) table
    (session.simhash_silver) instead of re-fingerprinting per call;
    `reps` (r16) likewise reuses a stored (simhash, rep) election
    (session.simhash_grp_table) — without it the band self-join runs
    the rep groupBy once per side (the broadcast build side cannot
    share the probe side's exchange)."""
    if fingerprints is not None:
        sh = fingerprints
    else:
        from classic_fcd_spark.session import scoped_persist

        sh = scoped_persist(
            simhash32_table(docs, id_col, tokens), "simhash_hamming_pairs:sh"
        )
    intra = (
        sh.select(F.col(id_col).alias("i"), "simhash")
        .join(sh.select(F.col(id_col).alias("j"), "simhash"), "simhash")
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", F.lit(0).alias("hamming"))
    )
    rep_pairs = _simhash_rep_pairs(sh, id_col, max_hamming, reps=reps)
    inter = (
        rep_pairs.join(sh.select(F.col(id_col).alias("ma"), F.col("simhash").alias("sa")), "sa")
        .join(sh.select(F.col(id_col).alias("mb"), F.col("simhash").alias("sb")), "sb")
        .select(
            F.least("ma", "mb").alias("i"),
            F.greatest("ma", "mb").alias("j"),
            "hamming",
        )
    )
    return intra.unionByName(inter)


def simhash_component_edges(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    max_hamming: int = 1,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """Collapsed (i, j) edge list whose connected components equal the
    components of the full hamming <= k pair graph, at a fraction of the
    edges: each identical-fingerprint clique contributes member→rep star
    edges (|clique| − 1, not |clique|²/2), and cross-fingerprint
    adjacency one rep-rep edge per hash pair (not |a|x|b| member pairs).
    This is what the group/keeper and curation paths should feed to
    connected_components — same groups, same min-id keepers (every doc
    is still a node), ~100x fewer edges on dup-heavy corpora.

    `fingerprints` (r15) reuses a stored (id, simhash) table
    (session.simhash_silver); the rep table is computed once and shared
    with the band-pair arm (it was derived twice — here and inside
    _simhash_rep_pairs)."""
    if fingerprints is not None:
        sh = fingerprints
    else:
        from classic_fcd_spark.session import scoped_persist

        sh = scoped_persist(
            simhash32_table(docs, id_col, tokens), "simhash_component_edges:sh"
        )
    reps = sh.groupBy("simhash").agg(F.min(id_col).alias("rep"))
    member = (
        sh.join(reps, "simhash")
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col(id_col).alias("i"), F.col("rep").alias("j"))
    )
    rep_edges = _simhash_rep_pairs(sh, id_col, max_hamming, reps=reps).select(
        F.col("ra").alias("i"), F.col("rb").alias("j")
    )
    return member.unionByName(rep_edges)


def simhash_component_labels(
    docs: DataFrame,
    id_col: str,
    tokens: Column,
    max_hamming: int = 1,
    fingerprints: DataFrame | None = None,
    memo_key: str | None = None,
    grp: DataFrame | None = None,
) -> DataFrame:
    """(node, label) keeper assignment over the simhash near-dup graph —
    equivalent to ``connected_components(simhash_component_edges(...))``
    but exploiting the STAR SHAPE of the collapsed edge list (r15 opt 2):
    the member→rep arm needs no iteration at all, so CC runs only on the
    rep-rep graph and members inherit ``label(rep)`` through one join.

    Equivalence proof (the driver's recursive-CTE oracle checks the
    result end-to-end):
    - a member's only edge is to its clique rep, so its component is
      exactly its rep's component;
    - every rep is the MIN doc id of its clique, so the min doc id of a
      component equals the min over the reps it contains — precisely the
      label CC assigns on the rep graph;
    - a rep whose clique has no cross-fingerprint adjacency is its own
      component minimum (its members all have larger ids), hence the
      ``coalesce(label, rep)``.

    Why it matters at scale: on a clone-heavy corpus the member arm is
    corpus-sized (sf10: ~5M member edges) while the rep graph stays
    fingerprint-sized (the same ~3k edges as sf0.1).  The old path fed
    the UNION to connected_components, pushing the edge count over the
    single-task threshold and into the distributed pointer-jumping loop
    — rounds of shuffles over corpus-sized label tables (the 4062 s
    near_dup_groups row of CHECK_r15_strict_sf10.txt).  Here the loop
    input is invariant to clique sizes; the corpus-sized work is one
    broadcast join (guide §3.1) plus one narrow-column distinct."""
    from classic_fcd_spark.session import scoped_persist, session_memo

    if fingerprints is not None:
        sh = fingerprints
    else:
        sh = scoped_persist(
            simhash32_table(docs, id_col, tokens), "simhash_component_labels:sh"
        )
    # (simhash, rep, m): rep election + clique size in the ONE aggregate
    # the rep table needs anyway — m decides below which reps are in the
    # graph at all, replacing a member-column distinct + anti-join.
    # r16: callers pass the stored per-corpus election
    # (session.simhash_grp_table) so the groupBy exchange is paid once
    # per corpus, not once per consumer per invocation.
    if grp is None:
        grp = sh.groupBy("simhash").agg(
            F.min(id_col).alias("rep"), F.count("*").alias("m")
        )
    reps = grp.select("simhash", "rep")
    member = (
        sh.join(reps, "simhash")
        .filter(F.col(id_col) != F.col("rep"))
        .select(F.col(id_col).alias("i"), F.col("rep").alias("j"))
    )
    rep_edges = scoped_persist(
        _simhash_rep_pairs(sh, id_col, max_hamming, reps=reps).select(
            F.col("ra").alias("i"), F.col("rb").alias("j")
        ),
        f"simhash_component_labels:rep_edges|{memo_key}",
    )
    spark = sh.sparkSession
    if memo_key is None:
        n_rep = rep_edges.count()
    else:
        n_rep = session_memo(spark, f"starcc:n_rep|{memo_key}", rep_edges.count)
    rep_lab = scoped_persist(
        connected_components(
            rep_edges, memo_key=None if memo_key is None else f"{memo_key}:reps"
        ),
        f"simhash_component_labels:rep_lab|{memo_key}",
    )
    # the rep label table is rep-graph-sized; when that graph fit the
    # single-task CC regime (same 1M-edge yardstick, symmetrized) it
    # certainly fits a broadcast, keeping the corpus-sized member arm
    # shuffle-free — above it, fall back to a plain shuffled join
    rl = rep_lab.select(F.col("node").alias("r_node"), F.col("label").alias("r_label"))
    if 2 * n_rep <= 1_000_000:
        rl = F.broadcast(rl)
    mem_out = member.join(rl, member.j == rl.r_node, "left").select(
        F.col("i").alias("node"),
        F.coalesce("r_label", F.col("j")).alias("label"),
    )
    # a rep is a node of the pair graph iff its clique has m >= 2
    # (hamming-0 intra pairs) or it has a rep-rep edge — the same glab
    # membership rule as the oracle CTE; one fingerprint-sized left join
    # against the shared broadcast, no distinct, no anti-join
    rep_out = (
        grp.join(rl, grp.rep == rl.r_node, "left")
        .filter((F.col("m") >= 2) | F.col("r_node").isNotNull())
        .select(
            F.col("rep").alias("node"),
            F.coalesce("r_label", F.col("rep")).alias("label"),
        )
    )
    return mem_out.unionByName(rep_out)


# ---------------------------------------------------------------------------
# Connected components over near-dup pairs: keeper assignment.
# ---------------------------------------------------------------------------
def _single_task_cc(edges: DataFrame) -> DataFrame:
    """Union-find over the whole (symmetrized) edge list in ONE executor
    task: repartition(1) + mapPartitions, no driver-side data.  Output
    matches the distributed loop exactly: (node, label = min id of the
    node's component)."""
    node_type = edges.schema["a"].dataType

    def part(rows):
        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in rows:
            a, b = r[0], r[1]
            if a not in parent:
                parent[a] = a
            if b not in parent:
                parent[b] = b
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min: dict = {}
        for v in parent:
            r = find(v)
            m = comp_min.get(r)
            if m is None or v < m:
                comp_min[r] = v
        for v in parent:
            yield (v, comp_min[find(v)])

    out_schema = StructType(
        [StructField("node", node_type), StructField("label", node_type)]
    )
    # coalesce, not repartition (r15): the caller hands a PERSISTED edge
    # list, so the 1-task read is a narrow fetch of the cached blocks —
    # repartition(1) paid a full shuffle round (map job + fetch) for the
    # same single-task layout
    rdd = edges.coalesce(1).rdd.mapPartitions(part)
    return edges.sparkSession.createDataFrame(rdd, out_schema)


def connected_components(
    pairs: DataFrame,
    max_iter: int = 50,
    local_threshold: int = 1_000_000,
    memo_key: str | None = None,
) -> DataFrame:
    """(node, label) with label = min doc id of the node's connected
    component — the keeper-assignment step that turns a near-dup PAIR
    list into dedup GROUPS.

    Min-label propagation with per-round POINTER JUMPING (label :=
    label(label) path compression): neighbor-min alone needs
    diameter-many rounds, and real near-dup graphs are chain-shaped, not
    cliques — the sf0.1 simhash graph measures diameter 13.  The jump
    roughly squares the propagated distance per round, so rounds are
    O(log diameter) (sf0.1: 13 rounds → 5) and a pathological
    million-node chain needs ~20 rounds, not a million.  localCheckpoint
    truncates the growing lineage each round — without it the plan
    doubles per iteration.  Scales as rounds x a bounded number of
    shuffles on node id; no driver-side graph."""
    edges = pairs.select(F.col("i").alias("a"), F.col("j").alias("b"))
    # pairs are unique with i < j, so the reversed union cannot collide —
    # no distinct() (it cost a full extra shuffle of the edge list)
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # materialize the edge list once — every iteration joins against it,
    # and a lazy plan would re-run the upstream pair generation per round;
    # then right-size partitioning to the GRAPH (≈500k edges/partition),
    # not the session default — iteration cost is dominated by per-stage
    # overhead when the dup graph is orders smaller than the corpus.
    # persist + count, not localCheckpoint(eager) + count (r15): the
    # eager checkpoint is its own job, so sizing the graph cost TWO jobs
    # before any CC work; the count now materializes the persist in one.
    # Lineage truncation is only needed by the ITERATIVE branch (plans
    # double per round), which re-checkpoints below.
    # `memo_key` (r15) additionally memoizes the edge COUNT per corpus
    # generation — it only picks the regime and the partition sizing, so
    # a steady-state call skips the sizing job and the first real
    # consumer materializes the persisted edges instead.
    from classic_fcd_spark.session import scoped_persist, session_memo

    edges = scoped_persist(edges, "connected_components:edges")
    if memo_key is None:
        n_edges = edges.count()
    else:
        n_edges = session_memo(
            pairs.sparkSession, f"cc:n_edges|{memo_key}", edges.count
        )
    # Two regimes, picked off the edge count the partitioning needs
    # anyway.  The near-dup graph is orders smaller than the corpus
    # (banding + fingerprint collapse), so it routinely fits ONE task:
    # below the threshold, a single mapPartitions union-find job beats
    # O(log d) rounds x several scheduled stages each — executor-side,
    # not a driver collect, and the same (node, label) contract.  Above
    # it, the distributed pointer-jumping loop below.  (GraphX-style
    # local fallback; 1M symmetric edges is a few seconds of one core.)
    if n_edges <= local_threshold:
        return _single_task_cc(edges)
    n_parts = max(1, n_edges // 500_000 + 1)
    edges = edges.repartition(n_parts, "a").localCheckpoint(eager=True)
    # label_0 = least(node, min neighbor): the same single shuffle a
    # plain distinct-nodes init would cost, but it IS round one's
    # neighbor-min (initial labels are the node ids), so the loop starts
    # one propagation step ahead
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nb"))
        .select("node", F.least(F.col("node"), F.col("nb")).alias("label"))
    )
    spark = pairs.sparkSession
    prev_conf = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n_parts))
    changed = 0
    try:
        for _ in range(max_iter):
            # 1) neighbor-min: each node offers its label to its neighbors
            neigh = (
                labels.join(edges, labels.node == edges.a)
                .groupBy(F.col("b").alias("node"))
                .agg(F.min("label").alias("nl"))
            )
            cand = labels.join(neigh, "node", "left").select(
                "node",
                F.col("label").alias("old"),
                F.least(F.col("label"), F.coalesce("nl", F.col("label"))).alias("mid"),
            )
            # 2) pointer jump: label := label(label) — path compression
            lab2 = cand.select(F.col("node").alias("l_node"), F.col("mid").alias("l_mid"))
            jumped = F.least(F.col("mid"), F.coalesce("l_mid", F.col("mid")))
            # the did-it-shrink flag rides the same select, so convergence
            # is a trivial filter over the checkpointed result — not a
            # second labels join per round
            new_labels = (
                cand.join(lab2, cand.mid == lab2.l_node, "left")
                .select("node", jumped.alias("label"), (jumped < F.col("old")).alias("chg"))
                .localCheckpoint(eager=True)
            )
            changed = new_labels.filter("chg").count()
            labels = new_labels.drop("chg")
            if changed == 0:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_conf)
    if changed != 0:
        # partially-propagated labels would silently split one component
        # into several keepers (chain-shaped graphs with diameter >
        # max_iter); fail loudly — the caller can raise max_iter or
        # switch to a pointer-doubling variant for pathological graphs
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )
    return labels


# ---------------------------------------------------------------------------
# Paragraph-level boilerplate removal (RefinedWeb/C4-style): drop any
# paragraph whose DOCUMENT frequency exceeds a threshold — footers, nav
# menus, cookie banners repeat across the crawl, body text does not.
# One groupBy on the paragraph hash + one join back; text is reassembled
# in original order JVM-side (sort_array over (pos, para) structs), so
# the whole pass is two shuffles regardless of corpus width.
# ---------------------------------------------------------------------------
def remove_common_paragraphs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int = 2,
) -> DataFrame:
    """docs with `text_col` rewritten to exclude paragraphs appearing in
    more than max_doc_freq distinct documents.  Paragraphs are \\n\\n+
    separated; matching is on the whitespace-trimmed lowercase hash so
    trivial reflows still collapse.  Docs whose every paragraph is
    boilerplate come back with empty text (callers drop or flag them)."""
    paras = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n{2,}")).alias("pos", "para"),
    ).withColumn("pk", F.md5(F.lower(F.trim("para"))))
    freq = paras.groupBy("pk").agg(
        F.countDistinct(id_col).alias("df")
    )
    kept = paras.join(freq, "pk").filter(F.col("df") <= max_doc_freq)
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("__clean")
    )
    return (
        docs.join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce("__clean", F.lit("")))
        .drop("__clean")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs stored corpus index.  At 100 TB you do
# not re-dedup the whole corpus per ingest — you probe the increment
# against the banded signature table the corpus already stores
# (banded_signatures above).  Cost: O(|new batch| + band collisions);
# the corpus side contributes only its (id, band, bh) index rows and the
# raw shingles of the CANDIDATES (id-equi semi-joined, bounded by the
# collision count) — never a corpus self-join, never full corpus text.
# ---------------------------------------------------------------------------
def incremental_near_dups(
    new_docs: DataFrame,
    index_banded: DataFrame,
    index_docs: DataFrame,
    id_col: str,
    shingle_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    new_banded: DataFrame | None = None,
) -> DataFrame:
    """(new_id, dup_of, inter, uni, jaccard) for new docs whose Jaccard
    vs some indexed doc reaches `threshold`.

    `new_banded` (r15) lets a caller hand in the new batch's (id, band,
    bh) table instead of re-deriving it here — banding is per-doc, so a
    doc_id filter of a stored corpus-wide band table is exactly the
    banded table of that slice (how the gated query feeds both sides
    from session.banded_minhash_table).

    `index_banded` is the stored (id, band, bh) table from
    banded_signatures (recompute it for tests; read it for production).
    Ids must be globally unique across batch and index (true of any
    ingest pipeline with monotone ids).  Exactly the pairs the full-batch
    minhash path would emit across the split — proven by the equivalence
    test in tests/test_incremental_dedup.py."""
    if new_banded is None:
        new_banded = banded_signatures(
            new_docs, id_col, shingle_col, num_hashes, bands
        )
    cand = (
        new_banded.alias("n")
        .join(
            index_banded.alias("x"),
            (F.col("n.band") == F.col("x.band")) & (F.col("n.bh") == F.col("x.bh")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"x.{id_col}").alias("dup_of"),
        )
        .distinct()
    )
    # exact verify on candidates only: the index side is semi-joined down
    # to candidate ids BEFORE its shingles are exploded, so corpus text
    # is touched in proportion to collisions, not corpus size
    idx_cand = index_docs.join(
        cand.select(F.col("dup_of").alias(id_col)).distinct(), id_col, "left_semi"
    )
    ex_new = new_docs.select(F.col(id_col).alias("new_id"), F.explode(shingle_col).alias("s"))
    ex_idx = idx_cand.select(F.col(id_col).alias("dup_of"), F.explode(shingle_col).alias("s"))
    inter = (
        cand.join(ex_new, "new_id")
        .join(ex_idx, ["dup_of", "s"])
        .groupBy("new_id", "dup_of")
        .agg(F.count("*").alias("inter"))
    )
    n_new = new_docs.select(F.col(id_col).alias("new_id"), F.size(shingle_col).alias("na"))
    n_idx = idx_cand.select(F.col(id_col).alias("dup_of"), F.size(shingle_col).alias("nb"))
    uni = (F.col("na") + F.col("nb")).cast("long") - F.col("inter")
    return (
        inter.join(n_new, "new_id")
        .join(n_idx, "dup_of")
        .select(
            "new_id",
            "dup_of",
            "inter",
            uni.alias("uni"),
            (F.col("inter").cast("double") / uni.cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
