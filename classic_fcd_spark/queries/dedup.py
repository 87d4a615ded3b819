"""Deduplication query inventory over `documents`.

Exact dedup, MinHash+LSH near-dup, exact n-gram Jaccard, SimHash — each
oracle-checked against DuckDB running the *same* md5-derived hashing (no
engine-native hash functions anywhere, SURVEY §7 phase 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dedup import (
    duck_minhash_from_hashes,
    duck_shingle_hashes,
    duck_simhash32_cte,
    duck_word_shingles,
    jaccard_pairs,
    lsh_candidate_pairs,
    word_shingles,
    ws_tokens,
)
from classic_fcd_spark.queries.registry import register
from classic_fcd_spark.session import load_tables

_D_TOKS = "regexp_split_to_array(trim(text), ' +')"


# ---------------------------------------------------------------------------
# Exact dedup (bag-of-words key: the synthetic corpus plants ~20 dup groups).
# ---------------------------------------------------------------------------
@register(
    "exact_dedup_groups",
    f"""
    SELECT md5(array_to_string(list_sort(list_distinct({_D_TOKS})), ' ')) AS bow_key,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keeper_doc_id
    FROM documents
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
    doc="Exact deduplication via hash-groupBy (D3 dropDuplicates family + "
    "LLM-pipeline exact dedup): one shuffle on the content key; "
    "keeper = min(doc_id) is the deterministic survivor policy",
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir)["documents"]
    key = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(ws_tokens("text")))))
    return (
        docs.groupBy(key.alias("bow_key"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keeper_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate detection (the 100 TB-scale path).
# ---------------------------------------------------------------------------
_SH = duck_word_shingles("text")

_MINHASH_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, {_SH} AS shingles
        FROM documents WHERE len({_D_TOKS}) >= 3
    ), hashed AS (
        SELECT doc_id, shingles, {duck_shingle_hashes("shingles")} AS hs FROM sh
    ), sig AS (
        SELECT doc_id, shingles, {duck_minhash_from_hashes("hs")} AS sig FROM hashed
    ), banded AS (
        SELECT doc_id, b,
               md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bh
        FROM sig, (SELECT unnest([0,1,2,3]) AS b)
    ), cand AS (
        SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
        FROM banded l JOIN banded r
          ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id
    )
    SELECT i, j,
           len(list_intersect(a.shingles, b.shingles)) AS inter,
           len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles)) AS uni,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM cand JOIN sh a ON a.doc_id = i JOIN sh b ON b.doc_id = j
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.8
"""


@register(
    "minhash_lsh_near_dups",
    _MINHASH_ORACLE,
    doc="MinHash(16 hashes)+LSH(4 bands) near-dup detection with exact "
    "Jaccard verification on candidates only. Shuffle key = band hash, so "
    "cost follows collisions, never n² pairs — the scale path for fuzzy "
    "dedup at 100 TB. All hashes are md5-derived hex (engine-portable).",
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the (doc_id, shingles) silver table is shared by the whole dedup
    # family and persisted once per corpus (session.shingle_table): the
    # md5 shingle projection dominates every fuzzy-dedup query's cost,
    # and a long-lived engine pays it once per corpus generation
    from classic_fcd_spark.operators.dedup import (
        collapse_by_shingles,
        collapse_pays_off,
    )
    from classic_fcd_spark.session import session_silver, shingle_stats, shingle_table

    sh = shingle_table(spark, sf_dir).select("doc_id", "shingles")
    # duplicate-mass dispatch: the corpus-level fingerprint stats are ONE
    # cached aggregate per corpus generation (session.shingle_stats), not
    # a per-query collapse groupBy + max(m) probe.  Low duplicate mass ->
    # the direct plan, whose extra verify work is bounded by
    # COLLAPSE_DUP_MASS; high mass (clone corpora) -> the collapse below.
    # Both plans emit the exact same pair set.
    n_docs, n_distinct, max_m = shingle_stats(spark, sf_dir)
    if not collapse_pays_off(n_docs, n_distinct, max_m):
        # candidates probe the per-corpus STORED band table
        # (session.banded_minhash_table — what a production ingest
        # materializes) instead of re-deriving the signature table per
        # invocation; the max-bucket dispatch probe is memoized with it
        from classic_fcd_spark.operators.dedup import adaptive_band_self_join
        from classic_fcd_spark.session import banded_minhash_table

        banded = banded_minhash_table(spark, sf_dir)
        cand = adaptive_band_self_join(
            banded,
            "doc_id",
            ["band", "bh"],
            memo_key=f"minhash:max_bucket|{sf_dir}",
        )
        return jaccard_pairs(cand, sh, "doc_id", "shingles").filter(
            F.col("jaccard") >= 0.8
        )
    # duplicate collapse (SCALE.md §Dedup): band + verify once per
    # DISTINCT shingle set, expand member pairs after — identical output
    # (copies share every band and every pairwise Jaccard), but the
    # verify shuffle is distinct-sized instead of multiplicity-quadratic
    # (an sf10 clone corpus pushed ~125 GB through it).  The groups and
    # the rep band table are corpus silvers.
    groups = session_silver(
        spark,
        f"minhash:groups|{sf_dir}",
        lambda: collapse_by_shingles(sh, "doc_id", "shingles"),
    )
    reps = groups.select(F.col("rid").alias("doc_id"), "shingles")
    cand = lsh_candidate_pairs(
        reps, "doc_id", "shingles", memo_key=f"minhash:reps|{sf_dir}"
    )
    rep_pairs = jaccard_pairs(cand, reps, "doc_id", "shingles").filter(
        F.col("jaccard") >= 0.8
    )
    # cross-group: every (a in g_i, b in g_j) inherits the rep pair's
    # inter/uni/jaccard exactly (identical shingle arrays); least/
    # greatest restores the i<j contract
    mi = groups.select(F.col("rid").alias("i"), F.col("members").alias("mi"))
    mj = groups.select(F.col("rid").alias("j"), F.col("members").alias("mj"))
    cross = (
        rep_pairs.join(mi, "i")
        .join(mj, "j")
        .select("inter", "uni", "jaccard", F.explode("mi").alias("a"), "mj")
        .select("inter", "uni", "jaccard", "a", F.explode("mj").alias("b"))
        .select(
            F.least("a", "b").alias("i"),
            F.greatest("a", "b").alias("j"),
            "inter",
            "uni",
            "jaccard",
        )
    )
    # intra-group: identical docs — inter = uni = |shingles|, jaccard =
    # the same double division the oracle evaluates on the two copies
    # (n/n = exactly 1.0 ≥ 0.8 on both engines).  size > 0 guard: an
    # empty-shingle duplicate group would emit 0/0 = NaN rows the
    # oracle's >= 0.8 filter drops — unreachable on the >= 3-token
    # silver, but the invariant belongs to this plan, not to the
    # upstream filter.
    n = F.size("shingles").cast("long")
    intra = (
        groups.filter((F.col("m") >= 2) & (F.size("shingles") > 0))
        .select(
            n.alias("inter"),
            n.alias("uni"),
            (n.cast("double") / n.cast("double")).alias("jaccard"),
            "members",
        )
        .select("inter", "uni", "jaccard", F.explode("members").alias("i"), "members")
        .select("inter", "uni", "jaccard", "i", F.explode("members").alias("j"))
        .filter(F.col("i") < F.col("j"))
        .select("i", "j", "inter", "uni", "jaccard")
    )
    return cross.unionByName(intra)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (prefix-filtered set-similarity join), gated by the
# in-test DuckDB oracle (tests/test_dedup_similarity.py); the registered
# minhash_lsh_near_dups + near_dup_groups share its shingle silver and
# its verify-on-candidates shape.
# ---------------------------------------------------------------------------
NGRAM_JACCARD_ORACLE_SQL = f"""
    WITH sh AS (
        SELECT doc_id, {_SH} AS shingles
        FROM documents WHERE len({_D_TOKS}) >= 3
    ), ex AS (
        SELECT doc_id, unnest(shingles) AS s FROM sh
    ), inter AS (
        SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS inter
        FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i, j, inter,
           sa.n + sb.n - inter AS uni,
           CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
    FROM inter
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sa ON sa.doc_id = i
    JOIN (SELECT doc_id, len(shingles) AS n FROM sh) sb ON sb.doc_id = j
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
    """


def _jaccard_prefix_silver(spark: SparkSession, sf_dir: str):
    """(doc_id, n, s) rarest-first PPJoin prefix rows, persisted once per
    (session, corpus generation).  Row-identical to the inline build it
    replaces: explode the shingle silver, rank each doc's shingles by
    (document frequency asc, shingle), keep rank <= n - ceil(0.8n) + 1
    (all-integer: ceil(4n/5) = (4n+4) div 5)."""
    from pyspark.sql import Window

    from classic_fcd_spark.session import session_silver, shingle_table

    def build():
        sh = shingle_table(spark, sf_dir)
        ex = sh.select("doc_id", "n", F.explode("shingles").alias("s"))
        freq = ex.groupBy("s").agg(F.count("*").alias("df"))
        w = Window.partitionBy("doc_id").orderBy("df", "s")
        ranked = ex.join(freq, "s").withColumn("rk", F.row_number().over(w))
        return ranked.filter(
            F.col("rk") <= F.expr("n - ((4 * n + 4) div 5) + 1")
        ).select("doc_id", "n", "s")

    return session_silver(spark, f"jaccard_prefix|{sf_dir}", build)


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard set-similarity join via PREFIX FILTERING
    (the PPJoin family, public literature: Xiao et al., Chaudhuri et
    al.): shingles are globally ordered rarest-first; any pair with
    J >= 0.8 must share one of each doc's first n-ceil(0.8n)+1 shingles
    in that order (provably lossless), so the self-join touches only
    the rare-shingle prefixes instead of every occurrence — exact
    result, collision cost bounded by rare-token frequencies (30 s ->
    ~3 s at sf0.1 vs the naive all-occurrence join).  A size-ratio
    filter (5*min >= 4*max, integer-exact) prunes before the verify,
    and verification is one array_intersect per surviving candidate.
    Gated by the in-test oracle (NGRAM_JACCARD_ORACLE_SQL)."""
    from classic_fcd_spark.session import shingle_table

    # the shared persisted shingle silver table feeds the frequency
    # pass, the prefix build, and BOTH sides of the verify join
    sh = shingle_table(spark, sf_dir)
    # the rarest-first prefix index is a pure function of the
    # corpus — exactly the stored-index class (band table, postings,
    # PQ codes) an ingest maintains next to the shingle silver — so it
    # is persisted once per (session, corpus generation); steady-state
    # calls skip the frequency groupBy and the per-doc ranking window
    # (two of the plan's four exchanges)
    prefix = _jaccard_prefix_silver(spark, sf_dir)
    pa = prefix.select(F.col("doc_id").alias("i"), F.col("n").alias("na"), "s")
    pb = prefix.select(F.col("doc_id").alias("j"), F.col("n").alias("nb"), "s")
    cand = (
        pa.join(pb, "s")
        .filter(F.col("i") < F.col("j"))
        # J >= t forces min(n) >= t*max(n); with t = 4/5 this is exact in ints
        .filter(
            F.least("na", "nb") * 5 >= F.greatest("na", "nb") * 4
        )
        .select("i", "j")
        .distinct()
    )
    # exact verify: one set-intersect per candidate (shingle arrays are
    # distinct by construction, so array_intersect is the true overlap)
    sa = sh.select(F.col("doc_id").alias("i"), F.col("shingles").alias("sha"), F.col("n").alias("na"))
    sb = sh.select(F.col("doc_id").alias("j"), F.col("shingles").alias("shb"), F.col("n").alias("nb"))
    inter = F.size(F.array_intersect("sha", "shb")).cast("long")
    verified = (
        cand.join(sa, "i")
        .join(sb, "j")
        .withColumn("inter", inter)
        .withColumn("uni", (F.col("na") + F.col("nb")).cast("long") - F.col("inter"))
        .withColumn("jaccard", F.col("inter").cast("double") / F.col("uni"))
        .filter(F.col("jaccard") >= 0.8)
    )
    return verified.select("i", "j", "inter", "uni", "jaccard")


# ---------------------------------------------------------------------------
# SimHash signatures (single-pass projection).  Unregistered:
# simhash_near_dups computes the identical signatures inside its gated
# plan (its oracle regenerates them in SQL), so a signature-only registry
# row would be a pattern-twin; the function stays for tests/bench.
# ---------------------------------------------------------------------------
def simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-32 fingerprinting: bit j = majority vote of md5-derived
    bit j over distinct word 3-shingles; pure projection (no shuffle).
    Hex-digit bit extraction keeps Spark and the SQL oracle
    bit-identical.  Shingle features, not unigram sets: the corpus draws
    from a ~31-word vocabulary, so every doc contains most of the vocab
    and unigram-set fingerprints collapse onto a few values (308k
    hamming<=1 pairs from 5k docs — all false kin); 3-gram features
    restore discrimination, same as the MinHash path.

    Returns the stored per-corpus fingerprint silver
    (session.simhash_silver — identical rows: same >=3-token filter and
    the same word 3-shingles, via the shared shingle silver) instead of
    re-fingerprinting per call."""
    from classic_fcd_spark.session import simhash_silver

    return simhash_silver(spark, sf_dir)


# ---------------------------------------------------------------------------
# SimHash near-duplicates: hamming <= k via byte-band LSH (the query that
# actually USES the simhash signatures).
# ---------------------------------------------------------------------------
_SIMHASH_K = 1  # 4 byte-bands guarantee recall up to hamming <= 3 (pigeonhole);
# k=1 keeps 'near-dup' strict.  Fingerprints are over word 3-shingles, not
# unigram sets: the synthetic corpus has a ~31-word vocabulary, so unigram
# sets are near-identical across ALL docs and their fingerprints yield
# hundreds of thousands of hamming<=1 false-kin pairs (see simhash_docs).


# The driver oracle of simhash_near_dups (integer-exact).
SIMHASH_ORACLE_SQL = f"""
    WITH {duck_simhash32_cte(_SH, f"documents WHERE len({_D_TOKS}) >= 3")},
    banded AS (
        -- pure-integer divisors: // on DOUBLE operands does not floor
        SELECT doc_id, simhash, b, (simhash // d) % 256 AS byte
        FROM sh, (SELECT unnest([0, 1, 2, 3]) AS b, unnest([1, 256, 65536, 16777216]) AS d)
    ),
    cand AS (
        SELECT DISTINCT l.doc_id AS i, r.doc_id AS j,
               l.simhash AS sa, r.simhash AS sb
        FROM banded l JOIN banded r
          ON l.b = r.b AND l.byte = r.byte AND l.doc_id < r.doc_id
    )
    SELECT i, j, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {_SIMHASH_K}
    """


@register(
    "simhash_near_dups",
    SIMHASH_ORACLE_SQL,
    doc="D2 SimHash near-duplicate pairs (Charikar 2002 / MMDS): 32-bit "
    "majority-vote fingerprints over word 3-shingles, byte-band LSH "
    "(pigeonhole-exact recall at hamming<=3), bit_count(xor) verify.",
)
def simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup search: the 32-bit fingerprint is split into 4
    byte bands; two docs within hamming distance k of each other agree on
    at least one whole band (pigeonhole), so the band equi-join finds
    EVERY such pair — exact recall, collision-bounded cost, never n².
    Verification is bit_count(xor) per candidate (`near_dup_groups`'s
    gated plan composes these same pairs)."""
    from classic_fcd_spark.operators.dedup import simhash_hamming_pairs
    from classic_fcd_spark.session import (
        shingle_table,
        simhash_grp_table,
        simhash_silver,
    )

    # fingerprints are majority votes over the same word 3-shingles the
    # rest of the dedup family uses; the (doc_id, simhash) table is the
    # per-corpus silver shared with near_dup_groups / simhash_docs, and
    # the rep election is a silver too — inline it ran TWICE per
    # invocation (once per band-join side)
    sh = shingle_table(spark, sf_dir)
    return simhash_hamming_pairs(
        sh,
        "doc_id",
        F.col("shingles"),
        max_hamming=_SIMHASH_K,
        fingerprints=simhash_silver(spark, sf_dir),
        reps=simhash_grp_table(spark, sf_dir).select("simhash", "rep"),
    )


# ---------------------------------------------------------------------------
# Near-dup GROUPS: connected components + keeper over the simhash pairs.
# ---------------------------------------------------------------------------
@register(
    "near_dup_groups",
    # the oracle's transitive closure runs over DISTINCT fingerprints
    # (one rep per simhash value), mirroring the Spark side's
    # star-collapsed edges — a doc-level recursion accumulates
    # node×component-size reach rows, which on the sf10 clone corpus
    # (~26M doc pairs) ground for >1 h without converging.  Labeling is
    # identical: band collision and hamming depend only on the simhash
    # VALUE, so doc-level components are the member-expansion of
    # rep-level components; keeper = min doc id = min rep id (reps are
    # their group's min); a doc appears iff its group has m >= 2
    # (hamming-0 intra pairs) or its rep has a rep edge.
    f"""
    WITH RECURSIVE {duck_simhash32_cte(_SH, f"documents WHERE len({_D_TOKS}) >= 3")},
    grp AS (
        SELECT simhash, MIN(doc_id) AS rid, COUNT(*) AS m
        FROM sh GROUP BY simhash
    ),
    banded AS (
        SELECT rid, simhash, b, (simhash // d) % 256 AS byte
        FROM grp, (SELECT unnest([0, 1, 2, 3]) AS b, unnest([1, 256, 65536, 16777216]) AS d)
    ),
    pairs AS (
        SELECT DISTINCT l.rid AS i, r.rid AS j
        FROM banded l JOIN banded r ON l.b = r.b AND l.byte = r.byte AND l.rid < r.rid
        WHERE bit_count(xor(l.simhash, r.simhash)) <= 1
    ),
    edges AS (SELECT i AS a, j AS b FROM pairs UNION SELECT j, i FROM pairs),
    reach(node, label) AS (
        SELECT a, a FROM edges
        UNION
        SELECT e.b, reach.label FROM reach JOIN edges e ON reach.node = e.a
    ),
    rcomp AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
    glab AS (
        SELECT g.simhash, g.m, COALESCE(rc.label, g.rid) AS label,
               rc.node IS NOT NULL AS has_edge
        FROM grp g LEFT JOIN rcomp rc ON g.rid = rc.node
    )
    SELECT s.doc_id, gl.label AS keeper_doc_id
    FROM sh s JOIN glab gl ON s.simhash = gl.simhash
    WHERE gl.m >= 2 OR gl.has_edge
    """,
    doc="Near-dup group/keeper assignment: connected components over the "
    "simhash hamming<=1 pair graph; keeper = min doc id per component — "
    "the step that turns pair lists into actionable dedup decisions.  "
    "Spark side is iterative min-label propagation (shuffle per round, "
    "rounds = diameter, lineage truncated via localCheckpoint); the "
    "oracle is a recursive transitive-closure CTE — an independent "
    "algorithm arriving at the same labeling (closure over distinct "
    "fingerprints, expanded to members — see the oracle comment).",
)
def near_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.operators.dedup import simhash_component_labels

    from classic_fcd_spark.session import (
        shingle_table,
        simhash_grp_table,
        simhash_silver,
    )

    sh = shingle_table(spark, sf_dir)
    # star-aware labeling: CC runs on the rep-rep graph only, members
    # take label(rep) by one broadcast join — same components, same
    # min-id keepers as CC over the full collapsed edge union (see
    # simhash_component_labels' proof), but the CC input is invariant to
    # clique sizes.  It reads the fingerprint and rep-election silvers,
    # and the memo key makes the rep-graph labels a corpus silver: a warm
    # call runs no job until its collect
    return simhash_component_labels(
        sh,
        "doc_id",
        F.col("shingles"),
        max_hamming=_SIMHASH_K,
        fingerprints=simhash_silver(spark, sf_dir),
        memo_key=f"near_dup_groups|{sf_dir}",
        grp=simhash_grp_table(spark, sf_dir),
    ).select(
        F.col("node").alias("doc_id"), F.col("label").alias("keeper_doc_id")
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new batch probed against the stored corpus signature
# index, driver-gated.  The split is data-derived
# and engine-identical: index = doc_id < max(doc_id) div 2, new = rest —
# the monotone-id ingest shape (yesterday's corpus vs today's batch).
# ---------------------------------------------------------------------------
_INC_ORACLE = f"""
    WITH sh AS (
        SELECT doc_id, {_SH} AS shingles
        FROM documents WHERE len({_D_TOKS}) >= 3
    ), hashed AS (
        SELECT doc_id, shingles, {duck_shingle_hashes("shingles")} AS hs FROM sh
    ), sig AS (
        SELECT doc_id, shingles, {duck_minhash_from_hashes("hs")} AS sig FROM hashed
    ), banded AS (
        SELECT doc_id, b, md5(array_to_string(sig[(b*4+1):(b*4+4)], '|')) AS bh
        FROM sig, (SELECT unnest([0,1,2,3]) AS b)
    ), split AS (SELECT max(doc_id) // 2 AS s FROM documents),
    cand AS (
        SELECT DISTINCT n.doc_id AS new_id, x.doc_id AS dup_of
        FROM banded n JOIN banded x ON n.b = x.b AND n.bh = x.bh, split
        WHERE n.doc_id >= s AND x.doc_id < s
    )
    SELECT new_id, dup_of,
           len(list_intersect(a.shingles, b.shingles)) AS inter,
           len(a.shingles) + len(b.shingles)
             - len(list_intersect(a.shingles, b.shingles)) AS uni,
           CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
             / (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) AS jaccard
    FROM cand JOIN sh a ON a.doc_id = new_id JOIN sh b ON b.doc_id = dup_of
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
            / (len(a.shingles) + len(b.shingles)
               - len(list_intersect(a.shingles, b.shingles))) >= 0.8
"""


@register(
    "incremental_dedup",
    _INC_ORACLE,
    doc="Incremental near-dup dedup: the operator a 100 TB ingest actually "
    "runs — a new batch probes the corpus's STORED banded signature index "
    "(never a corpus self-join); corpus text is semi-joined down to band "
    "collisions before its shingles explode, so cost follows the batch "
    "size + collision count, not the corpus size.  Split is the monotone-"
    "id ingest shape: index = doc_id < max div 2, new batch = the rest.  "
    "Cross-split equivalence to the full-batch MinHash path is unit-gated "
    "in tests/test_incremental_dedup.py.",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from classic_fcd_spark.operators.dedup import (
        banded_signatures,
        collapse_by_shingles,
        collapse_pays_off,
        incremental_near_dups,
    )
    from classic_fcd_spark.session import (
        session_memo,
        session_silver,
        shingle_stats,
        shingle_table,
    )

    docs = load_tables(spark, sf_dir)["documents"]
    # the split point is a pure corpus statistic — memoized per corpus
    # generation, not re-collected per invocation
    split = session_memo(
        spark,
        f"incdedup:split|{sf_dir}",
        lambda: docs.agg(F.expr("max(doc_id) div 2")).collect()[0][0],
    )
    # the shared persisted shingle silver table feeds the band build AND
    # both verify sides (same table minhash_lsh_near_dups reads)
    sh = shingle_table(spark, sf_dir).select("doc_id", "shingles")
    index_docs = sh.filter(F.col("doc_id") < split)
    new_docs = sh.filter(F.col("doc_id") >= split)
    # duplicate-mass dispatch, same corpus-level cached stats as
    # minhash_lsh_near_dups (a whole-corpus bound necessarily bounds each
    # side of the split): low mass -> the direct probe; high mass -> the
    # per-side collapse below.  Identical pair set either way.
    n_docs, n_distinct, max_m = shingle_stats(spark, sf_dir)
    if not collapse_pays_off(n_docs, n_distinct, max_m):
        # both sides slice the per-corpus STORED band table —
        # banding is per-doc, so filter(doc_id < split) of the stored
        # table IS banded_signatures(index_docs) (and likewise the new
        # side), without re-deriving the signatures per invocation.
        # This is the documented production shape verbatim: "read it
        # for production" (operators/dedup.incremental_near_dups).
        from classic_fcd_spark.session import banded_minhash_table

        banded_all = banded_minhash_table(spark, sf_dir)
        return incremental_near_dups(
            new_docs,
            banded_all.filter(F.col("doc_id") < split),
            index_docs,
            "doc_id",
            "shingles",
            new_banded=banded_all.filter(F.col("doc_id") >= split),
        )
    # duplicate collapse, same as minhash_lsh_near_dups but per SIDE:
    # probe distinct-new against distinct-index, expand (new member ×
    # index member) after.  A new group byte-equal to an index group
    # verifies once at jaccard 1.0 and expands to m_new × m_idx pairs —
    # exactly what the uncollapsed probe emits, without dragging every
    # copy's shingles through the verify shuffle.  Both sides' groups
    # are corpus silvers.
    g_new = session_silver(
        spark,
        f"incdedup:gnew|{sf_dir}",
        lambda: collapse_by_shingles(new_docs, "doc_id", "shingles"),
    )
    g_idx = session_silver(
        spark,
        f"incdedup:gidx|{sf_dir}",
        lambda: collapse_by_shingles(index_docs, "doc_id", "shingles"),
    )
    reps_new = g_new.select(F.col("rid").alias("doc_id"), "shingles")
    reps_idx = g_idx.select(F.col("rid").alias("doc_id"), "shingles")
    banded = banded_signatures(reps_idx, "doc_id", "shingles")
    rep_pairs = incremental_near_dups(
        reps_new, banded, reps_idx, "doc_id", "shingles"
    )
    mn = g_new.select(F.col("rid").alias("new_id"), F.col("members").alias("ma"))
    mx = g_idx.select(F.col("rid").alias("dup_of"), F.col("members").alias("mb"))
    return (
        rep_pairs.join(mn, "new_id")
        .join(mx, "dup_of")
        .select("inter", "uni", "jaccard", F.explode("ma").alias("new_id"), "mb")
        .select("inter", "uni", "jaccard", "new_id", F.explode("mb").alias("dup_of"))
        .select("new_id", "dup_of", "inter", "uni", "jaccard")
    )


# ---------------------------------------------------------------------------
# Span-level ExactSubstr dedup — unregistered; its DuckDB oracle is the
# in-test gate (tests/test_spans.py TestDuplicatedSpansOracle), and the
# workload keeps its bench slot via bench._extra_workloads.
# ---------------------------------------------------------------------------
from classic_fcd_spark.operators.spans import duck_duplicated_spans_sql  # noqa: E402

DUPLICATED_SPANS_ORACLE_SQL = duck_duplicated_spans_sql(k=8, min_count=2)


def duplicated_spans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (ExactSubstr, Lee et al. 2021
    arXiv:2107.06499): maximal duplicated regions INSIDE documents at
    8-token resolution.  Linear (doc, pos, md5-window) explode shuffled
    once on the hash; the duplicate test is a map-side-combined groupBy
    + semi-join (never count-over-window on the hash — a 10^8-occurrence
    boilerplate gram must not land on one task); span merge is a lag +
    running-sum window over (doc, pos), the gap-sessionization shape.
    The oracle recomputes the same spans with DuckDB windows — an
    independent engine arriving at the same integer answer."""
    from classic_fcd_spark.operators.spans import duplicated_spans

    docs = load_tables(spark, sf_dir)["documents"]
    out = duplicated_spans(docs, k=8, min_count=2)
    # the oracle emits BIGINT span columns; Spark's pos arithmetic is int
    # (driver hash renders int sizes identically, but keep schemas aligned)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_len").cast("long").alias("span_len"),
        "n_grams",
    )
