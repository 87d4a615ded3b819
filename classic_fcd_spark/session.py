"""SparkSession factory with the engine's standard configuration.

Design notes (100 TB target):
- AQE on: runtime coalescing, skew-join splitting, dynamic broadcast
  selection replace all of the reference's hand-tuning (forced bitmap
  scans, chunked writes — see SURVEY.md §4).
- shuffle.partitions defaults to the local core count for tests; on a
  real cluster this is overridden (or left to AQE's coalescing with a
  high initial partition number).
- UTC session timezone: the reference stores UTC timestamps throughout
  (src/lib/time.ts); keeping the session in UTC makes date_trunc/
  date_format deterministic across environments.
- Arrow enabled: every Python-side exchange (createDataFrame, toPandas,
  pandas UDFs) goes through Arrow batches, never per-row pickling.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

# How the engine reads parquet, a session invariant set here and nowhere
# else.  Partition values the engine writes (day_pt, batch_pt, kb, ...)
# stay opaque strings: with type inference on, a column written as
# "2024-01-02" or "7" would read back as date or int on a later scan, so
# its type would flip between its first write and later reads.
# events.parquet carries TIMESTAMP(NANOS), which Spark has no type for:
# read it as long and truncate to µs in load_tables (DuckDB's ns→µs cast).
# Naive timestamp[us] columns read as TIMESTAMP, not TIMESTAMP_NTZ: under
# the UTC session tz that equals the normalize_timestamps cast, but at the
# scan instead of a projection on every table.
_READ_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    "spark.sql.sources.partitionColumnTypeInference.enabled": "false",
}

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet scans: vectorized reader + pushdown are on by default; keep
    # explicit so a misconfigured environment cannot silently disable them.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Money columns are DecimalType(38,10) (SURVEY §1.3); with ANSI mode on,
    # overflow and invalid casts fail loudly instead of silently yielding
    # NULL — matching DuckDB's (the oracle's) error-on-overflow behavior.
    "spark.sql.ansi.enabled": "true",
    # Shuffle-partition count scales with the data, not the core count:
    # a partition's sort pages must fit the per-task slice of execution
    # memory (tasks ≈ cores concurrently).  32 is right for the test
    # scales (sf ≤ 1: largest shuffle ~25M rows ≈ 50 MB/partition); at
    # sf10 the jaccard-verify shuffle is ~250M rows ≈ 500 MB/partition —
    # past the ~4 GB execution region of an 8 GB driver at 32 concurrent
    # tasks.  SPARK_GRAFT_SHUFFLE_PARTITIONS raises
    # the count per-run (AQE coalescing makes over-provisioning cheap);
    # on a real cluster this is the standard partitions ≈ data/256MB
    # sizing, see SCALE.md §Ground rules.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # Spark's write default is still legacy INT96 timestamps, which carry
    # NO parquet min/max statistics — every timestamp predicate then
    # reads every row group, silently disabling the row-group pruning the
    # time layout exists for (proven in tests/test_layout.py).  Standard
    # µs timestamps get full stats and are what every other reader
    # (DuckDB, pyarrow) expects.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.ui.enabled": "false",
    # Fixed memory budget; override per-run (e.g. scale gates) via env —
    # a documented budget, not silent vertical scaling.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # The engine compiles many large generated classes (wide aggregates,
    # JSON construction, hash pipelines); the JVM's default 240 MB
    # reserved code cache fills after a few dozen plans and the JIT stops
    # compiling — every later query then runs interpreted (observed as
    # roving 10-60x slowdowns).  1 GB keeps steady-state JIT'd.
    "spark.driver.extraJavaOptions": "-XX:ReservedCodeCacheSize=1g",
    **_READ_CONF,
}


def apply_read_conf(spark: SparkSession) -> None:
    """Give a session the engine did not build the ``_READ_CONF`` invariant.

    Every ``get_spark`` session already has it.  A foreign session (the
    driver's) runs only registered queries, and those read parquet through
    exactly two entry points, which are the only callers:
    ``load_tables`` (every batch query's tables) and
    ``streaming.drain.events_stream`` (``streaming_minute_rollup`` reaches
    ``merge_upsert`` through it without calling ``load_tables``).
    """
    for k, v in _READ_CONF.items():
        spark.conf.set(k, v)


def get_spark(
    app_name: str = "classic_fcd_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default *) so
    the same entry points run under the driver harness and on a cluster
    (where ``master`` is supplied by spark-submit and this arg stays None
    but an active session already exists).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# The engine's one cache (see session_memo for the contract): every
# memoized table, silver, statistic, bronze fixture and open extract,
# keyed (session UUID, key), oldest use first.  A persisted DataFrame is
# always a value of its own, never inside a tuple or a model object, so
# eviction can unpersist it.
# perfbench/layers.py counts entries through len() of _SHINGLE_CACHE,
# _SHINGLE_STATS and sources.fixtures._BRONZE_CACHE, so those names stay
# bound to this dict.
_SESSION_MEMO: dict[tuple[str, object], object] = {}
_SHINGLE_CACHE = _SHINGLE_STATS = _SESSION_MEMO
_MISSING = object()


def _evict(drop) -> None:
    """Remove every entry whose full key satisfies ``drop``, unpersisting
    the persisted DataFrames among them."""
    # over a snapshot: another thread (an ingest batch's concurrent
    # sinks) may insert or pop while this one scans
    for k in [k for k in list(_SESSION_MEMO) if drop(k)]:
        old = _SESSION_MEMO.pop(k, None)
        if getattr(old, "is_cached", False):
            try:
                old.unpersist()
            except Exception:  # noqa: BLE001 — its session may be gone
                pass


def _lookup(spark, key, build, fresh: bool = False):
    """The registry lookup behind session_memo.  The engine's own users
    (tables, bronze fixtures, extracts, stamped pages) call it directly
    with tuple keys ``(kind, ...)``, so a tracer that wraps session_memo
    sees silver calls only.  ``fresh`` drops the entry first, so
    ``build`` always runs (an extract reopened on request)."""
    k = (spark._jsparkSession.sessionUUID(), key)
    if fresh:
        _evict(k.__eq__)
    value = _SESSION_MEMO.pop(k, _MISSING)
    if value is _MISSING:
        _evict(lambda e: e[0] != k[0])
        value = build()
    _SESSION_MEMO[k] = value
    return value


def session_memo(spark, key: str | None, build):
    """Return ``build()``, computed once per (session, ``key``).

    This is the engine's only cache.  It holds plan-decision state
    (scalar probe statistics, tiny collected codebooks, loaded model
    handles), persisted silvers, and, through the same store, loaded
    tables, bronze fixtures and open serving extracts.  Query results are
    never memoized.

    - Key: ``(spark._jsparkSession.sessionUUID(), key)``.  The UUID is
      distinct for every ``newSession()`` (temp views and runtime conf
      are per session) and new after a restart; unlike a Python object
      id it is never reused after garbage collection.
    - Corpus identity is the caller's key: callers embed the corpus path
      (``sf_dir``) in ``key``, and the registry never looks at files.  A
      corpus regenerated at a new path (how every scale lane and
      benchmark run builds one) never hits a stale entry; rewriting
      parquet in place within one live session is out of contract.  A
      content signature in the key would cost an ``os.stat`` walk on
      every lookup.
    - ``key=None`` returns ``build()`` unmemoized, so a caller without
      a corpus identity needs no second code path.
    - Eviction, rule 1: a miss drops every entry of other sessions.
    - Eviction, rule 2: owners drop their own entries.  An extract write
      drops the relations under its directory, and stamped pages keep at
      most 32 scopes by dropping the least recently used one (a hit
      moves its entry to the back, so the store is in recency order).
    - Every dropped persisted DataFrame is unpersisted.
    """
    if key is None:
        return build()
    return _lookup(spark, key, build)


def session_silver(spark, key: str | None, build):
    """``build()`` persisted once per (session, ``key``): the silver form
    of session_memo.  Persisting is lazy, so the first action over the
    result fills the cache and no job runs here.  ``key=None`` returns
    the plain lazy plan, unpersisted: a caller without a corpus identity
    has nothing to reuse, and an unkeyed persist would outlive its
    caller."""
    return session_memo(spark, key, build if key is None else lambda: build().persist())


def shingle_table(spark, sf_dir: str):
    """(doc_id, shingles, n) silver table over `documents`, persisted once
    per (session, corpus) — the medallion pattern applied to the dedup
    family: the md5 3-shingle projection is the dominant cost of every
    fuzzy-dedup query (minhash, n-gram Jaccard, incremental probe), and a
    long-lived engine computes it once per corpus generation, not once
    per query.  Docs with < 3 tokens are excluded (no shingles), matching
    every consumer's filter."""

    def build():
        from classic_fcd_spark.operators.dedup import word_shingles, ws_tokens

        docs = load_tables(spark, sf_dir)["documents"]
        par = spark.sparkContext.defaultParallelism
        return (
            docs.repartition(par, "doc_id")
            .filter(F.size(ws_tokens("text")) >= 3)
            .select("doc_id", word_shingles("text").alias("shingles"))
            .withColumn("n", F.size("shingles"))
        )

    return session_silver(spark, f"shingle_table|{sf_dir}", build)


def shingle_stats(spark, sf_dir: str) -> tuple[int, int, int]:
    """(n_docs, n_distinct_sets, max_multiplicity) of the shingle silver —
    ONE cached aggregate per (session, corpus generation), shared by every
    dedup-family query: it replaces the per-query collapse and max(m)
    probes and is paid once per corpus, not once per query.

    The aggregate groups on md5(shingle array), so the shuffle moves
    16-byte fingerprints, never the arrays themselves.  Collision
    direction is safe by construction: an md5 collision can only LOWER
    the distinct count / RAISE the multiplicity, i.e. push a consumer
    toward running the exact array-keyed collapse unnecessarily — it can
    never report "no duplicates" when duplicates exist (distinct
    fingerprints imply distinct arrays)."""

    def build():
        sh = shingle_table(spark, sf_dir)
        fp = F.md5(F.concat_ws("\x1f", "shingles"))
        row = (
            sh.groupBy(fp.alias("fp"))
            .agg(F.count("*").alias("c"))
            .agg(
                F.sum("c").alias("n"),
                F.count("*").alias("d"),
                F.max("c").alias("m"),
            )
            .first()
        )
        return (int(row[0] or 0), int(row[1] or 0), int(row[2] or 1))

    return session_memo(spark, f"shingle_stats|{sf_dir}", build)


def embedding_stats(spark, sf_dir: str) -> tuple[int, int, int]:
    """(n_vecs, n_distinct_vectors, max_multiplicity) of `embeddings` —
    the shingle_stats twin for the vector family: ONE cached
    fingerprint aggregate per corpus generation replaces
    embedding_similar_pairs' per-call max(m) probe AND lets a
    duplicate-free corpus skip the collapse groupBy outright.  The
    md5-of-JSON fingerprint keeps the shuffle at 16 bytes/row (never
    the 64-double arrays); a collision can only push a consumer toward
    the exact array-keyed collapse, never away from it (distinct
    fingerprints imply distinct vectors)."""

    def build():
        emb = load_tables(spark, sf_dir)["embeddings"]
        fp = F.md5(F.to_json(F.struct(F.col("embedding").alias("v"))))
        row = (
            emb.groupBy(fp.alias("fp"))
            .agg(F.count("*").alias("c"))
            .agg(
                F.sum("c").alias("n"),
                F.count("*").alias("d"),
                F.max("c").alias("m"),
            )
            .first()
        )
        return (int(row[0] or 0), int(row[1] or 0), int(row[2] or 1))

    return session_memo(spark, f"embedding_stats|{sf_dir}", build)


def embedding_codebook(spark, sf_dir: str, k: int) -> list:
    """First-k corpus vectors ordered by vec_id — the pinned
    deterministic codebook shared by the ann_ivf / ann_pq arms and
    semantic_dedup: collected ONCE per (session, corpus, k)
    instead of one k-row collect job per query invocation."""

    def build():
        emb = load_tables(spark, sf_dir)["embeddings"]
        return [
            r["embedding"]
            for r in emb.filter(F.col("vec_id") < k).orderBy("vec_id").collect()
        ]

    return session_memo(spark, f"embedding_codebook|{k}|{sf_dir}", build)


def banded_minhash_table(spark, sf_dir: str):
    """The (doc_id, band, bh) MinHash-LSH band table over the shingle
    silver, persisted once per (session, corpus) — per its own operator
    docstring this is 'the thing a production corpus STORES at ingest
    time' (operators/dedup.banded_signatures): ~bands rows x ~50 bytes
    per doc, sufficient for both batch self-dedup and incremental
    probes.  minhash_lsh_near_dups' direct path and BOTH sides of
    incremental_dedup's split read it; banding is per-doc (independent
    of the rest of the corpus), so a doc_id filter of this table IS the
    banded table of the filtered corpus."""

    def build():
        from classic_fcd_spark.operators.dedup import banded_signatures

        sh = shingle_table(spark, sf_dir).select("doc_id", "shingles")
        return banded_signatures(sh, "doc_id", "shingles")

    return session_silver(spark, f"banded_minhash|{sf_dir}", build)


def simhash_silver(spark, sf_dir: str):
    """(doc_id, simhash) over the shingle silver, persisted once per
    (session, corpus) — the fingerprint table simhash_near_dups,
    near_dup_groups and the simhash_docs bench workload share instead of
    re-deriving it (explode + 32-bit-majority groupBy) per invocation.
    Fingerprinting is per-doc: one stored table serves every consumer."""

    def build():
        from classic_fcd_spark.operators.dedup import simhash32_table

        sh = shingle_table(spark, sf_dir)
        return simhash32_table(sh, "doc_id", F.col("shingles"))

    return session_silver(spark, f"simhash_silver|{sf_dir}", build)


def simhash_grp_table(spark, sf_dir: str):
    """(simhash, rep, m) — the rep-election aggregate over the
    fingerprint silver (rep = min doc_id of the identical-fingerprint
    clique, m = clique size), persisted once per (session, corpus).
    simhash_near_dups needs it on both sides of the band self-join (the
    broadcast build side cannot reuse the probe side's exchange) and
    near_dup_groups once more; like the fingerprint table itself, the rep election is
    per-corpus state a production engine stores at ingest."""

    def build():
        sh = simhash_silver(spark, sf_dir)
        return sh.groupBy("simhash").agg(
            F.min("doc_id").alias("rep"), F.count("*").alias("m")
        )

    return session_silver(spark, f"simhash_grp|{sf_dir}", build)


def bm25_postings_table(spark, sf_dir: str):
    """The (doc_id, dl, term, tf, df) inverted-index silver over
    `documents`, hash-partitioned on doc_id and persisted once per
    (session, corpus) — the medallion pattern shingle_table applies to
    the dedup family, applied to the lexical family: bm25_search and
    hybrid_rrf_search's lexical arm share it instead of rebuilding the
    postings and the per-term df per invocation."""

    def build():
        from classic_fcd_spark.operators.bm25 import bm25_postings, with_df

        docs = load_tables(spark, sf_dir)["documents"]
        return with_df(bm25_postings(docs))

    return session_silver(spark, f"bm25_postings|{sf_dir}", build)


def bm25_corpus_stats(spark, sf_dir: str) -> tuple[int, float]:
    """(N, avgdl) over the postings silver — one cached scalar aggregate
    per corpus generation instead of one collect job per bm25_topk
    call; operators.bm25.corpus_stats computes it either way, so every
    emitted score literal is bit-identical."""

    def build():
        from classic_fcd_spark.operators.bm25 import corpus_stats

        return corpus_stats(bm25_postings_table(spark, sf_dir))

    return session_memo(spark, f"bm25_stats|{sf_dir}", build)


def normalize_event_time(df, col: str = "ts"):
    """Normalize an event-time column to plain ``TIMESTAMP`` regardless of
    the parquet physical encoding it arrived in.

    The upstream writer has used three encodings across data drops:
    TIMESTAMP(NANOS) (read as bigint under nanosAsLong), timestamp[us]
    without timezone (read as TIMESTAMP_NTZ), and timestamp[us] UTC (read
    as TIMESTAMP).  ``unix_micros()`` and ``withWatermark()`` are strict
    about TIMESTAMP, so everything downstream assumes this boundary has
    run.  This is the engine's analogue of the reference's account-shape
    normalization (src/service/bank/getBalance/normalizeAccount.ts:19-128):
    absorb input drift at the load boundary, keep the core typed.

    - bigint nanos → floor to µs (DuckDB's ns→µs cast does the same
      truncation for positive epochs) → timestamp_micros.
    - TIMESTAMP_NTZ → cast to TIMESTAMP; exact under the UTC session tz
      (the wall-clock fields are reinterpreted as UTC, which is what the
      writer meant).
    - TIMESTAMP → already canonical, no-op.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def normalize_timestamps(df):
    """Apply the NTZ→TIMESTAMP leg of normalize_event_time to EVERY
    column: the encoding drift has so far hit only events.ts, but nothing
    stops the next data drop from writing any other timestamp column
    naive — and the cast is a no-op for columns already canonical."""
    for name, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(name, F.col(name).cast("timestamp"))
    return normalize_event_time(df)


def load_tables(spark: SparkSession, sf_dir: str) -> dict:
    """Load the driver's parquet tables as DataFrames and register temp views.

    Columnar parquet scans + Catalyst pushdown replace the reference's
    B-tree/GIN index tuning (sql/customIndex.sql:1-15) — see SURVEY §4.
    Memoized per (session, dir): the inventory queries each call this, and
    re-deriving 10 lazy readers + temp views per query is pure overhead.
    Temp views are per session, hence the session-keyed registry.
    """

    def build():
        apply_read_conf(spark)
        dfs = {}
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                df = normalize_timestamps(spark.read.parquet(path))
                df.createOrReplaceTempView(name)
                dfs[name] = df
        return dfs

    return _lookup(spark, ("tables", sf_dir), build)
