"""Incremental trigram-LM maintenance: keep the language-model count
tables current as documents arrive, at per-batch cost — the LM twin of
the streaming postings index (streaming/postings.py): without it a new
corpus refits from scratch (the x100 cold fit cost 20.8 s) even though
trigram/unigram counts are additive.

Design: the model state IS three integer count tables (uni/pair/tri —
operators/lm.TrigramProbModel), and counting is a homomorphism over
corpus union: counts(A ∪ B) = counts(A) + counts(B) keywise.  So each
micro-batch writes ITS OWN count tables into a `batch_pt=<batch_id>`
partition (exactly-once: a replayed batch overwrites its own partition,
the same idempotent-foreachBatch recipe as the postings/dedup twins),
and the load path sums across partitions — one small groupBy per table,
bounded by the hashed-vocabulary sizes (<= buckets, buckets^2, the
4M-trigram broadcast budget), never by the corpus.

Equivalence: the per-batch counting pipeline is the SAME ngram_buckets
explode + integer aggregation the batch fit runs, and integer sums are
associative, so the incrementally-maintained model is BIT-IDENTICAL to
a from-scratch fit over the accumulated corpus (asserted exactly in
tests/test_lm_maintenance.py, both at the table level and at the
e9-integer score level).

Scale: per-batch cost ∝ batch tokens (tokenize + three aggregations
over the batch only); the accumulated model never re-reads old
documents.  Delta-partition count grows with batches;
`compact_lm_deltas` periodically folds all deltas into ONE epoch
partition (model-sized work — a sum over the bounded hashed
vocabulary; crash-safe via an atomic epoch-manifest commit —
uncommitted epoch dirs are invisible to loaders) so the load-side sum
and the file count stay bounded; new batches keep landing beside the
epoch and the next compaction folds them in.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from classic_fcd_spark.operators.dsir import ngram_buckets
from classic_fcd_spark.operators.lm import (
    TrigramProbModel,
    _pair_structs,
    _triple_structs,
)
from classic_fcd_spark.streaming.drain import drain, file_stream

TABLES = ("uni", "pair", "tri")
_EPOCH_MANIFEST = "_epoch.json"


def _epoch_state(model_dir: str) -> tuple[list[str], str | None]:
    """(covered batch ids, committed epoch name) from the compaction
    manifest; ([], None) before the first compaction."""
    p = os.path.join(model_dir, _EPOCH_MANIFEST)
    if not os.path.exists(p):
        return [], None
    with open(p) as f:
        m = json.load(f)
    return m["covered"], m["epoch"]


def _live_partitions(df: DataFrame, covered: list[str], epoch: str | None) -> DataFrame:
    """The authoritative delta set: the committed epoch (if any) plus
    every batch partition not folded into it.  An UNCOMMITTED epoch dir
    (a compaction that crashed before its manifest rename) is excluded
    by the epoch- prefix rule, so a crashed compaction is invisible and
    its overwrite-retry is idempotent."""
    c = F.col("batch_pt")
    keep = ~c.isin(covered) if covered else F.lit(True)
    not_epoch = ~c.startswith("epoch-")
    if epoch is not None:
        keep = keep & (not_epoch | (c == epoch))
    else:
        keep = keep & not_epoch
    return df.filter(keep)


def _run_token(checkpoint_dir: str) -> str:
    """A token identifying THIS checkpoint instance, stored inside the
    checkpoint dir itself so its lifetime matches the stream's batch-id
    sequence.  Delta partitions are namespaced by it: if the checkpoint
    is deleted (or a different checkpoint reuses model_dir), batch ids
    restart at 0 but under a FRESH token, so the new batch 0 can never
    collide with a compacted partition from the old run and be silently
    dropped by the covered list."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    p = os.path.join(checkpoint_dir, "_lm_run.json")
    if os.path.exists(p):
        with open(p) as f:
            return json.load(f)["run"]
    run = uuid.uuid4().hex[:8]
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"run": run}, f)
    os.rename(tmp, p)
    return run


def write_lm_delta_batch(
    batch_docs: DataFrame,
    batch_id: int,
    model_dir: str,
    text_col: str = "text",
    buckets: int = 256,
    run: str | None = None,
) -> None:
    """Count THIS batch's uni/pair/tri n-grams (same pipeline as
    fit_trigram_prob_model, restricted to the batch) and write each
    table into its `batch_pt=[<run>-]<batch_id>` partition — overwrite,
    so micro-batch replay after failure is idempotent.

    If the partition is already in the compaction manifest's covered
    set, the write is a NO-OP: within a run (checkpoint instance) that
    can only be a crash-replay of a batch whose counts were already
    folded into the epoch — rewriting it would resurrect the partition
    as live and double-count the batch.  Cross-run id collisions are
    prevented by the run namespace (see _run_token)."""
    pt = f"{run}-{batch_id}" if run else str(batch_id)
    covered, _ = _epoch_state(model_dir)
    if pt in covered:
        return
    toks = batch_docs.select(
        ngram_buckets(text_col, 1, buckets).alias("bs")
    ).cache()
    try:
        uni = toks.select(F.explode("bs").alias("w")).groupBy("w").agg(
            F.count("*").alias("ucnt")
        )
        pair = (
            toks.select(_pair_structs(F.col("bs")).alias("p"))
            .select(F.col("p.c").alias("c"), F.col("p.w").alias("w"))
            .groupBy("c", "w")
            .agg(F.count("*").alias("pcnt"))
        )
        tri = (
            toks.filter(F.size("bs") >= 3)
            .select(_triple_structs(F.col("bs")).alias("t"))
            .select("t.c1", "t.c2", F.col("t.w").alias("w"))
            .groupBy("c1", "c2", "w")
            .agg(F.count("*").alias("tcnt"))
        )
        for name, df in (("uni", uni), ("pair", pair), ("tri", tri)):
            df.write.mode("overwrite").parquet(
                f"{model_dir}/{name}_delta/batch_pt={pt}"
            )
    finally:
        toks.unpersist()


def _live_batch_count(model_dir: str) -> int:
    """How many UNFOLDED batch partitions exist right now (the epoch
    partition doesn't count) — the auto-compaction trigger."""
    covered, epoch = _epoch_state(model_dir)
    uni_dir = os.path.join(model_dir, "uni_delta")
    if not os.path.isdir(uni_dir):
        return 0
    vals = [
        d.split("=", 1)[1]
        for d in os.listdir(uni_dir)
        if d.startswith("batch_pt=")
    ]
    return sum(
        1 for v in vals if v not in covered and not v.startswith("epoch-")
    )


def run_lm_maintenance_available_now(
    spark: Any,
    docs_dir: str,
    model_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    buckets: int = 256,
    on_batch=None,
    compact_every: int | None = None,
) -> None:
    """Drain all available document files (one per micro-batch),
    maintaining the delta-partitioned count tables under one
    checkpoint (S2 catch-up semantics: a restart counts only files not
    yet merged).

    compact_every=N folds the deltas into an epoch partition whenever
    the live (unfolded) batch-partition count reaches N, INSIDE the
    maintenance loop — so delta partitions and load-side fan-in stay
    bounded by N without an external compaction scheduler.  Crash
    anywhere in the write→compact→checkpoint-commit sequence converges:
    a replayed batch whose partition was already folded is a no-op (see
    write_lm_delta_batch), an unfolded one overwrites idempotently."""
    run = _run_token(checkpoint_dir)

    def sink(bdf: DataFrame, batch_id: int) -> None:
        write_lm_delta_batch(
            bdf, batch_id, model_dir, text_col, buckets, run=run
        )
        if compact_every and _live_batch_count(model_dir) >= compact_every:
            compact_lm_deltas(spark, model_dir)
        if on_batch is not None:
            on_batch(batch_id)

    drain(file_stream(spark, docs_dir), sink, checkpoint_dir)


def load_trigram_model_incremental(
    spark: SparkSession,
    model_dir: str,
    buckets: int = 256,
    lams: tuple[float, float, float] = (0.2, 0.3, 0.5),
) -> TrigramProbModel:
    """Sum the per-batch deltas into the live model — integer sums over
    the bounded hashed-vocabulary keys, so this is model-sized work,
    independent of how many documents the deltas represent.  The derived
    tables (pctx/tctx) and the `ut` constant use the same integer
    aggregations as operators/lm.fit_trigram_prob_model, so a maintained
    model scores bit-identically to a from-scratch fit of the same corpus."""
    covered, epoch = _epoch_state(model_dir)

    def table(name: str, keys: list[str], cnt: str) -> DataFrame:
        df = _live_partitions(
            spark.read.parquet(f"{model_dir}/{name}_delta"), covered, epoch
        )
        return df.groupBy(*keys).agg(F.sum(cnt).alias(cnt))

    uni = table("uni", ["w"], "ucnt")
    pair = table("pair", ["c", "w"], "pcnt")
    tri = table("tri", ["c1", "c2", "w"], "tcnt")
    utot = uni.agg(F.sum("ucnt")).first()[0] or 0
    ut = float(utot) + float(buckets)
    pctx = pair.groupBy("c").agg(F.sum("pcnt").alias("pctx"))
    tctx = tri.groupBy("c1", "c2").agg(F.sum("tcnt").alias("tctx"))
    return TrigramProbModel(uni, pair, pctx, tri, tctx, ut, buckets, lams)


def compact_lm_deltas(spark: SparkSession, model_dir: str) -> str | None:
    """Fold every live delta partition (the committed epoch + all
    batches since) into ONE new epoch partition per table — model-sized
    work over the bounded hashed vocabulary, independent of corpus size.

    Crash safety without a lock: the new epoch is written FIRST (an
    uncommitted epoch- partition is invisible to loaders and to the
    next compaction, so a crashed attempt is simply overwritten), then
    the manifest rename is the atomic commit point (loaders switch to
    the new epoch and exclude the folded batches in the same read),
    then the folded directories are removed lazily — a crash
    mid-cleanup leaves excluded-but-present dirs that the next
    compaction's cleanup sweeps.  Returns the committed epoch name
    (None = nothing to fold)."""
    covered, epoch = _epoch_state(model_dir)
    uni_dir = os.path.join(model_dir, "uni_delta")
    if not os.path.isdir(uni_dir):
        return epoch
    vals = [
        d.split("=", 1)[1]
        for d in os.listdir(uni_dir)
        if d.startswith("batch_pt=")
    ]
    live = [
        v
        for v in vals
        if v not in covered and (not v.startswith("epoch-") or v == epoch)
    ]
    if len(live) <= 1:
        return epoch  # nothing to fold
    gen = int(epoch.split("-", 1)[1]) + 1 if epoch else 0
    new_epoch = f"epoch-{gen}"

    # 1) write the folded tables as the (still-uncommitted) new epoch:
    # stage OUTSIDE the table dir (never write into a path being read),
    # then one dir rename into place per table.  Each read is pinned to
    # the `live` SNAPSHOT taken above (batch_pt.isin), never the
    # exclusion filter — a delta batch landing between the listdir and
    # a table read would otherwise be folded into the epoch yet omitted
    # from new_covered (double-counted), and the three tables could
    # fold inconsistent batch sets.  The folded set always equals the
    # set recorded in the manifest.
    stage = os.path.join(model_dir, f"_staging_{new_epoch}")
    shutil.rmtree(stage, ignore_errors=True)
    for name, keys, cnt in (
        ("uni", ["w"], "ucnt"),
        ("pair", ["c", "w"], "pcnt"),
        ("tri", ["c1", "c2", "w"], "tcnt"),
    ):
        df = spark.read.parquet(f"{model_dir}/{name}_delta").filter(
            F.col("batch_pt").isin(live)
        )
        (
            df.groupBy(*keys)
            .agg(F.sum(cnt).alias(cnt))
            .write.mode("overwrite")
            .parquet(os.path.join(stage, name))
        )
    for name in TABLES:
        dst = os.path.join(model_dir, f"{name}_delta", f"batch_pt={new_epoch}")
        shutil.rmtree(dst, ignore_errors=True)  # crashed prior attempt
        os.rename(os.path.join(stage, name), dst)
    shutil.rmtree(stage, ignore_errors=True)

    # 2) COMMIT: atomic manifest rename
    new_covered = sorted(set(covered) | set(live))
    man = os.path.join(model_dir, _EPOCH_MANIFEST)
    tmp = man + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"epoch": new_epoch, "covered": new_covered}, f)
    os.rename(tmp, man)

    # 3) lazy cleanup of folded (now-excluded) partitions
    for name in TABLES:
        for v in new_covered:
            shutil.rmtree(
                os.path.join(model_dir, f"{name}_delta", f"batch_pt={v}"),
                ignore_errors=True,
            )
    return new_epoch
