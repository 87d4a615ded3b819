"""Per-layer metrics of a traced run, computed from its spans.

`install` wraps the library calls each layer is entered through;
`per_layer` turns the spans (plus Spark's status store) into the named
metrics listed in BENCHMARK.json.  Every traced run reports every
metric: a layer a workload never enters reports 0, which is itself the
prediction (e.g. no sink time on analytics_batch).
"""

from __future__ import annotations

import os
import statistics

from spans import stage_metrics, wait_for_listener
from workloads import ANALYTICS_QUERIES, FAMILIES, ROUTE_FAMILIES, _pctl

SILVERS = (
    "shingle_table",
    "shingle_stats",
    "banded_minhash_table",
    "simhash_silver",
    "simhash_grp_table",
    "bm25_postings_table",
    "bm25_corpus_stats",
    "embedding_stats",
    "embedding_codebook",
    "session_memo",
)
SINKS = (
    "merge_tx_lookup_extract",
    "merge_account_page_extract",
    "account_tx_silver",
    "merge_upsert",
    "refresh_proposal_payload",
)
# `account_tx_silver` and `refresh_proposal_payload` only build lazy
# DataFrames; their work runs in the write that consumes them.  So a
# sink's time is its own call plus that write: the account_tx append for
# the silver, the proposals merge_upsert for the proposal refresh.
CONSUMER = {
    "append:account_tx": "account_tx_silver",
    "merge_upsert:proposals": "refresh_proposal_payload",
}
SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "task_busy_frac",
)


def metric_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    u: dict[str, str] = {
        "session.load_tables_s": "s",
        "session.silver_builds": "count",
        "session.silver_hits": "count",
        "session.silver_build_s": "s",
        "sources.fixture_gen_calls": "count",
        "sources.fixture_gen_s": "s",
        "sources.bronze_cache_hits": "count",
        "queries.plan_s": "s",
        "queries.eager_jobs": "count",
        "queries.collect_s": "s",
    }
    for q in ANALYTICS_QUERIES:
        u[f"q.{q}.warm_s"] = "s"
        u[f"q.{q}.jobs"] = "count"
    for prefix in ("spark",) + tuple(f"spark.{f}" for f in FAMILIES):
        for f in SPARK_FIELDS:
            u[f"{prefix}.{f}"] = (
                "count" if f in ("jobs", "stages", "tasks")
                else "MB" if f.endswith("_mb")
                else "ratio" if f == "task_busy_frac"
                else "s"
            )
    for s in SINKS:
        u[f"sink.{s}_s"] = "s"
    u["sink.other_s"] = "s"
    u["streaming.jobs_per_batch"] = "count"
    u["ingest.blocks_per_s"] = "1/s"
    u["ingest.batch_p50_s"] = "s"
    u["ingest.store_bytes_per_block"] = "B"
    u["serving.lookup_tx_ms"] = "ms"
    u["serving.account_page_ms"] = "ms"
    u["serving.open_extract_s"] = "s"
    u["serving.extract_files"] = "count"
    for fam in ROUTE_FAMILIES:
        u[f"route.{fam}.p50_ms"] = "ms"
    u["serve.p50_ms"] = "ms"
    u["serve.p95_ms"] = "ms"
    u["serve.requests"] = "count"
    u["trace.overhead_ratio"] = "ratio"
    return u


def install(tracer) -> None:
    """Wrap the layer boundaries this benchmark traces."""
    import classic_fcd_spark.serving.extract as extract
    import classic_fcd_spark.session as session
    import classic_fcd_spark.sources.fixtures as fixtures
    import classic_fcd_spark.streaming.block_ingest as bi

    def silver_entries():
        return (
            len(session._SHINGLE_CACHE)
            + len(session._SHINGLE_STATS)
            + len(session._SESSION_MEMO)
        )

    tracer.wrap(session, "load_tables", "session.load_tables")
    for name in SILVERS:
        tracer.wrap(session, name, f"silver:{name}", on_call=silver_entries)
    for name in sorted(dir(fixtures)):
        if name.startswith("gen_") and callable(getattr(fixtures, name)):
            tracer.wrap(
                fixtures, name, f"sources:{name}", on_call=lambda: len(fixtures._BRONZE_CACHE)
            )
    tracer.wrap(bi, "ingest_block_batch", "ingest.batch")
    for name in SINKS:
        if name != "merge_upsert":  # wrapped below, named by its table
            tracer.wrap(bi, name, f"sink:{name}")
    # the writes, named by the table they write (the last path component)
    tracer.wrap(bi, "_append_batch",
                lambda a, kw: f"append:{os.path.basename(kw.get('table_dir', a[1]))}")
    tracer.wrap(bi, "merge_upsert",
                lambda a, kw: f"merge_upsert:{os.path.basename(kw.get('out_dir', a[2]))}")
    tracer.wrap(extract, "open_extract", "serving.open_extract")


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _jobs(s: dict) -> int:
    return s["job_hi"] - s["job_lo"]


def _grew(s: dict) -> bool:
    before, after = s.get("probe") or (0, 0)
    return after > before


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(run, wl) -> dict[str, float]:
    tr, spark = run.tracer, run.spark
    wait_for_listener(spark)
    spans = tr.spans
    out = dict.fromkeys(metric_units(), 0.0)

    def pass_of(i: int):
        while i is not None:
            if spans[i]["name"].startswith("pass:"):
                return int(spans[i]["name"][5:])
            i = spans[i]["parent"]
        return None

    traced_warm = {k for k, t in enumerate(wl.traced, start=1) if t}
    n_tw = max(1, len(traced_warm))
    closed = [(i, s) for i, s in enumerate(spans) if s["end"] is not None]
    in_tw = [(i, s) for i, s in closed if pass_of(i) in traced_warm]

    # session: silver builds vs hits at the outermost silver call
    top_silver = [
        s for _i, s in closed
        if s["name"].startswith("silver:")
        and not (s["parent"] is not None and spans[s["parent"]]["name"].startswith("silver:"))
    ]
    out["session.load_tables_s"] = float(sum(_dur(s) for _i, s in closed if s["name"] == "session.load_tables"))
    out["session.silver_builds"] = float(sum(1 for s in top_silver if _grew(s)))
    out["session.silver_hits"] = float(sum(1 for s in top_silver if not _grew(s)))
    out["session.silver_build_s"] = float(sum(_dur(s) for s in top_silver if _grew(s)))

    # sources: fixture generators vs bronze-cache hits
    top_gen = [
        s for _i, s in closed
        if s["name"].startswith("sources:")
        and not (s["parent"] is not None and spans[s["parent"]]["name"].startswith("sources:"))
    ]
    out["sources.fixture_gen_calls"] = float(sum(1 for s in top_gen if _grew(s)))
    out["sources.fixture_gen_s"] = float(sum(_dur(s) for s in top_gen if _grew(s)))
    out["sources.bronze_cache_hits"] = float(sum(1 for s in top_gen if not _grew(s)))

    # queries (per traced warm pass)
    plans = [s for _i, s in in_tw if s["name"].startswith("plan:")]
    out["queries.plan_s"] = sum(_dur(s) for s in plans) / n_tw
    out["queries.eager_jobs"] = sum(_jobs(s) for s in plans) / n_tw
    out["queries.collect_s"] = sum(_dur(s) for _i, s in in_tw if s["name"].startswith("collect:")) / n_tw
    qspans = [s for _i, s in in_tw if s["name"].startswith("query:")]
    for q in ANALYTICS_QUERIES:
        mine = [s for s in qspans if s["name"] == f"query:{q}"]
        out[f"q.{q}.warm_s"] = _mean(_dur(s) for s in mine)
        out[f"q.{q}.jobs"] = _mean(_jobs(s) for s in mine)

    # spark, per traced warm pass, and per query family
    def spark_block(prefix: str, ranges, wall: float) -> None:
        m = stage_metrics(spark, ranges)
        for f in SPARK_FIELDS[:-1]:
            out[f"{prefix}.{f}"] = m[f] / n_tw
        out[f"{prefix}.task_busy_frac"] = m["executor_run_s"] / max(1e-9, wall * run.cores)

    pass_spans = [s for _i, s in in_tw if s["name"].startswith("pass:")]
    spark_block(
        "spark",
        [(s["job_lo"], s["job_hi"]) for s in pass_spans],
        sum(_dur(s) for s in pass_spans),
    )
    for fam in FAMILIES:
        mine = [s for s in qspans if ANALYTICS_QUERIES.get(s["name"][6:]) == fam]
        if mine:
            spark_block(
                f"spark.{fam}",
                [(s["job_lo"], s["job_hi"]) for s in mine],
                sum(_dur(s) for s in mine),
            )

    # sink: time per ingest micro-batch in each sink (the calls made
    # directly in the batch body), plus the rest of the batch
    batches = [(i, s) for i, s in closed if s["name"] == "ingest.batch"]
    if batches:
        ids = {i for i, _s in batches}
        sink_s = dict.fromkeys(SINKS, 0.0)
        for _i, s in closed:
            if s["parent"] not in ids:
                continue
            name = s["name"]
            sink = CONSUMER.get(name) or (
                "merge_upsert" if name.startswith("merge_upsert:")
                else name[5:] if name.startswith("sink:") else None
            )
            if sink is not None:
                sink_s[sink] += _dur(s)
        for name in SINKS:
            out[f"sink.{name}_s"] = sink_s[name] / len(batches)
        out["sink.other_s"] = _mean(_dur(s) for _i, s in batches) - sum(sink_s.values()) / len(batches)
        out["streaming.jobs_per_batch"] = _mean(_jobs(s) for _i, s in batches)
    if hasattr(wl, "ingest_layer"):
        out.update(wl.ingest_layer())

    # serving
    if hasattr(wl, "requests"):
        tw_lat: dict[str, list] = {}
        for k in traced_warm:
            for fam, _key, s, _r in wl.passes[k]:
                tw_lat.setdefault(fam, []).append(s * 1e3)
        for fam in ROUTE_FAMILIES:
            if tw_lat.get(fam):
                out[f"route.{fam}.p50_ms"] = statistics.median(tw_lat[fam])
        out["serving.lookup_tx_ms"] = out["route.lookup_tx.p50_ms"]
        out["serving.account_page_ms"] = out["route.account_page.p50_ms"]
        out["serving.open_extract_s"] = float(sum(
            _dur(s) for _i, s in closed if s["name"] == "serving.open_extract"
        ))
        out["serving.extract_files"] = float(
            sum(len(fs) for _r, _d, fs in os.walk(wl.extract))
        )
        lat = [x * 1e3 for x in wl.warm_latencies(run)]
        out["serve.p50_ms"] = statistics.median(lat)
        out["serve.p95_ms"] = _pctl(lat, 0.95)
        out["serve.requests"] = float(len(lat))

    traced = [w for w, t in zip(wl.warm, wl.traced) if t]
    untraced = [w for w, t in zip(wl.warm, wl.traced) if not t]
    if traced and untraced:
        out["trace.overhead_ratio"] = statistics.median(traced) / statistics.median(untraced)
    return out
