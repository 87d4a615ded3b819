"""The benchmark's workloads.

Each workload has a set-up (inputs from the seed, plus whatever engine
state a user would have before the first operation) and a measured
region: a cold pass over its operations, then warm passes until they
have taken `--seconds` (and at least MIN_WARM_PASSES ran).  Outputs are
checked after the measured region, so checks never count toward a
timing.  A failed operation, and a pass that holds one, count as a
miss: they take the whole measured span.

- analytics_batch: a pass runs a fixed list of corpus queries and
  collects each result.
- api_serving: set-up ingests the block-bundle feed through the
  nine-sink streaming ingest; a pass is one client's seeded request
  sequence, one request per route family, against the ingested tables.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# warm passes a run makes at least, so a warm figure is never a single
# sample.  A traced run interleaves traced and untraced warm passes in
# the order T U U T, repeated, so that the warm passes' own speed-up
# (the JIT still compiling) cancels out of the traced/untraced ratio;
# it makes at least one such block.
MIN_WARM_PASSES = 2
TRACED_BLOCK = (True, False, False, True)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    cores: int
    tracer: object = None
    attempted: int = 0
    failures: list = field(default_factory=list)  # "what: why", one per finding
    failed_ops: set = field(default_factory=set)  # ids of the operations that failed
    detail: dict = field(default_factory=dict)

    def fail(self, ops, what: str, why: str) -> None:
        self.failed_ops.update(ops)
        self.failures.append(f"{what}: {why}"[:300])

    def span(self, name: str):
        return contextlib.nullcontext() if self.tracer is None else self.tracer.span(name)

    def set_traced(self, on: bool) -> None:
        if self.tracer is not None:
            self.tracer.enabled = on


def run_passes(run: Run, one_pass) -> tuple[float, list[float], list[bool]]:
    """Cold pass, then warm passes until they have taken `run.seconds`
    and at least MIN_WARM_PASSES ran.  In a traced run the warm passes
    follow TRACED_BLOCK (tracing overhead = the traced/untraced ratio);
    the cold pass is always traced so first-touch work shows."""
    run.set_traced(True)
    cold = one_pass(0)
    warm, traced = [], []
    # a traced run ends on a whole block
    block = 1 if run.tracer is None else len(TRACED_BLOCK)
    k = 0
    while len(warm) < MIN_WARM_PASSES or sum(warm) < run.seconds or len(warm) % block:
        k += 1
        on = run.tracer is not None and TRACED_BLOCK[(k - 1) % len(TRACED_BLOCK)]
        run.set_traced(on)
        warm.append(one_pass(k))
        traced.append(on)
    run.set_traced(False)
    return cold, warm, traced


def pass_times(run: Run, cold: float, warm: list[float]) -> tuple[float, list[float]]:
    """Cold and warm pass times, a pass holding a failed operation
    counted as a miss: the whole measured span."""
    miss = cold + sum(warm)
    failed = {op[0] for op in run.failed_ops}
    return (miss if 0 in failed else cold), [
        miss if k in failed else w for k, w in enumerate(warm, start=1)
    ]


def _pctl(values: list[float], q: float) -> float:
    """Nearest-rank percentile (no interpolation: a reported latency is
    one that was observed)."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(np.ceil(q * len(s))) - 1))]


def _rows_key(rows) -> list[str]:
    return sorted(repr(tuple(r)) for r in rows)


# ---------------------------------------------------------------------------
# analytics_batch
# ---------------------------------------------------------------------------
# query -> family.  One query per operator family: the relational SCD2
# join, the fingerprint/connected-components dedup row, the
# compute-bound vector row, and the lexical+ANN hybrid search.  Together
# they touch the shingle, simhash, embedding-stats and BM25-postings
# silvers.
ANALYTICS_QUERIES = {
    "scd2_order_history": "relational",
    "near_dup_groups": "dedup",
    "embedding_similar_pairs": "similarity",
    "hybrid_rrf_search": "text",
}
FAMILIES = tuple(dict.fromkeys(ANALYTICS_QUERIES.values()))


def _query_fns() -> dict:
    sys.path.insert(0, ROOT)
    import bench

    from classic_fcd_spark.queries import query_fn_map

    fns = dict(query_fn_map())
    fns.update(bench._extra_workloads())
    return {name: fns[name] for name in ANALYTICS_QUERIES}


def _oracles(corpus_dir: str) -> dict[str, str]:
    from classic_fcd_spark.queries import oracle_sql_map
    from classic_fcd_spark.queries.similarity import EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL

    omap = dict(oracle_sql_map(corpus_dir))
    omap["embedding_similar_pairs"] = EMBEDDING_SIMILAR_PAIRS_ORACLE_SQL
    return {name: omap[name] for name in ANALYTICS_QUERIES}


def corpus_signature(corpus_dir: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(corpus_dir)):
        with open(os.path.join(corpus_dir, name), "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    return h.hexdigest()[:16]


class AnalyticsBatch:
    name = "analytics_batch"
    INPUT = "corpus"

    def setup(self, run: Run) -> None:
        import corpus

        self.dir = os.path.join(run.work, self.INPUT)
        run.detail["corpus_rows"] = corpus.write_corpus(self.dir, run.seed)
        run.detail["corpus_signature"] = corpus_signature(self.dir)
        self.fns = _query_fns()

    def measure(self, run: Run) -> None:
        spark, fns = run.spark, self.fns
        self.results: dict[str, list] = {n: [] for n in fns}
        self.cold_rows: dict[str, tuple] = {}
        self.passes: list[dict] = []

        def one_pass(k: int) -> float:
            lat = {}
            t = time.perf_counter()
            with run.span(f"pass:{k}"):
                for name, fn in fns.items():
                    run.attempted += 1
                    q0 = time.perf_counter()
                    rows = None
                    with run.span(f"query:{name}"):
                        try:
                            with run.span(f"plan:{name}"):
                                df = fn(spark, self.dir)
                            with run.span(f"collect:{name}"):
                                rows = df.collect()
                            if k == 0:
                                self.cold_rows[name] = (rows, df.schema)
                        except Exception as exc:  # noqa: BLE001 - counted, named
                            run.fail([(k, name)], f"query {name} pass {k}", f"{type(exc).__name__}: {exc}")
                    lat[name] = time.perf_counter() - q0
                    # compared in check(), outside the timed pass
                    self.results[name].append(rows)
            self.passes.append(lat)
            return time.perf_counter() - t

        self.cold, self.warm, self.traced = run_passes(run, one_pass)

    def check(self, run: Run) -> None:
        """Every execution must equal the cold one, and the cold one must
        match the DuckDB oracle's signature (the hash comparator of the
        correctness harness, imported)."""
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        import check_correctness as cc

        cc.SF_DIR = self.dir
        con = cc.duck_connection()
        oracles = _oracles(self.dir)
        for name in self.fns:
            runs = [None if rows is None else _rows_key(rows) for rows in self.results[name]]
            for k, got in enumerate(runs[1:], start=1):
                if got is not None and runs[0] is not None and got != runs[0]:
                    run.fail([(k, name)], f"query {name} pass {k}", "result differs from the cold pass")

        def oracle_problems(name: str) -> list[str]:
            try:
                # the signature of the collected cold result, not a re-run
                sdf = run.spark.createDataFrame(*self.cold_rows[name])
                return cc.compare_hash_only(name, sdf, con.cursor(), oracles[name])[0]
            except Exception as exc:  # noqa: BLE001 - counted, named
                return [f"{type(exc).__name__}: {exc}"]

        # the oracles are independent DuckDB queries: run them side by side
        checked = [n for n in self.fns if n in self.cold_rows]
        with ThreadPoolExecutor(len(checked) or 1) as pool:
            found = dict(zip(checked, pool.map(oracle_problems, checked)))
        for name, problems in found.items():
            if problems:
                # an oracle mismatch fails every execution of the query
                runs = self.results[name]
                run.fail([(k, name) for k in range(len(runs))], f"query {name} oracle", problems[0])
        con.close()

    def warm_latencies(self, run: Run, traced: bool | None = None) -> list[float]:
        """Warm query latencies (of the warm passes whose tracing is
        `traced`, or all); a failed query counts as the whole measured
        span."""
        miss = self.cold + sum(self.warm)
        return [
            miss if (k, n) in run.failed_ops else s
            for k, (lat, tr) in enumerate(zip(self.passes[1:], self.traced), start=1)
            if traced is None or tr == traced
            for n, s in lat.items()
        ]

    def metrics(self, run: Run) -> dict:
        cold, warm = pass_times(run, self.cold, self.warm)
        untraced = [w for w, t in zip(warm, self.traced) if not t]
        warm_lat = self.warm_latencies(run, False)
        run.detail["samples"] = {"warm_passes": len(untraced), "warm_queries": len(warm_lat)}
        run.detail["pass_s"] = [round(p, 3) for p in (cold, *warm)]
        run.detail["query_s"] = {n: [round(p[n], 3) for p in self.passes] for n in self.fns}
        return {
            "batch_cold_s": (cold, "s"),
            "batch_warm_s": (statistics.median(untraced), "s"),
            "op_p50_ms": (statistics.median(warm_lat) * 1e3, "ms"),
        }


# ---------------------------------------------------------------------------
# api_serving
# ---------------------------------------------------------------------------
FEED_FILES = 1  # feed files = availableNow micro-batches the set-up ingest drains
# every fixture account has 12-36 txs, so two pages of 10 are never empty
HOT_WALK_PAGES = 2
PAGE = 10
# (family, route): one request per route family of the REST surface
# (dashboard, governance, staking, market, bank/richlist, tx-list pages,
# tx point reads, account-page point reads, and the hot-account keyset
# walk), with equal weights: there is no traffic log to weight them by.
# Every pass sends the same routes, so a pass costs the same whatever
# the seed; the seed picks the order and the parameters (tx hashes,
# accounts, proposal, denom).
REQUEST_MIX = (
    ("lookup_tx", "lookup_tx"),
    ("account_page", "account_page"),
    ("hot_walk", "walk"),  # pass k reads page k % HOT_WALK_PAGES of one account
    ("tx_list", "get_tx_list"),
    ("dashboard", "get_dashboard_general_info"),
    ("governance", "votes"),
    ("staking", "validators"),
    ("market", "swaprate"),
    ("bank", "richlist"),
)
ROUTE_FAMILIES = tuple(f for f, _r in REQUEST_MIX)
# routes whose wrappers read only fixture dims, never the ingested
# tables: their fixture-sourced twin is the very same call, so each
# response is checked against the same request's other passes instead
FIXTURE_ONLY_ROUTES = {"votes", "validators", "swaprate", "richlist"}


class ApiServing:
    name = "api_serving"
    INPUT = "feed"

    def setup(self, run: Run) -> None:
        import classic_fcd_spark.streaming.block_ingest as bi
        from classic_fcd_spark.sources import fixtures as fx

        spark = run.spark
        self.feed = os.path.join(run.work, self.INPUT)
        self.out = os.path.join(run.work, "ingest")
        self.extract = os.path.join(self.out, bi.EXTRACT)
        self.n_blocks = fx.FIXTURE_N_BLOCKS
        bi.build_block_bundle_feed(fx.gen_txs(spark), fx.gen_blocks(spark)).coalesce(
            FEED_FILES
        ).write.parquet(self.feed)
        gov = bi.GovDims(
            proposals=fx.gen_proposals(spark),
            votes=fx.gen_votes(spark),
            delegations=fx.gen_delegations(spark),
            validators=fx.gen_validators(spark),
            deposits=fx.gen_deposits(spark),
        )
        batch_s: list[float] = []
        last = [time.perf_counter()]

        def tick(_batch_id):
            now = time.perf_counter()
            batch_s.append(now - last[0])
            last[0] = now

        t = time.perf_counter()
        last[0] = t
        with run.span("ingest"):
            bi.run_block_ingest_available_now(
                spark, self.feed, os.path.join(run.work, "ckpt"), self.out,
                on_batch=tick, proposals_dim=gov,
            )
        self.ingest_s = time.perf_counter() - t
        self.batch_s = batch_s
        run.attempted += len(batch_s)
        self.txs = bi.read_bronze(spark, self.out)
        self.account_tx = bi.read_account_tx(spark, self.out)
        self.blocks = bi.read_rewards_bronze(spark, self.out)
        self.requests = self._request_list(run.seed)
        run.detail["feed_blocks"] = self.n_blocks
        run.detail["request_signature"] = hashlib.sha256(
            repr(self.requests).encode()
        ).hexdigest()[:16]

    # -- the seeded request sequence ---------------------------------------
    def _request_list(self, seed: int) -> list[tuple]:
        """(family, (route, param)) pairs in seeded order.  A key fixes
        the parameters, so a key always has the same correct answer; the
        walk's key gets its page at call time."""
        from classic_fcd_spark.sources.fixtures import DENOMS

        rng = np.random.default_rng(seed)
        reqs = []
        for fam, route in REQUEST_MIX:
            if route == "lookup_tx":
                h = int(rng.integers(1, self.n_blocks // 3)) * 3 + 2  # h % 3 == 2: two txs
                param = h * 3 + int(rng.integers(0, 2))
            elif route in ("account_page", "walk", "get_tx_list"):
                param = int(rng.integers(0, 50))
            elif route == "votes":
                param = int(rng.integers(0, 3))  # the fixture's votes are on proposals 0-2
            elif route == "swaprate":
                param = DENOMS[int(rng.integers(1, len(DENOMS)))]
            elif route == "richlist":
                param = "uluna"
            else:
                param = None
            reqs.append((fam, (route, param)))
        return [reqs[i] for i in rng.permutation(len(reqs))]

    def _call(self, key: tuple, spark, txs, account_tx, extract, cursors):
        """Serve one request against `txs`/`account_tx` and the point-read
        `extract` (the caller scopes the endpoint family's sources)."""
        import classic_fcd_spark.serving.detail as D
        import classic_fcd_spark.serving.endpoints as E
        from classic_fcd_spark.serving.api import get_tx_list
        from classic_fcd_spark.serving.extract import lookup_account_page, lookup_tx
        from classic_fcd_spark.sources.fixtures import addr_str, tx_hash_str

        route, param = key
        if route == "lookup_tx":
            rows = lookup_tx(spark, extract, tx_hash_str(param)).select("hash", "height").collect()
            return sorted((r["hash"], r["height"]) for r in rows)
        if route == "account_page":
            rows = lookup_account_page(spark, extract, addr_str(param), limit=PAGE)
            return [(r["hash"], r["height"]) for r in rows[:PAGE]]
        if route == "walk":
            acct, depth = param
            cursor = cursors.get(acct) if depth else None
            if depth and cursor is None:
                return []  # the walk already reached the account's last page
            rows = lookup_account_page(spark, extract, addr_str(acct), limit=PAGE, offset=cursor)
            page = [(r["hash"], r["height"]) for r in rows[:PAGE]]
            cursors[acct] = (page[-1][1], page[-1][0]) if len(rows) > PAGE else None
            return page
        if route == "get_tx_list":
            return get_tx_list(txs, account_tx, addr_str(param), limit=PAGE)
        if route == "votes":
            return E.get_proposal_votes(spark, param)
        if route == "validators":
            return E.get_validators_listing(spark)
        if route == "swaprate":
            return E.get_denom_swap_rate(spark, param)
        if route == "richlist":
            return D.get_rich_list(spark, param)
        return getattr(E, route)(spark)

    def measure(self, run: Run) -> None:
        import classic_fcd_spark.serving.endpoints as E

        spark = run.spark
        self.passes: list[list[tuple]] = []  # per pass: (family, key, seconds, response|None)
        cursors: dict = {}  # the hot-account walk carries its cursor across passes

        def one_pass(k: int) -> float:
            got = []
            t = time.perf_counter()
            with run.span(f"pass:{k}"), E.bronze_sources(
                txs=self.txs, blocks=self.blocks, account_tx=self.account_tx
            ):
                for fam, (route, param) in self.requests:
                    key = (route, (param, k % HOT_WALK_PAGES) if route == "walk" else param)
                    run.attempted += 1
                    r0 = time.perf_counter()
                    resp = None
                    with run.span(f"request:{fam}"):
                        try:
                            resp = self._call(
                                key, spark, self.txs, self.account_tx, self.extract, cursors
                            )
                        except Exception as exc:  # noqa: BLE001 - counted, named
                            run.fail([(k, len(got))], f"request {key} pass {k}", f"{type(exc).__name__}: {exc}")
                    got.append((fam, key, time.perf_counter() - r0, resp))
            self.passes.append(got)
            return time.perf_counter() - t

        self.cold, self.warm, self.traced = run_passes(run, one_pass)

    def _twins(self, spark) -> dict:
        """Fixture-sourced answers for every distinct request that reads
        the ingested tables: point reads from the fixture tables collected
        once, the rest by the same wrapper outside the bronze_sources
        scope (fixture bronze)."""
        from classic_fcd_spark.pipeline.medallion import account_tx_silver
        from classic_fcd_spark.sources.fixtures import addr_str, gen_txs, tx_hash_str

        txs_f = gen_txs(spark)
        at_f = account_tx_silver(txs_f)
        by_hash: dict[str, list] = {}
        for r in txs_f.select("hash", "height").collect():
            by_hash.setdefault(r["hash"], []).append((r["hash"], r["height"]))
        by_acct: dict[str, list] = {}
        for r in at_f.select("account", "hash", "height").collect():
            by_acct.setdefault(r["account"], []).append((r["hash"], r["height"]))

        def pages(acct: int) -> list:
            # an account's txs in page order: height, then hash, descending
            return sorted(by_acct.get(addr_str(acct), []), key=lambda x: (x[1], x[0]), reverse=True)

        twins: dict = {}
        for got in self.passes:
            for _fam, key, _s, _r in got:
                route, param = key
                if key in twins or route in FIXTURE_ONLY_ROUTES:
                    continue
                if route == "lookup_tx":
                    twins[key] = sorted(by_hash.get(tx_hash_str(param), []))
                elif route == "account_page":
                    twins[key] = pages(param)[:PAGE]
                elif route == "walk":
                    acct, depth = param
                    twins[key] = pages(acct)[depth * PAGE:(depth + 1) * PAGE]
                else:
                    twins[key] = self._call(key, spark, txs_f, at_f, None, {})
        return twins

    def check(self, run: Run) -> None:
        import classic_fcd_spark.streaming.block_ingest as bi
        from classic_fcd_spark.serving.extract import lookup_tx
        from classic_fcd_spark.sources.fixtures import gen_txs, tx_hash_str

        spark = run.spark
        # the ingest's write set (sustained_stream_bench's asserts)
        last_h = self.n_blocks - 1
        checks = {
            "bronze rows == feed txs": self.txs.count() == gen_txs(spark).count(),
            "last block tx found by lookup": lookup_tx(
                spark, self.extract, tx_hash_str(last_h * 3)
            ).count() == 1,
            "4 proposal rows": bi.read_proposals(spark, self.out).count() == 4,
            "reward rollup non-empty": bi.read_reward_rollup(spark, self.out).count() > 0,
        }
        for what, ok in checks.items():
            if not ok:
                # a wrong write set fails every micro-batch that wrote it
                batches = [("batch", b) for b in range(len(self.batch_s))]
                run.fail(batches, f"ingest {what}", "write-set check failed")
        twins = self._twins(spark)
        for got in self.passes:
            for _fam, key, _s, resp in got:
                if resp is not None:
                    twins.setdefault(key, resp)
        for k, got in enumerate(self.passes):
            for i, (_fam, key, _s, resp) in enumerate(got):
                if resp is not None and resp != twins[key]:
                    run.fail([(k, i)], f"request {key} pass {k}", "response differs from its fixture twin")

    def ingest_layer(self) -> dict[str, float]:
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(self.out) for f in fs
        )
        return {
            "ingest.blocks_per_s": self.n_blocks / self.ingest_s,
            "ingest.batch_p50_s": statistics.median(self.batch_s),
            "ingest.store_bytes_per_block": size / self.n_blocks,
        }

    def warm_latencies(self, run: Run, traced: bool | None = None) -> list[float]:
        """Warm request latencies (of the warm passes whose tracing is
        `traced`, or all); a failed request counts as the whole measured
        span (it missed any latency limit)."""
        miss = self.cold + sum(self.warm)
        return [
            miss if (k, i) in run.failed_ops else s
            for k, (got, tr) in enumerate(zip(self.passes[1:], self.traced), start=1)
            if traced is None or tr == traced
            for i, (_f, _k, s, _r) in enumerate(got)
        ]

    def metrics(self, run: Run) -> dict:
        cold, warm = pass_times(run, self.cold, self.warm)
        untraced = [w for w, t in zip(warm, self.traced) if not t]
        lat = self.warm_latencies(run, False)
        run.detail["samples"] = {"warm_passes": len(untraced), "warm_requests": len(lat)}
        run.detail["pass_s"] = [round(p, 3) for p in (cold, *warm)]
        run.detail["request_ms"] = {
            fam: [round(s * 1e3, 1) for got in self.passes for f, _k, s, _r in got if f == fam]
            for fam in ROUTE_FAMILIES
        }
        return {
            "batch_cold_s": (cold, "s"),
            "batch_warm_s": (statistics.median(untraced), "s"),
            "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
        }


WORKLOADS = {w.name: w for w in (AnalyticsBatch, ApiServing)}
