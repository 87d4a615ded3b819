"""Seeded synthetic corpus for the `analytics_batch` workload.

Writes the ten parquet tables the query registry reads (TPC-H-style star
schema, an `events` stream, `documents` text and `embeddings` vectors)
with the same column names and parquet types as the corpora the
correctness gate uses, so every query and its DuckDB oracle run
unchanged.  Everything is a function of the seed, so two runs with one
seed read byte-identical inputs.  Row counts are fixed: a seed changes
values, never the amount of work.

The text and vector tables keep the properties the dedup and similarity
families depend on: a small vocabulary with planted exact and near
duplicate documents, and unit vectors with planted near neighbours.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Rows per table.  Small on purpose: at this size the queries' cost is
# mostly per-job overhead plus the one quadratic vector row, and a run
# (cold pass, warm passes, DuckDB oracles) fits the benchmark's time
# budget.
ROWS = {
    "customer": 750,
    "supplier": 50,
    "part": 1000,
    "orders": 7500,
    "events": 5000,
    "documents": 300,
    "embeddings": 240,
}
EMB_DIM = 64

_US = 1_000_000
_ORDER_LO = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
_EVENT_LO = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_EVENT_SPAN_S = 30 * 86400


def _ts(seconds: np.ndarray) -> pa.Array:
    return pa.array(seconds.astype("int64") * _US, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.01:
            # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.08:
            # near duplicate: an earlier document with a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 61))
            texts.append(" ".join(rng.choice(vocab, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    m = rng.standard_normal((n, EMB_DIM))
    # ~3% planted near neighbours of an earlier vector
    for i in range(10, n):
        if rng.random() < 0.03:
            j = int(rng.integers(0, i))
            m[i] = m[j] + 0.6 * rng.standard_normal(EMB_DIM)
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(m), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc).tolist(), pa.string()),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), pa.float64()),
        }
    )
    npart = n["part"]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, npart), rng.integers(0, 8, npart)
                    )
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, npart)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, npart).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2), pa.float64()
            ),
        }
    )
    no = n["orders"]
    odays = rng.integers(0, _ORDER_DAYS, no)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no).tolist(), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), pa.float64()),
            "o_orderdate": _ts(_ORDER_LO + odays * 86400),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no).tolist(), pa.string()),
        }
    )
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    ship = np.repeat(odays, lines) + rng.integers(1, 122, nl)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), pa.float64()),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl).tolist(), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl).tolist(), pa.string()),
            "l_shipdate": _ts(_ORDER_LO + ship * 86400),
        }
    )
    ne = n["events"]
    ev_us = np.sort(rng.integers(0, _EVENT_SPAN_S * _US, ne)) + _EVENT_LO * _US
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ev_us, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne).tolist(), pa.string()),
            "value": pa.array(_money(rng, 0.0, 560.0, ne), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()
            ),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table as `<out_dir>/<name>.parquet`; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
