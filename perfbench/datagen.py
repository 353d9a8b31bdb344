"""Seeded fixture generator for the benchmark.

Follows the table grammar of ``scripts/native_datagen.py`` (TPC-H-shaped
dimensions at true scale-factor ratios, power-law customer and user
keys, 30-word documents with ~5% spliced near-duplicates, unit-norm
64-dim embeddings with weak 10-label clusters), but draws with NumPy
instead of Spark so that generation needs no JVM and stays out of the
session set-up the benchmark times. Every column draws from its own
generator seeded with ``(seed, crc32(tag))``: the seed salts every tag,
and the same seed always writes the same bytes.

Tables are written as single parquet files laid out like the engine's
test fixtures (``<dir>/<table>.parquet``), so DuckDB and the engine read
the same files.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
RETFLAGS = ["A", "N", "R"]
LINESTATUS = ["F", "O"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_LANGS = ["en", "en", "en", "zh", "de", "es", "fr"]
VOCAB = [
    "join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a",
    "spark", "part", "group", "big", "sort", "query", "fast", "the",
]

#: TPC-H scale factor of the relational and event tables
SF = 0.01
DOCS = 500
VECTORS = 500

_DAY_US = 86_400 * 1_000_000
_ORDER_EPOCH_US = 788_918_400 * 1_000_000  # 1995-01-01 UTC
_EVENT_EPOCH_US = 1_704_067_200 * 1_000_000  # 2024-01-01 UTC


class _Draws:
    """Uniform draws keyed by tag; the seed salts every tag."""

    def __init__(self, seed: int):
        self.seed = seed

    def rng(self, tag: str) -> np.random.Generator:
        return np.random.default_rng([self.seed, zlib.crc32(tag.encode())])

    def u(self, tag: str, n: int) -> np.ndarray:
        return self.rng(tag).random(n)

    def pick(self, tag: str, n: int, values: list[str]) -> pa.Array:
        idx = (self.u(tag, n) * len(values)).astype(np.int32)
        return pa.DictionaryArray.from_arrays(
            pa.array(idx), pa.array(values)
        ).cast(pa.string())


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _tables(seed: int) -> dict[str, pa.Table]:
    d = _Draws(seed)
    n_cust = int(150_000 * SF)
    n_orders = int(1_500_000 * SF)
    n_part = int(200_000 * SF)
    n_supp = int(10_000 * SF)
    n_events = int(1_000_000 * SF)
    n_users = int(15_000 * SF)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nk = np.arange(25)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })

    ck = np.arange(n_cust)
    out["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array((d.u("c_nat", n_cust) * 25).astype(np.int32)),
        "c_acctbal": _money(d.u("c_bal", n_cust) * 10999.98 - 999.99),
        "c_mktsegment": d.pick("c_seg", n_cust, SEGMENTS),
    })

    sk = np.arange(n_supp)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array((d.u("s_nat", n_supp) * 25).astype(np.int32)),
        "s_acctbal": _money(d.u("s_bal", n_supp) * 10999.98 - 999.99),
    })

    pk = np.arange(n_part)
    adj = np.array(ADJS)[(d.u("p_adj", n_part) * len(ADJS)).astype(int)]
    noun = np.array(NOUNS)[(d.u("p_noun", n_part) * len(NOUNS)).astype(int)]
    brand = (d.u("p_brand", n_part) * 25).astype(int) + 1
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in brand],
        "p_type": d.pick("p_type", n_part, PTYPES),
        "p_size": pa.array((d.u("p_size", n_part) * 50).astype(np.int32) + 1),
        "p_retailprice": np.round(900.0 + (pk % 2000) / 10.0, 1),
    })

    ok = np.arange(n_orders)
    o_date = _ORDER_EPOCH_US + (d.u("o_date", n_orders) * 2404).astype(np.int64) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(
            np.floor(d.u("o_cust", n_orders) ** 1.6 * n_cust).astype(np.int64)
        ),
        "o_orderstatus": d.pick("o_status", n_orders, STATUSES),
        "o_totalprice": _money(d.u("o_total", n_orders) * 498000.0 + 1000.0),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": d.pick("o_prio", n_orders, PRIORITIES),
    })

    # 1-7 lines per order: one plus six fair coin flips
    n_lines = 1 + sum(
        (d.u(f"l_n{i}", n_orders) < 0.5).astype(np.int64) for i in range(6)
    )
    l_order = np.repeat(ok, n_lines)
    n_li = len(l_order)
    starts = np.cumsum(n_lines) - n_lines
    l_line = np.arange(n_li) - np.repeat(starts, n_lines) + 1
    l_part = (d.u("l_part", n_li) * n_part).astype(np.int64)
    qty = np.floor(d.u("l_qty", n_li) * 50 + 1)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part),
        "l_suppkey": pa.array((d.u("l_supp", n_li) * n_supp).astype(np.int64)),
        "l_linenumber": pa.array(l_line.astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(qty * (900.0 + (l_part % 2000) / 10.0)),
        "l_discount": np.round((d.u("l_disc", n_li) * 11).astype(int) / 100.0, 2),
        "l_tax": np.round((d.u("l_tax", n_li) * 9).astype(int) / 100.0, 2),
        "l_returnflag": d.pick("l_rf", n_li, RETFLAGS),
        "l_linestatus": d.pick("l_ls", n_li, LINESTATUS),
        "l_shipdate": _ts(
            np.repeat(o_date, n_lines)
            + ((d.u("l_ship", n_li) * 95).astype(np.int64) + 1) * _DAY_US
        ),
    })

    ek = np.arange(n_events)
    out["events"] = pa.table({
        "event_id": pa.array(ek, pa.int64()),
        "ts": _ts(_EVENT_EPOCH_US + (d.u("e_ts", n_events) * 2591999.0 * 1e6).astype(np.int64)),
        "user_id": pa.array(
            np.floor(d.u("e_user", n_events) ** 2.2 * n_users).astype(np.int64)
        ),
        "event_type": d.pick("e_type", n_events, EVENT_TYPES),
        "value": np.round(
            np.maximum(0.01, -np.log(d.u("e_val", n_events) + 1e-12) * 50.0), 2
        ),
        "props": [f'{{"k": {k}}}' for k in (d.u("e_k", n_events) * 100).astype(int)],
    })

    out["documents"] = _documents(d, DOCS)
    out["embeddings"] = _embeddings(d, VECTORS)
    return out


def _documents(d: _Draws, n: int) -> pa.Table:
    n_words = (d.u("d_len", n) * 90).astype(int) + 10
    word_ids = d.rng("d_w").integers(0, len(VOCAB), size=(n, 100))
    base = [[VOCAB[w] for w in word_ids[i, : n_words[i]]] for i in range(n)]
    is_dup = d.u("d_dup", n) < 0.05
    dup_src = np.minimum((d.u("d_dupsrc", n) * np.arange(n)).astype(int), np.arange(n) - 1)
    dpos = d.u("d_dpos", n)
    texts = []
    for i in range(n):
        if is_dup[i] and i > 0:
            # near-duplicate: an earlier doc with a 'dup' token spliced in
            src = base[dup_src[i]]
            k = int(dpos[i] * len(src)) + 1
            texts.append(" ".join(src[:k] + ["dup"] + src[k:]))
        else:
            texts.append(" ".join(base[i]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": d.pick("d_lang", n, DOC_LANGS),
        "source": d.pick("d_src", n, [f"src{i}" for i in range(20)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(d: _Draws, n: int) -> pa.Table:
    label = (d.u("v_lab", n) * 10).astype(np.int32)

    def gauss(tag: str, shape) -> np.ndarray:
        # Irwin-Hall(4) scaled to unit variance, as in the Spark grammar
        r = d.rng(tag)
        return (sum(r.random(shape) for _ in range(4)) - 2.0) * 1.7320508

    centroids = gauss("v_c", (10, 64))
    raw = gauss("v_n", (n, 64)) + 0.15 * centroids[label]
    vec = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), 64
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def generate(dst: str, seed: int) -> dict:
    """Write every fixture table under ``dst``; return rows and bytes
    per table."""
    os.makedirs(dst, exist_ok=True)
    sizes = {}
    for name, table in _tables(seed).items():
        path = os.path.join(dst, f"{name}.parquet")
        pq.write_table(table, path)
        sizes[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return sizes
