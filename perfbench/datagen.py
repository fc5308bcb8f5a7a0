"""Seeded synthetic inputs with the fixture schemas (FIXTURES.md).

The benchmark never reads the repository's test fixtures: every table it
needs is built here from ``--seed`` with numpy + pyarrow, so the same
seed gives byte-identical parquet files and the program under test only
ever sees the generated files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window delta log commit pulsar topic route shard index cache "
    "page block"
).split()
LANGS = ("en", "en", "en", "es", "zh", "de", "fr")
TS0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def events_table(rng: np.random.Generator, n: int, id_base: int = 0) -> pa.Table:
    """``events``-shaped rows with dense ids ``id_base .. id_base+n-1``
    in a seeded random row order (so file layout differs per seed)."""
    ids = id_base + rng.permutation(n).astype(np.int64)
    ts = TS0_US + np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[i] for i in rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.gamma(2.0, 40.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(8, 60, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at : at + k]))
        at += k
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def tpch_tables(rng: np.random.Generator, n_orders: int) -> dict[str, pa.Table]:
    """customer / orders / lineitem with TPC-H value ranges (1-7 lines
    per order, quantity 1-50), enough for Q18's ``sum > 280`` filter to
    keep a few dozen orders."""
    n_cust = max(n_orders // 10, 10)
    cust = pa.table(
        {
            "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(
                [("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")[i]
                 for i in rng.integers(0, 5, n_cust)]
            ),
        }
    )
    okeys = np.arange(1, n_orders + 1, dtype=np.int64)
    lines = rng.integers(1, 8, n_orders)
    l_okey = np.repeat(okeys, lines)
    n_li = len(l_okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2000, n_li), 2)
    odate_ms = (TS0_US // 1000) - rng.integers(0, 6 * 365, n_orders) * 86_400_000
    total = np.round(np.bincount(np.repeat(np.arange(n_orders), lines), weights=price), 2)
    orders = pa.table(
        {
            "o_orderkey": pa.array(okeys),
            "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(total),
            "o_orderdate": pa.array(odate_ms, pa.timestamp("ms")),
            "o_orderpriority": pa.array(
                [f"{i + 1}-PRIO" for i in rng.integers(0, 5, n_orders)]
            ),
        }
    )
    first = np.repeat(np.cumsum(lines) - lines, lines)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(l_okey),
            "l_partkey": pa.array(rng.integers(1, 20_000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n_li), pa.int64()),
            "l_linenumber": pa.array((np.arange(n_li) - first + 1).astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(price),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
            "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(
                np.repeat(odate_ms, lines) + rng.integers(1, 122, n_li) * 86_400_000,
                pa.timestamp("ms"),
            ),
        }
    )
    return {"customer": cust, "orders": orders, "lineitem": lineitem}


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
