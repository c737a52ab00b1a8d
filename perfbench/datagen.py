"""Seeded synthetic tables in the engine's ten-table layout.

The benchmark runs where no prepared test data exists, so it writes its
own parquet tables from the workload seed. Schemas and physical types
match what ``sources.tables.load_tables`` pins (microsecond timestamps
without a zone, int32 dimension keys, ``array<float>`` embeddings), and the
distributions follow the engine's reference test data:

- events: ts uniform over January 2024, ids in ts order, users uniform,
  five event types uniform, value exponential with mean 50 (2 decimals),
  props ``{"k": 0..99}``;
- documents: words drawn from a 30-word vocabulary, 10-100 words per doc,
  5% near-duplicates (an earlier doc plus a ``dup`` token);
- embeddings: 64-dim unit vectors around ten seeded label centres;
- the TPC-H-shaped tables with the same key ranges and value bands.

Sizes: 10k events over 150 users, 500 documents, 500 embeddings, 1,500
customers, 15k orders and about 60k line items.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast the row agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
JAN_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
MONTH_US = 30 * 86_400 * 1_000_000


def make_events(rng: np.random.Generator, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """``n`` events in ts order over January 2024."""
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + MONTH_US, size=n))
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), size=n)]
    value = np.round(rng.exponential(50.0, size=n), 2)
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, size=n).astype(np.int64)),
            "event_type": pa.array(types, type=pa.string()),
            "value": pa.array(value, type=pa.float64()),
            "props": pa.array(props, type=pa.string()),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, size=n)
    texts = [" ".join(rng.choice(VOCAB, size=k)) for k in lens]
    for i in rng.choice(n, size=max(1, n // 20), replace=False):
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), type=pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], type=pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    centres = rng.normal(size=(10, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, 10, size=n).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=0.12, size=(n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, type=pa.int32()),
        }
    )


def _days(rng: np.random.Generator, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    base = np.datetime64(lo, "us")
    span = (hi - lo).days
    off = rng.integers(0, span + 1, size=n).astype("timedelta64[D]")
    return pa.array(base + off, type=pa.timestamp("us"))


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_cust, n_supp, n_part, n_ord = 1500, 100, 2000, 15000
    money = lambda n, lo, hi: np.round(rng.uniform(lo, hi, size=n), 2)  # noqa: E731
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust).astype(np.int32)),
            "c_acctbal": money(n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], size=n_cust
            ),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
            "s_acctbal": money(n_supp, -999.99, 9999.99),
        }
    )
    adj = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
    part = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(n_part)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": rng.choice(
                ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], size=n_part
            ),
            "p_size": pa.array(rng.integers(1, 51, size=n_part).astype(np.int32)),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, size=n_ord).astype(np.int64)),
            "o_orderstatus": rng.choice(["P", "O", "F"], size=n_ord),
            "o_totalprice": money(n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], size=n_ord
            ),
        }
    )
    per_order = rng.integers(1, 8, size=n_ord)
    n_li = int(per_order.sum())
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(np.repeat(np.arange(n_ord, dtype=np.int64), per_order)),
            "l_partkey": pa.array(rng.integers(0, n_part, size=n_li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li).astype(np.int64)),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_order]).astype(np.int32)
            ),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, size=n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, size=n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, size=n_li) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], size=n_li),
            "l_linestatus": rng.choice(["O", "F"], size=n_li),
            "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
    }


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write all ten tables under ``out_dir``; returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    tables = _tpch(rng)
    tables["events"] = make_events(rng, 10_000, 150)
    tables["documents"] = _documents(rng, 500)
    tables["embeddings"] = _embeddings(rng, 500)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    counts = {name: tbl.num_rows for name, tbl in tables.items()}
    with open(os.path.join(out_dir, "_tables.json"), "w") as fh:
        json.dump({"seed": seed, "rows": counts}, fh)
    return counts
