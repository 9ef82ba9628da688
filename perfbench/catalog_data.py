"""Seeded synthetic tables for the catalog workload.

Same table names and column types as the star schema plus ``events``,
``documents`` and ``embeddings`` that the catalog queries read, at a small
fixed size, so one pass of the headline queries fits in a benchmark run.
The shapes the queries depend on are kept: a ``BUILDING`` market segment
and an ``ASIA`` region, order dates around the Q3 cut-off, customers
without orders, near-duplicate documents with PHI-style tokens, and
clustered unit-norm 64-dimensional embeddings.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "orders",
    "lineitem", "events", "documents", "embeddings",
]

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PHI = [
    "contact dev{n}@example.com",
    "ssn {a:03d}-{b:02d}-{c:04d}",
    "api_key={n}abcdef",
    "call 555-{a:03d}-{c:04d}",
    "MRN:{c}{a:03d}",
]
_DAY_US = 86_400_000_000
_EPOCH_1995 = int(pd.Timestamp("1995-01-01").value // 1000)


def _days(rng, n: int, span_days: int) -> pd.Series:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * _DAY_US
    return pd.to_datetime(us, unit="us").astype("datetime64[us]")


def _documents(rng, n: int) -> pd.DataFrame:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.3:
            # near duplicate of an earlier document: a few words replaced
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            words = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
            if rng.random() < 0.3:
                a, b, c = (int(x) for x in rng.integers(0, 1000, 3))
                tok = _PHI[int(rng.integers(0, len(_PHI)))].format(n=i, a=a % 900 + 100, b=b % 90 + 10, c=c + 1000)
                words.insert(int(rng.integers(0, len(words))), tok)
        texts.append(" ".join(words))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(["en", "zh", "es", "de", "fr"])[rng.integers(0, 5, n)],
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> pd.DataFrame:
    centers = rng.normal(size=(n_labels, dim))
    label = rng.integers(0, n_labels, n)
    v = centers[label] + rng.normal(scale=0.6, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame(
        {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v), "label": label.astype(np.int32)}
    )


def make_tables(seed: int, scale: float = 1.0) -> dict[str, pd.DataFrame]:
    """All catalog tables; ``scale`` multiplies every table size but the
    fixed region and nation tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_ord, n_li, n_ev, n_doc, n_emb = (
        max(20, int(n * scale)) for n in (300, 40, 3000, 12000, 4000, 600, 600)
    )
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"])[
                rng.integers(0, 5, n_cust)
            ],
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            # a tenth of the customers place no order (anti-join frontier)
            "o_custkey": rng.integers(0, n_cust * 9 // 10, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["P", "F", "O"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
            "o_orderdate": _days(rng, n_ord, 2400),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)
            ],
        }
    )
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, 2000, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, 2500),
        }
    )
    ev_us = int(pd.Timestamp("2024-01-01").value // 1000) + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": pd.to_datetime(ev_us, unit="us").astype("datetime64[us]"),
            "user_id": rng.integers(0, 150, n_ev).astype(np.int64),
            "event_type": np.array(["error", "click", "view", "signup", "purchase"])[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, tables: dict[str, pd.DataFrame]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(df["embedding"].tolist(), type=pa.list_(pa.float32()))
            )
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
