"""Seeded inputs for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the
same bytes. The shapes follow the operator-check tables the repository's
queries were written against (FIXTURES.md section 3): a TPC-H-like star
schema, an `events` stream, 64-dim unit `embeddings`, and `documents`
made of short word-salad rows from a ~30-word vocabulary in which ~5% of
rows are near copies of an earlier row with " dup" appended.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

_VOCAB = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def documents(n: int, seed: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng([seed, 1])
    vocab = np.array(_VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = vocab[rng.integers(0, vocab.size, int(rng.integers(8, 90)))]
            texts.append(" ".join(words))
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(n: int, seed: int) -> pd.DataFrame:
    """embeddings(vec_id, embedding float32[64] unit norm, label 0..9)."""
    rng = np.random.default_rng([seed, 2])
    centroids = rng.standard_normal((10, 64))
    label = rng.integers(0, 10, n).astype(np.int32)
    v = 0.15 * centroids[label] + rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(v),
        "label": label,
    })


def events(n: int, n_users: int, seed: int) -> pd.DataFrame:
    """events(event_id, ts, user_id, event_type, value, props) over 30 days."""
    rng = np.random.default_rng([seed, 3])
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _EPOCH_2024 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": rng.choice(
            ["signup", "purchase", "view", "click", "error"], n),
        "value": np.round(rng.exponential(60.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def tpch(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """region, nation, customer, supplier, part, orders, lineitem at `sf`
    (sf=1 would be 150k customers, 1.5M orders, 6M line items)."""
    rng = np.random.default_rng([seed, 4])
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    customer = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"],
            n_cust),
    })
    supplier = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adj = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gear", "pipe", "nut"]
    part = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"],
            n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    odays = rng.integers(0, 2400, n_ord)
    orders = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _EPOCH_1995 + odays.astype("timedelta64[D]"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    n_lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), n_lines)
    n_li = okey.size
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": np.concatenate(
            [np.arange(1, k + 1) for k in n_lines]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": (_EPOCH_1995
                       + np.repeat(odays, n_lines).astype("timedelta64[D]")
                       + rng.integers(1, 121, n_li).astype("timedelta64[D]")),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def write_tables(tables: dict[str, pd.DataFrame], out_dir: Path) -> None:
    """One `<name>.parquet` per table, the layout `ops.load_table` reads."""
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, df in tables.items():
        df.to_parquet(out_dir / f"{name}.parquet", index=False)
