"""Seeded input generators for the benchmark.

``write_tables`` writes the ten tables the query registry reads (the same
names, column names and Parquet types as the registry's fixtures), scaled by
``sf`` the way TPC-H scales: lineitem has 6M x sf rows. ``wordcount_lines``
and ``search_rows`` make the inputs of the MapReduce-contract workload. The
same seed always gives the same inputs.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64
DUP_SHARE = 0.05  # documents that are another document plus a " dup" token

_US = np.timedelta64(1, "us")


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (lo + rng.integers(0, (hi - lo).astype(int) + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten registry tables under ``out_dir``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64),
    })
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
    _write(out_dir, "part", {
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1), f64),
    })
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500_000), f64),
        "o_orderdate": pa.array(_days(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, n_li, 900, 105_000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li), s),
        "l_shipdate": pa.array(_days(rng, n_li, "1995-01-02", "2001-11-04"), ts),
    })
    # events arrive as a Poisson stream over January 2024
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(np.datetime64(datetime(2024, 1, 1), "us") + np.cumsum(gaps) * _US, ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), s),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s),
    })
    texts = [" ".join(rng.choice(VOCAB, int(k))) for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, int(n_doc * DUP_SHARE), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return {
        "supplier": n_supp, "customer": n_cust, "part": n_part, "orders": n_ord,
        "lineitem": n_li, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


def wordcount_lines(
    n_tokens: int, n_keys: int, seed: int, tokens_per_line: int = 20, zipf_s: float = 1.1
) -> list[str]:
    """Lines of ``n_tokens`` words in total, drawn from ``n_keys`` distinct
    words with Zipf(s) frequencies, so a few keys carry most of the tokens."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, n_keys + 1) ** zipf_s
    words = np.array([f"w{i}" for i in range(n_keys)])[rng.choice(n_keys, n_tokens, p=p / p.sum())]
    return [" ".join(words[i : i + tokens_per_line]) for i in range(0, n_tokens, tokens_per_line)]


def search_rows(n_rows: int, n_dirs: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """(dir, name) pairs for the reference's Search job: few, large groups."""
    rng = np.random.default_rng(seed)
    dirs = np.char.add("/d", rng.integers(0, n_dirs, n_rows).astype(str))
    stems = rng.choice(np.array(PART_NOUN + PART_ADJ), n_rows)
    names = np.char.add(np.char.add(stems, "_"), rng.integers(0, 1000, n_rows).astype(str))
    return dirs, names
