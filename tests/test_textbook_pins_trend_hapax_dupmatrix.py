"""Third-implementation pins: trend test, hapax and stop-gram stats, dup matrix.

`cochran_armitage_trend`, `hapax_legomena_stats` and
`cross_source_dup_matrix` share their algebra with their DuckDB oracles,
so a transcription bug could self-confirm. Each is recomputed here from
the LITERAL textbook definition in pure Python (collections.Counter +
math, no Spark/DuckDB expressions) over constructed fixtures with known
structure, and the registered queries must reproduce the values exactly.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mapreducefw_spark.queries import QUERIES, load_all

load_all()

D0 = datetime(1996, 3, 4)  # a Monday, so day offset i has ISO dow (i % 7) + 1


# --- Cochran-Armitage ------------------------------------------------------

# (dow 1..7) -> (n_orders, n_urgent): a deliberate monotone-increasing
# urgent rate so the test statistic is decisively nonzero
CA_GROUPS = {1: (10, 0), 2: (10, 1), 3: (10, 2), 4: (10, 3),
             5: (10, 5), 6: (10, 7), 7: (10, 9)}


def _ca_brute():
    n = sum(v[0] for v in CA_GROUPS.values())
    r = sum(v[1] for v in CA_GROUPS.values())
    swr = sum(w * v[1] for w, v in CA_GROUPS.items())
    swn = sum(w * v[0] for w, v in CA_GROUPS.items())
    sw2n = sum(w * w * v[0] for w, v in CA_GROUPS.items())
    vr = (r / n) * (1 - r / n) * (sw2n - swn * swn / n)
    z = (swr - r * swn / n) / math.sqrt(vr)
    return n, r, round(z, 6)


@pytest.fixture(scope="module")
def ca_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("ca") / "db"
    d.mkdir()
    rows = []
    for w, (n_i, r_i) in CA_GROUPS.items():
        day = D0 + timedelta(days=w - 1)  # Monday + (w-1) has isodow w
        for j in range(n_i):
            rows.append((len(rows), day, "1-URGENT" if j < r_i else "5-LOW"))
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
                "o_orderdate": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "o_orderpriority": pa.array([r[2] for r in rows], pa.string()),
                "o_totalprice": pa.array([100.0] * len(rows), pa.float64()),
            }
        ),
        str(d / "orders.parquet"),
    )
    return str(d)


def test_cochran_armitage_equals_pure_python_definition(spark, ca_dir):
    n, r, z = _ca_brute()
    row = QUERIES["cochran_armitage_trend"](spark, ca_dir).collect()[0]
    assert (row["n_total"], row["n_urgent"]) == (n, r)
    assert row["z"] == z
    assert row["z"] > 3  # the constructed trend is decisively positive


# --- hapax + stop-grams + cross-source matrix ------------------------------

DOCS = [
    # (doc_id, text, source): src_a has a repeated 6-token template in
    # 3 of 4 docs (stop-gram df 3); 'unique once' tokens are hapax
    (0, "the quick brown fox jumps over unique0 once0", "src_a"),
    (1, "the quick brown fox jumps over unique1 once1", "src_a"),
    (2, "the quick brown fox jumps over unique2 once2", "src_a"),
    (3, "completely different text body here now", "src_a"),
    # src_b: doc 4 is an exact copy of doc 0 (cross-source dup);
    # doc 5 repeats a gram WITHIN one doc only (must count df 1)
    (4, "the quick brown fox jumps over unique0 once0", "src_b"),
    (5, "a b c d e a b c d e a b c d e", "src_b"),
]


@pytest.fixture(scope="module")
def docs_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("r9docs") / "db"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in DOCS], pa.int64()),
                "text": pa.array([r[1] for r in DOCS], pa.string()),
                "lang": pa.array(["en"] * len(DOCS), pa.string()),
                "source": pa.array([r[2] for r in DOCS], pa.string()),
                "n_chars": pa.array([len(r[1]) for r in DOCS], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


def test_hapax_equals_pure_python_definition(spark, docs_dir):
    want = {}
    for src in ("src_a", "src_b"):
        c = Counter(
            tok
            for _i, text, s in DOCS
            if s == src
            for tok in text.split(" ")
            if tok
        )
        inst, types = sum(c.values()), len(c)
        hapax = sum(1 for v in c.values() if v == 1)
        want[src] = (
            inst,
            types,
            hapax,
            round(types / inst, 6),
            round(hapax / types, 6),
        )
    got = {
        r["source"]: (
            r["n_instances"],
            r["n_types"],
            r["n_hapax"],
            r["type_token_ratio"],
            r["hapax_share"],
        )
        for r in QUERIES["hapax_legomena_stats"](spark, docs_dir).collect()
    }
    assert got == want


def test_stop_gram_equals_pure_python_definition(spark, docs_dir):
    df: Counter = Counter()
    for _i, text, src in DOCS:
        toks = text.split(" ")
        if len(toks) < 5:
            continue
        grams = {" ".join(toks[i : i + 5]) for i in range(len(toks) - 4)}
        for g in grams:
            df[(src, g)] += 1
    want = []
    for src in ("src_a", "src_b"):
        cands = sorted(
            ((g, c) for (s, g), c in df.items() if s == src and c >= 2),
            key=lambda t: (-t[1], t[0]),
        )
        for rnk, (g, c) in enumerate(cands[:3], 1):
            want.append((src, g, c, rnk))
    got = [
        (r["source"], r["gram"], r["doc_freq"], r["rnk"])
        for r in QUERIES["stop_gram_boilerplate"](spark, docs_dir).collect()
    ]
    assert got == want
    # the within-doc-repetition doc (5) must NOT reach df >= 2 on its own
    assert not any(s == "src_b" for s, *_ in got)
    # and the template grams must rank for src_a with df == 3
    assert got and got[0][0] == "src_a" and got[0][2] == 3


def test_cross_source_matrix_equals_pure_python_definition(spark, docs_dir):
    # corpus = DOCS + mirror of every doc_id % 7 == 0 (ids 0 here)
    corpus = [(t, s) for _i, t, s in DOCS] + [
        (t, "mirror") for i, t, s in DOCS if i % 7 == 0
    ]
    by_src: dict[str, set] = {}
    for text, src in corpus:
        by_src.setdefault(src, set()).add(hashlib.md5(text.encode()).hexdigest())
    want = set()
    for a, ha in by_src.items():
        for b, hb in by_src.items():
            if a == b:
                continue
            shared = len(ha & hb)
            if shared:
                want.add((a, b, shared, round(shared / len(ha), 6)))
    got = {
        (r["src_a"], r["src_b"], r["n_shared"], r["share_of_a"])
        for r in QUERIES["cross_source_dup_matrix"](spark, docs_dir).collect()
    }
    assert got == want
    # the fixture must exercise BOTH a natural cross-source dup (docs 0/4)
    # and the injected mirror feed
    assert ("src_a", "src_b", 1, round(1 / 4, 6)) in got
    assert any(a == "mirror" for a, *_ in got)
