"""Reference-semantics tests (SURVEY §5.2 item 3): the generic map_reduce
adapter vs a pure-Python MapReduce simulator, pinning the user-visible
contract of RunMapReduceFramework (SURVEY §2A semantic points 1-6):

1. Map and Reduce are flat (0..N emits each)
2. grouping is by value equality of k2
3. Reduce sees all values of a key in one call
4. intra-group value order is unspecified (checks are order-insensitive)
5. output globally sorted ascending by k3
6. bag semantics: duplicates preserved; NULL values legal
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
import pytest

from mapreducefw_spark.plans.map_reduce import map_reduce, map_reduce_rows


def simulate(items, map_fn, reduce_fn):
    """20-line pure-Python MapReduce: flat map -> group by k2 value ->
    flat reduce over full value list -> sort by k3."""
    groups = defaultdict(list)
    for item in items:
        for k2, v2 in map_fn(item):
            groups[k2].append(v2)
    out = []
    for k2, values in groups.items():
        out.extend(reduce_fn(k2, values))
    return sorted(out, key=lambda kv: kv[0])


@pytest.fixture(scope="module")
def words_df(spark):
    rows = [("a b a", 1), ("b c", 2), ("", 3), ("a a a", 4)]
    return spark.createDataFrame(rows, "text string, src int")


def test_wordcount_matches_simulator(spark, words_df):
    """Also: one action calls Reduce exactly once per key, so the final sort
    must not re-run the reduce stage (MRFCore.cpp:418-420 sorts once)."""
    calls = spark.sparkContext.accumulator(0)

    def py_map(item):
        return [(tok, 1) for tok in item["text"].split(" ") if tok]

    def py_reduce(k2, values):
        return [(k2, sum(values))]

    expected = simulate(
        [r.asDict() for r in words_df.collect()], py_map, py_reduce
    )

    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["text"].str.split(" ").explode()
            toks = toks[toks != ""]
            yield pd.DataFrame({"k2": toks.to_numpy(), "v2": 1})

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        calls.add(1)
        return pd.DataFrame({"k3": [pdf["k2"].iloc[0]], "v3": [int(pdf["v2"].sum())]})

    out = map_reduce(
        words_df,
        map_fn,
        reduce_fn,
        map_schema="k2 string, v2 int",
        out_schema="k3 string, v3 bigint",
        sort_cols=("k3",),
    ).collect()
    assert [(r.k3, r.v3) for r in out] == expected
    assert calls.value == len(expected)


def test_flat_map_zero_and_many_emits(spark):
    """Map may emit 0 rows (filter) or many (explode) — REF pt 1."""
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int")

    def map_fn(row):
        if row["x"] == 2:
            return []  # 0 emits
        return [("k", row["x"])] * row["x"]  # N emits

    def reduce_fn(key, pdf):
        return [{"k3": key[0], "v3": int(pdf["v2"].sum())}]

    out = map_reduce_rows(
        df,
        map_fn,
        reduce_fn,
        map_schema="k2 string, v2 int",
        out_schema="k3 string, v3 bigint",
    ).collect()
    assert [(r.k3, r.v3) for r in out] == [("k", 1 + 9)]


def test_reduce_sees_full_value_list_and_may_filter(spark):
    """Reduce gets every value of its key at once and may emit 0 rows — REF pts 1,3."""
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "k string, v int")

    def map_fn(row):
        return [(row["k"], row["v"])]

    def reduce_fn(key, pdf):
        vals = sorted(pdf["v2"].tolist())
        if len(vals) < 2:
            return []  # 0-emit reduce
        return [{"k3": key[0], "v3": f"{vals}"}]

    out = map_reduce_rows(
        df,
        map_fn,
        reduce_fn,
        map_schema="k2 string, v2 int",
        out_schema="k3 string, v3 string",
    ).collect()
    assert [(r.k3, r.v3) for r in out] == [("a", "[1, 2]")]


def test_duplicates_preserved_and_output_sorted(spark):
    """Bag semantics + ascending global k3 sort — REF pts 5,6."""
    df = spark.createDataFrame([("z",), ("a",), ("z",), ("m",)], "s string")

    def map_fn(row):
        return [(row["s"], None)]

    def reduce_fn(key, pdf):
        return [{"k3": key[0], "v3": None}] * len(pdf)  # re-emit duplicates

    out = map_reduce_rows(
        df,
        map_fn,
        reduce_fn,
        map_schema="k2 string, v2 string",
        out_schema="k3 string, v3 string",
    ).collect()
    assert [r.k3 for r in out] == ["a", "m", "z", "z"]
    assert all(r.v3 is None for r in out)  # NULL values legal end-to-end


def test_null_values_legal(spark):
    """v1=NULL in, v3=NULL out (Search.cpp:27, SearchMRC.cpp:91)."""
    df = spark.createDataFrame([("p1", None), ("p2", None)], "k string, v string")

    def map_fn(row):
        return [(row["k"], row["v"])]

    def reduce_fn(key, pdf):
        return [{"k3": key[0], "v3": None}]

    out = map_reduce_rows(
        df,
        map_fn,
        reduce_fn,
        map_schema="k2 string, v2 string",
        out_schema="k3 string, v3 string",
    ).collect()
    assert [(r.k3, r.v3) for r in out] == [("p1", None), ("p2", None)]
