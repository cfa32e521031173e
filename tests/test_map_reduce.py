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

import sys
from collections import defaultdict
from collections.abc import Iterator

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

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


def _first_char_job(df, calls):
    """map_reduce keyed by each row's first character. ``calls`` counts Map
    calls: mapInPandas calls the Map function once per task."""

    def map_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        calls.add(1)
        for pdf in batches:
            yield pd.DataFrame({"k2": pdf["text"].str[:1].to_numpy()})

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame({"k3": [pdf["k2"].iloc[0]], "v3": [len(pdf)]})

    return map_reduce(
        df,
        map_fn,
        reduce_fn,
        map_schema="k2 string",
        out_schema="k3 string, v3 bigint",
    )


def _map_tasks(spark, df) -> int:
    calls = spark.sparkContext.accumulator(0)
    _first_char_job(df, calls).collect()
    return calls.value


def test_tiny_input_runs_one_map_task(spark, words_df):
    """A few bytes of input are worth one Python task, not one per core."""
    assert _map_tasks(spark, words_df) == 1


def test_presplit_tiny_input_runs_one_map_task(spark, words_df):
    """The input's own split does not set the Map fan-out either."""
    assert _map_tasks(spark, words_df.repartition(16)) == 1


def test_multi_mb_input_still_fans_out(spark):
    """~6 MB of hex digests is more than one byte-sized Map task."""
    df = spark.range(100_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("text")
    )
    assert _map_tasks(spark, df) > 1


def _below_map(out) -> str:
    """The physical plan under the Map's MapInPandas. The Reduce is a
    MapInPandas too, above the Map; the plan is a chain, so the Map is the
    last occurrence and every later line of the tree string lies below it."""
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 2, plan
    return plan.rsplit("MapInPandas", 1)[1]


def test_cluster_master_adds_no_exchange_below_map(spark, words_df, monkeypatch):
    """Local inputs get a rebalance before the Map; a cluster's inputs
    arrive split and pass through unshuffled. ``local-cluster`` runs
    separate executors, so it is a cluster."""
    calls = spark.sparkContext.accumulator(0)
    assert "Exchange RoundRobinPartitioning" in _below_map(_first_char_job(words_df, calls))
    for master in ("spark://cluster:7077", "local-cluster[2,1,1024]"):
        monkeypatch.setattr(spark.sparkContext, "master", master)
        assert "Exchange" not in _below_map(_first_char_job(words_df, calls)), master


# -- step 3 against Spark's own grouped map ---------------------------------
# The adapter reduces each task's key-sorted rows in one mapInPandas kernel.
# These tests run the same Reduce through ``groupBy().applyInPandas`` inside
# the test and require the same rows: every key reaches Reduce once, with all
# of its rows, grouped and typed as a per-key Arrow conversion gives them.


# a lambda: cloudpickle ships it by value (workers cannot import this module)
_identity_map = lambda batches: batches  # noqa: E731


def _via_adapter(df, reduce_fn, out_schema, key_cols, map_fn=_identity_map, map_schema=None):
    out = map_reduce(
        df,
        map_fn,
        reduce_fn,
        map_schema=map_schema or df.schema.simpleString(),
        out_schema=out_schema,
        key_cols=key_cols,
    )
    return sorted(tuple(r) for r in out.collect())


def _via_grouped_map(df, reduce_fn, out_schema, key_cols, map_fn=_identity_map, map_schema=None):
    """The same job with Spark's grouped map as its Reduce."""
    mapped = df.mapInPandas(map_fn, schema=map_schema or df.schema.simpleString())
    out = mapped.groupBy(*key_cols).applyInPandas(reduce_fn, schema=out_schema)
    return sorted(tuple(r) for r in out.collect())


def _describer():
    """A Reduce that describes its key in one row: the size, each column's
    dtype and values (sorted by repr, since value order within a key is
    unspecified), and the index. Built in a function so that cloudpickle
    ships it by value: workers cannot import this test module."""

    def describe(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = "; ".join(f"{c}:{pdf[c].dtype}:{sorted(map(repr, pdf[c].tolist()))}" for c in pdf.columns)
        return pd.DataFrame({"n": [len(pdf)], "cols": [cols], "index": [repr(pdf.index.tolist())]})

    return describe


_describe = _describer()
_DESCRIBE_SCHEMA = "n bigint, cols string, index string"


def _same_as_grouped_map(df, key_cols, map_fn=_identity_map, map_schema=None):
    got = _via_adapter(df, _describe, _DESCRIBE_SCHEMA, key_cols, map_fn, map_schema)
    assert got == _via_grouped_map(df, _describe, _DESCRIBE_SCHEMA, key_cols, map_fn, map_schema)
    return got


def test_key_spanning_arrow_batches_reaches_reduce_once(spark):
    """With 3-row Arrow batches, keys of 1 to 10 rows span up to four
    batches; each still reaches Reduce once, with all of its rows."""
    rows = [(k, i) for k, n in (("a", 10), ("b", 1), ("c", 7), ("d", 3), ("e", 2)) for i in range(n)]
    df = spark.createDataFrame(rows, "k2 string, v2 int").repartition(1)
    calls = spark.sparkContext.accumulator(0)

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        calls.add(1)
        return _describe(pdf)

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "3")
    try:
        got = _via_adapter(df, reduce_fn, _DESCRIBE_SCHEMA, ["k2"])
        want = _via_grouped_map(df, _describe, _DESCRIBE_SCHEMA, ["k2"])
    finally:
        spark.conf.set(conf, old)
    assert got == want
    assert sorted(n for n, _, _ in got) == [1, 2, 3, 7, 10]
    assert calls.value == 5


def test_null_only_under_one_key_keeps_other_keys_dtypes(spark):
    """An int, a bigint and a boolean column that are NULL only under key
    'a' arrive as float64/object for 'a' alone: every other key of the same
    batch gets int32, int64 (all 64 bits) and bool, as per key Arrow gives."""
    big = 2**60 + 1
    rows = [("a", 0, 0, False, True), ("a", 1, 5, True, False)] + [
        (f"k{i}", i, big + i, i % 2 == 0, False) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "k2 string, i int, l bigint, b boolean, null boolean").coalesce(1)

    def map_fn(batches):
        # the Map makes the NULLs: object columns keep every bigint exact
        for pdf in batches:
            out = pdf[["k2", "i", "l", "b"]].astype(object)
            out.loc[pdf["null"].to_numpy(), ["i", "l", "b"]] = None
            yield out

    schema = "k2 string, i int, l bigint, b boolean"
    got = {c.split(";")[0]: c for _, c, _ in _same_as_grouped_map(df, ["k2"], map_fn, schema)}
    a = got["k2:object:[\"'a'\", \"'a'\"]"]
    assert "i:float64" in a and "l:float64" in a and "b:object" in a
    k3 = got["k2:object:[\"'k3'\"]"]
    assert "i:int32:['3']" in k3 and f"l:int64:['{big + 3}']" in k3 and "b:bool:['False']" in k3


def test_null_and_signed_zero_keys_group_as_groupby(spark):
    """NULL keys form one group, 0.0 and -0.0 form one, NaN keys one, and a
    NULL key stays apart from a NaN key, though pandas reads both as NaN."""
    rows = [(0, "null1"), (0, "null2"), (1, "zero"), (2, "negzero"), (2, "negzero2"),
            (3, "nan1"), (3, "nan2"), (4, "x")]
    df = spark.createDataFrame(rows, "code int, v2 string").coalesce(1)

    def map_fn(batches):
        import pyarrow as pa

        keys = [None, 0.0, -0.0, float("nan"), 1.5]
        for pdf in batches:
            # Arrow-backed, so NaN stays NaN: a NumPy NaN would reach Spark as NULL
            k2 = pa.array([keys[c] for c in pdf["code"]], type=pa.float64(), from_pandas=False)
            yield pd.DataFrame({"k2": pd.arrays.ArrowExtensionArray(k2), "v2": pdf["v2"]})

    got = _same_as_grouped_map(df, ["k2"], map_fn, "k2 double, v2 string")
    assert sorted(n for n, _, _ in got) == [1, 2, 2, 3]
    # sorted NULLs first and NaN last, so these two keys are adjacent
    got = _same_as_grouped_map(df.filter("code IN (0, 3)"), ["k2"], map_fn, "k2 double, v2 string")
    assert sorted(n for n, _, _ in got) == [2, 2]
    strings = spark.createDataFrame([(None, 1), (None, 2), ("", 3)], "k2 string, v2 int").coalesce(1)
    assert sorted(n for n, _, _ in _same_as_grouped_map(strings, ["k2"])) == [1, 2]


def test_multi_column_keys(spark):
    """Keys of several columns, one of them an int with NULLs: a key
    changes when any of its columns does."""
    rows = [("a", 1, 1.0), ("a", 1, 2.0), ("a", None, 3.0), ("a", None, 4.0), ("a", 0, 5.0),
            ("b", 1, 6.0), (None, 1, 7.0), (None, None, 8.0)]
    df = spark.createDataFrame(rows, "k1 string, k2 int, v double").coalesce(1)
    got = _same_as_grouped_map(df, ["k1", "k2"])
    assert sorted(n for n, _, _ in got) == [1, 1, 1, 1, 2, 2]


def test_array_and_struct_keys(spark):
    """Nested keys group by value too, with [0.0] and [-0.0] as one key."""
    rows = [([0.0], (1, "a"), 1), ([-0.0], (1, "a"), 2), ([0.0], (1, "b"), 3), ([1.0, 2.0], (3, "c"), 4),
            ([1.0, 2.0], (3, "c"), 5), (None, (2, None), 6), (None, (2, None), 7), ([], (1, "a"), 8)]
    df = spark.createDataFrame(rows, "a array<double>, s struct<x: int, y: string>, v int").coalesce(1)
    assert sorted(n for n, _, _ in _same_as_grouped_map(df, ["a"])) == [1, 2, 2, 3]
    assert sorted(n for n, _, _ in _same_as_grouped_map(df, ["a", "s"])) == [1, 1, 2, 2, 2]


def test_empty_reduce_outputs_are_dropped(spark):
    """A Reduce output with 0 rows, or the column-less ``pd.DataFrame()``
    that map_reduce_rows returns for a key with no emits, adds no row."""
    df = spark.createDataFrame([(k, i) for k in "abcdef" for i in range(3)], "k2 string, v2 int")

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        k = pdf["k2"].iloc[0]
        if k in "ab":
            return pd.DataFrame()
        if k in "cd":
            return pd.DataFrame({"k3": pd.Series([], dtype=object), "v3": pd.Series([], dtype="int64")})
        return pd.DataFrame({"k3": [k], "v3": [int(pdf["v2"].sum())]})

    schema = "k3 string, v3 bigint"
    got = _via_adapter(df, reduce_fn, schema, ["k2"])
    assert got == _via_grouped_map(df, reduce_fn, schema, ["k2"]) == [("e", 3), ("f", 3)]

    def rows_reduce(key, pdf):
        return [] if key[0] in "abcd" else [{"k3": key[0], "v3": len(pdf)}]

    out = map_reduce_rows(
        df, lambda row: [(row["k2"], row["v2"])], rows_reduce,
        map_schema="k2 string, v2 int", out_schema=schema,
    ).collect()
    assert [tuple(r) for r in out] == [("e", 3), ("f", 3)]


def test_shipped_reduce_imports_nothing_from_the_package(spark, words_df, monkeypatch):
    """The Reduce kernel is pickled by value: a worker that cannot import
    ``mapreducefw_spark`` still unpickles and runs it."""
    shipped = []
    real = type(words_df).mapInPandas

    def spy(self, func, schema, *args, **kwargs):
        shipped.append(func)
        return real(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(type(words_df), "mapInPandas", spy)
    _first_char_job(words_df, spark.sparkContext.accumulator(0))
    kernel = cloudpickle.dumps(shipped[-1])  # the Map is shipped first
    for name in [m for m in sys.modules if m.split(".")[0] == "mapreducefw_spark"]:
        monkeypatch.setitem(sys.modules, name, None)  # a failing import
    batch = pd.DataFrame({"k2": ["a", "a", "b"]})
    out = pd.concat(list(cloudpickle.loads(kernel)(iter([batch]))))
    assert out.values.tolist() == [["a", 2], ["b", 1]]
