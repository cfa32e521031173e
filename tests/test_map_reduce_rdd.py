"""RDD adapter vs the pure-Python simulator + the Search workload shape."""

from __future__ import annotations

import uuid

from mapreducefw_spark.plans.map_reduce_rdd import run_map_reduce
from tests.test_map_reduce import simulate


def test_rdd_wordcount_matches_simulator(spark):
    """Also: Reduce runs once per key and the whole call is ONE Spark job —
    no sampling job for a distributed sort that would re-run the reduce."""
    sc = spark.sparkContext
    calls = sc.accumulator(0)
    items = [("d1", "a b a"), ("d2", "b c"), ("d3", ""), ("d4", "a a a")]

    def map_fn(k1, v1):
        return [(tok, 1) for tok in v1.split(" ") if tok]

    def reduce_fn(k2, values):
        calls.add(1)
        return [(k2, sum(values))]

    expected = simulate(
        [{"k": k, "v": v} for k, v in items],
        lambda item: map_fn(item["k"], item["v"]),
        reduce_fn,
    )
    calls.value = 0  # the simulator ran reduce_fn on the driver
    group = f"rdd-wordcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = run_map_reduce(spark, items, map_fn, reduce_fn)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert got == expected
    assert calls.value == len(expected)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_rdd_search_workload_null_values(spark):
    """The Search client end-to-end on the RDD adapter: null v1 in, substring
    filter in reduce, re-keyed output with null payloads, sorted, bag
    semantics (SearchMRC.cpp:46-98)."""
    dirs = {"d1": ["alpha.txt", "beta.log"], "d2": ["alpha.txt", "gamma.md"]}
    items = [(d, None) for d in dirs]

    def map_fn(k1, v1):
        assert v1 is None  # null input values are legal (Search.cpp:27)
        return [(k1, name) for name in dirs[k1]]

    def reduce_fn(k2, values):
        return [(v, None) for v in values if "alpha" in v]

    got = run_map_reduce(spark, items, map_fn, reduce_fn)
    assert got == [("alpha.txt", None), ("alpha.txt", None)]


def test_rdd_opaque_python_keys(spark):
    """Keys the SQL type system can't express: frozensets, grouped by value
    equality — the case that justifies the RDD path at all."""
    items = [(1, frozenset({"x", "y"})), (2, frozenset({"y", "x"})), (3, frozenset({"z"}))]

    def map_fn(k1, v1):
        return [(v1, k1)]  # key by the frozenset itself

    def reduce_fn(k2, values):
        return [(tuple(sorted(k2)), sorted(values))]

    got = run_map_reduce(spark, items, map_fn, reduce_fn)
    assert got == [(("x", "y"), [1, 2]), (("z",), [3])]
