"""RDD adapter vs the pure-Python simulator + the Search workload shape,
and the width of its two Python stages."""

from __future__ import annotations

import math
import pickle
import random
import uuid

import pytest

from mapreducefw_spark.plans.map_reduce_rdd import run_map_reduce
from tests.test_map_reduce import simulate

MB = 1 << 20


def _in_group(spark, *args, **kwargs):
    """Call ``run_map_reduce`` inside a job group of its own; return its
    output, its job ids and the task count of each of its stages (Map
    stage first)."""
    sc = spark.sparkContext
    group = f"rdd-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        got = run_map_reduce(spark, *args, **kwargs)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = sorted(s for j in jobs for s in tracker.getJobInfo(j).stageIds)
    return got, jobs, [tracker.getStageInfo(s).numTasks for s in stages]


def _wordcount(calls=None):
    """Word count Map and Reduce; ``calls`` counts Reduce calls. Nested, so
    the workers get them by value (they cannot import this module)."""

    def map_fn(k1, v1):
        return [(tok, 1) for tok in v1.split(" ") if tok]

    def reduce_fn(k2, values):
        if calls is not None:
            calls.add(1)
        return [(k2, sum(values))]

    return map_fn, reduce_fn


TINY = [("d1", "a b a"), ("d2", "b c"), ("d3", ""), ("d4", "a a a")]


def test_rdd_wordcount_matches_simulator(spark):
    """Also: Reduce runs once per key and the whole call is ONE Spark job —
    no sampling job for a distributed sort that would re-run the reduce."""
    calls = spark.sparkContext.accumulator(0)
    map_fn, reduce_fn = _wordcount(calls)
    expected = simulate(TINY, lambda item: map_fn(*item), _wordcount()[1])
    got, jobs, _ = _in_group(spark, TINY, map_fn, reduce_fn)
    assert got == expected
    assert calls.value == len(expected)
    assert len(jobs) == 1


@pytest.fixture(params=[False, True], ids=["default-parallelism-unset", "default-parallelism-set"])
def default_parallelism_conf(request, spark, monkeypatch):
    """PySpark's ``groupByKey()`` with no width takes ``sc.defaultParallelism``
    when ``spark.default.parallelism`` is set and the Map's width when it is
    not; the adapter's widths must not depend on which."""
    if request.param:
        conf = spark.sparkContext._conf
        contains = conf.contains
        monkeypatch.setattr(
            conf, "contains", lambda key: key == "spark.default.parallelism" or contains(key)
        )


@pytest.mark.parametrize("parallelism", [4, 1])
def test_tiny_input_runs_one_task_per_stage(spark, default_parallelism_conf, parallelism):
    """A few bytes of input are worth one Map and one Reduce task: each
    Python task pays its start-up before any user code runs."""
    got, jobs, tasks = _in_group(spark, TINY, *_wordcount(), parallelism=parallelism)
    assert got == [("a", 5), ("b", 2), ("c", 1)]
    assert len(jobs) == 1
    assert tasks == [1, 1]


def test_multi_mb_input_fans_out_up_to_the_cap(spark):
    """A multi-MB input gets one task per started MB in both stages, at most
    ``parallelism``; the output and the once-per-key Reduce still hold."""
    rng = random.Random(7)
    vocab = [f"w{i:03d}" for i in range(500)]
    items = [(i, " ".join(rng.choices(vocab, k=24))) for i in range(21_000)]
    width = math.ceil(len(pickle.dumps(items, pickle.HIGHEST_PROTOCOL)) / MB)
    assert width == 3  # about 2.5 MB pickled
    calls = spark.sparkContext.accumulator(0)
    map_fn, reduce_fn = _wordcount(calls)
    expected = simulate(items, lambda item: map_fn(*item), _wordcount()[1])
    got, jobs, tasks = _in_group(spark, items, map_fn, reduce_fn, parallelism=8)
    assert got == expected
    assert calls.value == len(expected)
    assert len(jobs) == 1
    assert tasks == [width, width]
    _, _, tasks = _in_group(spark, items, *_wordcount(), parallelism=2)
    assert tasks == [2, 2]


@pytest.mark.parametrize("parallelism", [0, -2])
def test_bad_parallelism_is_rejected(spark, parallelism):
    with pytest.raises(ValueError, match="parallelism"):
        run_map_reduce(spark, TINY, *_wordcount(), parallelism=parallelism)


def test_empty_input(spark):
    assert run_map_reduce(spark, [], *_wordcount()) == []


def test_generator_input_is_consumed_once(spark):
    pulled = []

    def gen():
        for kv in TINY:
            pulled.append(kv)
            yield kv

    assert run_map_reduce(spark, gen(), *_wordcount()) == run_map_reduce(
        spark, TINY, *_wordcount()
    )
    assert pulled == TINY


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
