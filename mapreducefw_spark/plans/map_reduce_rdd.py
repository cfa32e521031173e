"""RDD-level MapReduce adapter — the literal translation of the reference's
job shape onto Spark's lower-level API.

``RunMapReduceFramework`` (``/root/reference/MapReduceFramework.h:13``) maps
1:1 onto the classic RDD chain:

    input pairs -> flatMap(user map, 0..N emits)      # Map + Emit2
                -> groupByKey()                        # shuffle, full value list
                -> flatMap(user reduce, 0..N emits)    # Reduce + Emit3
                -> collect()                           # output vector
                -> sorted(by output key) on the driver # global k3 sort

The DataFrame adapter (``plans/map_reduce.py``) is the production path —
Catalyst/Tungsten optimize it and Arrow batches the Python boundary. This
RDD form exists for parity with the reference's exact API shape (opaque
Python objects as keys/values, no schema) and for workloads whose keys or
values genuinely cannot be expressed as Spark SQL types.

groupByKey (not reduceByKey) is semantically required: the reference's
Reduce receives the FULL value list in one call with no combiner
(``MapReduceClient.h:50``, SURVEY §2A pt 3).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any, TypeVar

from pyspark.sql import SparkSession

K1 = TypeVar("K1")
V1 = TypeVar("V1")
K2 = TypeVar("K2")
V2 = TypeVar("V2")
K3 = TypeVar("K3")
V3 = TypeVar("V3")


def run_map_reduce(
    spark: SparkSession,
    items: Iterable[tuple[K1, V1]],
    map_fn: Callable[[K1, V1], Iterable[tuple[K2, V2]]],
    reduce_fn: Callable[[K2, list[V2]], Iterable[tuple[K3, V3]]],
    *,
    parallelism: int | None = None,
) -> list[tuple[K3, V3]]:
    """Run a MapReduce job over arbitrary Python key/value objects.

    Mirrors the reference contract: flat Map and Reduce (0..N emits each),
    grouping by k2 value-equality (Python ``__eq__``/``__hash__`` here, the
    analog of the reference's operator< order-equivalence, ``MRFCore.h:19``),
    Reduce sees the full value list, output sorted ascending by k3, bag
    semantics, NULL (None) values legal. Returns the collected output vector
    like ``get_result()`` (``MRFCore.cpp:465``) — for large outputs prefer
    the DataFrame adapter, which returns a distributed frame instead.

    The output is collected anyway, so it is sorted on the driver (once,
    like the reference's final sort): an RDD ``sortBy`` would add a
    sampling job that re-runs every Reduce, plus a range shuffle.
    """
    sc = spark.sparkContext
    rdd = sc.parallelize(list(items), numSlices=parallelism or sc.defaultParallelism)
    out = (
        rdd.flatMap(lambda kv: map_fn(kv[0], kv[1]))
        .groupByKey()
        .flatMap(lambda kv: reduce_fn(kv[0], list(kv[1])))
    )
    return sorted(out.collect(), key=lambda kv: kv[0])
