"""RDD-level MapReduce adapter — the literal translation of the reference's
job shape onto Spark's lower-level API.

``RunMapReduceFramework`` (``/root/reference/MapReduceFramework.h:13``) maps
1:1 onto the classic RDD chain:

    input pairs -> flatMap(user map, 0..N emits)      # Map + Emit2
                -> groupByKey(n)                       # shuffle, full value list
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

``parallelism`` is a cap, like the reference's ``multiThreadLevel``
(``MRFCore.h:15``, ``MRFCore.cpp:309-318, 365-375``): there, that many
Map threads and as many Reduce threads claim 10-item chunks from a shared
cursor, so on a small input most of them find no work and cost nothing.
A Spark task is not free that way: each Python task costs about 0.27
CPU-s to start before any user code runs (measured on a 4-vCPU host), so
the width ``n`` of both stages follows the input's pickled bytes, one task
per started ``_MIN_PARTITION_BYTES``, capped at ``parallelism``. The input
always leaves the driver as pickled bytes, so the rule is the same on a
cluster.
"""

from __future__ import annotations

import math
import pickle
from collections.abc import Callable, Iterable
from typing import TypeVar

from pyspark.serializers import pickle_protocol
from pyspark.sql import SparkSession

K1 = TypeVar("K1")
V1 = TypeVar("V1")
K2 = TypeVar("K2")
V2 = TypeVar("V2")
K3 = TypeVar("K3")
V3 = TypeVar("V3")

# AQE's default ``spark.sql.adaptive.coalescePartitions.minPartitionSize``:
# the smallest partition the DataFrame adapter's byte-sized rebalance
# leaves, so both adapters spread work by the same rule
_MIN_PARTITION_BYTES = 1 << 20
# the input's size is estimated from at most this many evenly strided items
_SIZE_SAMPLE = 256


def _pickled_bytes(items: list) -> float:
    """Estimated size of ``items`` as ``parallelize`` pickles them."""
    if not items:
        return 0.0
    sample = items[:: math.ceil(len(items) / _SIZE_SAMPLE)]
    return len(pickle.dumps(sample, pickle_protocol)) * len(items) / len(sample)


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

    ``parallelism`` caps the number of Map tasks and of Reduce tasks
    (default: ``sc.defaultParallelism``), as ``multiThreadLevel`` caps the
    reference's threads; it must be at least 1. Both stages run
    ``max(1, min(parallelism, ceil(input bytes / 1 MB)))`` tasks, the input
    bytes being estimated from a strided sample of the pickled items, so a
    small input pays one Python task start-up per stage instead of one per
    core, and an input of ``parallelism`` MB or more fans out fully.

    Trade-off: the Reduce width follows the input's bytes, not the Map
    output's, so a Map that multiplies a tiny input many-fold reduces in
    few tasks. The DataFrame adapter, whose AQE sizes the Reduce by
    shuffle bytes, is the path for that shape.

    The output is collected anyway, so it is sorted on the driver (once,
    like the reference's final sort): an RDD ``sortBy`` would add a
    sampling job that re-runs every Reduce, plus a range shuffle.
    """
    if parallelism is not None and parallelism < 1:
        raise ValueError(f"parallelism must be at least 1, got {parallelism}")
    sc = spark.sparkContext
    items = list(items)
    cap = parallelism or sc.defaultParallelism
    n = max(1, min(cap, math.ceil(_pickled_bytes(items) / _MIN_PARTITION_BYTES)))
    out = (
        sc.parallelize(items, numSlices=n)
        .flatMap(lambda kv: map_fn(kv[0], kv[1]))
        .groupByKey(numPartitions=n)
        .flatMap(lambda kv: reduce_fn(kv[0], list(kv[1])))
    )
    return sorted(out.collect(), key=lambda kv: kv[0])
