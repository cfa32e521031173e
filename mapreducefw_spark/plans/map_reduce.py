"""Generic MapReduce job adapter — the reference-parity core.

Reproduces the user-visible contract of ``RunMapReduceFramework``
(``/root/reference/MapReduceFramework.h:13-14``, engine
``/root/reference/MRFCore.cpp:252-446``) on Spark:

  1. Map is FLAT: per input row the user may emit 0..N intermediate rows
     (``MapReduceClient.h:49``; 0-emit proof ``SearchMRC.cpp:55-57``).
     -> ``DataFrame.mapInPandas`` (Arrow-batched iterator, 1->N rows).
  2. Shuffle groups by VALUE equality of the intermediate key — the reference
     derives equality from ``operator<`` order-equivalence (``MRFCore.h:19-23``),
     which for sanely ordered keys is value equality. -> ``groupBy``.
  3. Reduce sees ALL values of one key in a single call (``V2_VEC&``,
     ``MapReduceClient.h:50``) and may emit 0..N output rows; there is no
     combiner. -> ``groupBy().applyInPandas`` (GROUPED_MAP).
  4. Value order within a group is nondeterministic in the reference
     (shuffle drain order, ``MRFCore.cpp:145-172``) — preserved: Spark gives
     no intra-group order either.
  5. Reduce runs once per key, then the output is globally sorted ascending
     by the output key (``MRFCore.cpp:418-420``) -> ``repartition`` of the
     reduce output, then ``orderBy`` (range-partitioned sort). The
     repartition makes AQE materialize the reduce output as a shuffle stage,
     so the range partitioner's sampling job reads those shuffle files
     instead of running every Python Reduce a second time.
  6. Bag semantics: duplicates preserved end-to-end; NULL values legal
     (``Search.cpp:27``, ``SearchMRC.cpp:91``), NULL keys are not grouped away.

All engine machinery of the reference (thread pools, chunk cursor, semaphore
pipelining, per-thread buffers — ``MRFCore.cpp``) is deliberately absent:
Spark's task scheduler, shuffle service, and AQE replace it wholesale.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame


def map_reduce(
    df: DataFrame,
    map_fn: Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]],
    reduce_fn: Callable[[pd.DataFrame], pd.DataFrame],
    *,
    map_schema: str,
    out_schema: str,
    key_cols: list[str] | tuple[str, ...] = ("k2",),
    sort_cols: list[str] | tuple[str, ...] | None = None,
) -> DataFrame:
    """Run a generic Map -> group-by-key -> Reduce -> sort job.

    Parameters
    ----------
    map_fn : batch iterator -> batch iterator (flat map; may drop rows or
        emit many per input). Must yield DataFrames matching ``map_schema``.
    reduce_fn : one pandas DataFrame holding EVERY intermediate row of one
        key group -> 0..N output rows matching ``out_schema``.
    key_cols : intermediate key columns (the k2 of the reference model).
    sort_cols : output sort key; defaults to the first column of the output.
    """
    from mapreducefw_spark.operators.textprep import ensure_parallelism

    # single-row-group fixtures arrive as one partition, which would serialize
    # the Python map stage onto one Arrow worker. Workers are reused, but each
    # Python task has a fixed start-up cost, so no more than one wave of tasks
    # (the default parallelism, at most 8)
    n = df.sparkSession.sparkContext.defaultParallelism
    mapped = ensure_parallelism(df, min_parts=min(8, n)).mapInPandas(
        map_fn, schema=map_schema
    )
    reduced = mapped.groupBy(*key_cols).applyInPandas(
        lambda pdf: reduce_fn(pdf), schema=out_schema
    )
    if sort_cols is None:
        sort_cols = [reduced.schema.fieldNames()[0]]
    # step 5: the range sort's sampler reads this exchange's shuffle files
    # instead of re-running the Python reduce stage
    return reduced.repartition(n).orderBy(*sort_cols)


def map_reduce_rows(
    df: DataFrame,
    map_fn: Callable[[dict[str, Any]], Iterable[dict[str, Any]]],
    reduce_fn: Callable[[tuple, pd.DataFrame], Iterable[dict[str, Any]]],
    *,
    map_schema: str,
    out_schema: str,
    key_cols: list[str] | tuple[str, ...] = ("k2",),
    sort_cols: list[str] | tuple[str, ...] | None = None,
) -> DataFrame:
    """Row-level convenience wrapper over :func:`map_reduce`.

    ``map_fn(row_dict) -> iterable of dicts`` (0..N emits, like ``Emit2``);
    ``reduce_fn(key_tuple, group_pdf) -> iterable of dicts`` (like ``Emit3``).
    Internally still Arrow-batched — the per-row API is sugar, not a
    row-at-a-time serde path.
    """

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict[str, Any]] = []
            for row in pdf.to_dict("records"):
                out.extend(map_fn(row))
            yield pd.DataFrame(out) if out else pd.DataFrame()

    def _reduce(pdf: pd.DataFrame) -> pd.DataFrame:
        key = tuple(pdf.iloc[0][k] for k in key_cols)
        out = list(reduce_fn(key, pdf))
        return pd.DataFrame(out) if out else pd.DataFrame()

    return map_reduce(
        df,
        _map,
        _reduce,
        map_schema=map_schema,
        out_schema=out_schema,
        key_cols=key_cols,
        sort_cols=sort_cols,
    )
