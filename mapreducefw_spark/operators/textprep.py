"""Shared text-preparation expressions: tokens, shingles, stable 64-bit hashes.

All JVM-side (split/transform/xxhash64) — no Python in the hot path, so these
compose into whole-stage codegen and scale to 100 TB corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducefw_spark.session import is_local_master


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Spread a CPU-bound text stage over every local core.

    On a local master with more than one core this is
    ``df.repartition(sc.defaultParallelism)``: one round-robin exchange,
    whatever the input's layout. The sandbox fixtures are single-row-group
    parquet, and a scan's file splits can hold all their rows in one split,
    so without it shingling and hashing run in one task. Catalyst collapses
    a second call across filters and projections into the same exchange.

    It spreads by cores, not by bytes: AQE's ``rebalance`` sizes partitions
    by bytes and leaves a small input (sf0.1 ``documents`` is 580 KB) in one
    task; with it, five sf0.1 text queries (MinHash and SimHash pairs,
    n-gram decontamination, boilerplate, exact substrings) ran 1.2-2.5x
    slower on 4 cores. On a cluster master, or on ``local[1]``, ``df``
    is returned unchanged: real inputs arrive split, and a repartition
    would shuffle the whole corpus for nothing."""
    sc = df.sparkSession.sparkContext
    if not is_local_master(sc) or sc.defaultParallelism < 2:
        return df
    return df.repartition(sc.defaultParallelism)


def tokens(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def distinct_tokens(col: str | Column = "text") -> Column:
    return F.array_distinct(tokens(col))


def shingles(col: str | Column = "text", n: int = 3) -> Column:
    """Distinct word n-gram shingles, e.g. 'a b c' for n=3."""
    toks = tokens(col)
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
    return F.array_distinct(grams)


def hash64(col: Column, seed: int = 0) -> Column:
    """Deterministic 64-bit hash; distinct seeds give independent families."""
    return F.xxhash64(F.lit(seed), col)
