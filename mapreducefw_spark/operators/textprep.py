"""Shared text-preparation expressions: tokens, shingles, stable 64-bit hashes.

All JVM-side (split/transform/xxhash64) — no Python in the hot path, so these
compose into whole-stage codegen and scale to 100 TB corpora.
"""

from __future__ import annotations

import weakref

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducefw_spark.session import is_local_master

# DataFrames this function already spread (or verified as spread), mapped to
# the partition count they are guaranteed to have — identity marker, so
# re-application inside stacked operators costs zero py4j calls (and a later
# call with a LARGER min_parts still falls through to the real check).
_SPREAD_OUTPUTS: "weakref.WeakKeyDictionary[DataFrame, int]" = weakref.WeakKeyDictionary()
# (applicationId, semanticHash) -> observed partition count. The probe result
# is deterministic for a given logical plan + session configs, so one probe
# per unique plan per session suffices; bench's min-of-N reconstructions of
# the same query hit this cache at ~1 ms (semanticHash) instead of paying the
# ~40-1300 ms analysis + RDD-conversion round trip each time.
# ASSUMPTION: inputs are immutable for the application lifetime — the count
# for an unchanged logical plan changes when the underlying files change.
# Code that rewrites a path in place (compact_parquet) must call
# invalidate_probe_cache() after the rewrite.
_PROBE_CACHE: dict[tuple[str, int], int] = {}


def invalidate_probe_cache() -> None:
    """Drop all memoized partition-count probes (and identity markers).

    Call after any in-place rewrite of an input path — a stale high count
    would skip a needed repartition, re-serializing the exact hot path
    ``ensure_parallelism`` exists to prevent."""
    _PROBE_CACHE.clear()
    _SPREAD_OUTPUTS.clear()


def ensure_parallelism(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Spread compute-heavy map stages across local cores.

    The sandbox fixtures are single-row-group parquet (unsplittable -> one
    task), which serializes shingling/hashing. On a cluster master this is a
    pass-through: real inputs arrive well-split, and a blind repartition
    would shuffle the whole corpus for nothing — the early return keeps every
    cost below local-mode-only.

    In local mode the gate is the actual partition count, probed once per
    unique logical plan: ``df.rdd.getNumPartitions()`` needs no job but costs
    an analysis + RDD-conversion py4j round trip (~40 ms warmed, >1 s on
    first touch), so results are memoized by ``df.semanticHash()`` (~1 ms)
    and outputs are identity-marked so stacked operators skip even the hash.
    The partition count (not a plan-string scan) is the gate on purpose: a
    substring match on "Repartition" would be fooled by an upstream
    coalesce(1) or an undersized repartition(2, key) — both produce
    Repartition nodes yet leave the data badly split, which is exactly the
    serialization this function exists to prevent."""
    sc = df.sparkSession.sparkContext
    if not is_local_master(sc):
        return df
    # sf0.1 fixtures already split into enough tasks, where a blind
    # repartition measured 1.3x on the jaccard join; single-row-group small
    # fixtures (and upstream coalesces) still get spread
    target = min_parts or sc.defaultParallelism
    if _SPREAD_OUTPUTS.get(df, 0) >= target:
        return df
    try:
        key = (sc.applicationId, df.semanticHash())
    except Exception:
        key = None
    nparts = _PROBE_CACHE.get(key) if key is not None else None
    if nparts is None:
        nparts = df.rdd.getNumPartitions()
        if key is not None:
            # bounded memo (ADVICE r13): keyed by (appId, semanticHash),
            # never evicted before — a long-lived session constructing
            # thousands of distinct plans grew it without limit. 4096
            # entries is ~100x a full bench sweep's distinct probes.
            if len(_PROBE_CACHE) >= 4096:
                _PROBE_CACHE.clear()
            _PROBE_CACHE[key] = nparts
    if nparts >= target:
        _SPREAD_OUTPUTS[df] = nparts
        return df
    out = df.repartition(target)
    _SPREAD_OUTPUTS[out] = target
    return out


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
