"""Scale-safe global rank / running total: two-phase range partitioning.

A bare ``Window.orderBy(...)`` with no partitionBy funnels the whole input
through ONE task — fine for a small dimension, fatal at 100 TB. The classic
distributed alternative (TeraSort's shape): range-partition on the sort key,
rank locally per partition, then shift each partition by the totals of the
partitions before it. Reference semantic contract: the global sort-by-k3
phase of the reference engine (``MRFCore.cpp:252-446``) — same total order,
expressed shuffle-parallel.

Every step here is sized correctly for scale:
- the data shuffles ONCE (the range exchange, which Spark samples to pick
  balanced boundaries);
- per-partition windows partition by ``spark_partition_id()``, so no
  unpartitioned WindowExec appears anywhere in the plan;
- the cross-partition offsets come from an N-row aggregate (N = shuffle
  partitions, not data size) cumulated by a triangular broadcast self-join
  and broadcast back — no window, no collect, no second pass over the data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def global_rank_running(
    df: DataFrame,
    order_cols: list[Column],
    sum_col: Column | None = None,
    num_parts: int | None = None,
) -> DataFrame:
    """Add ``global_rank`` (and ``running_total`` if ``sum_col`` is given)
    columns under the total order of ``order_cols``, without a global window.

    ``order_cols`` must define a TOTAL order (make it unique with a
    tie-breaker column): with unique keys rank() == row_number(), which is
    what the per-partition phase computes. ``sum_col``'s type is preserved
    through the partial sums (pass a decimal for exact money arithmetic).
    """
    spark = df.sparkSession
    n = num_parts or spark.sparkContext.defaultParallelism

    # Phase 1: ONE range shuffle; partition ids are monotone in the total
    # order (AQE may coalesce partitions, but only adjacent ones, which
    # preserves contiguity of key ranges). The ranged frame feeds two
    # consumers (local windows + per-partition totals); localCheckpoint
    # pins ONE materialization of the partitioning — the range partitioner
    # samples per shuffle, so re-executing the exchange in a forked subtree
    # (exchange reuse is not guaranteed, and is broken here by the
    # nondeterministic spark_partition_id projection) would assign boundary
    # rows different pids in each branch and silently corrupt the offsets.
    # Same cost shape as TeraSort's two-job structure: the checkpoint writes
    # what the shuffle already materialized, once.
    ranged = (
        df.repartitionByRange(n, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_local = W.partitionBy("_pid").orderBy(*order_cols)
    running = w_local.rowsBetween(W.unboundedPreceding, W.currentRow)
    local = ranged.withColumn("_lrank", F.row_number().over(w_local))
    if sum_col is not None:
        local = local.withColumn("_lsum", F.sum(sum_col).over(running))

    # Phase 2: per-partition totals — N rows, N = shuffle partitions.
    aggs = [F.count(F.lit(1)).alias("_cnt")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).alias("_tot"))
    totals = ranged.groupBy("_pid").agg(*aggs)

    # Cumulative offsets over the tiny totals frame via a triangular self
    # join (strictly-before partitions), NOT a global window: N^2 pairs of an
    # N-row frame is nothing, and the plan stays free of unpartitioned
    # WindowExec by construction.
    before = totals.select(
        F.col("_pid").alias("_bpid"),
        F.col("_cnt").alias("_bcnt"),
        *([F.col("_tot").alias("_btot")] if sum_col is not None else []),
    )
    off_aggs = [F.coalesce(F.sum("_bcnt"), F.lit(0)).alias("_rank_off")]
    if sum_col is not None:
        off_aggs.append(F.sum("_btot").alias("_sum_off"))
    offsets = (
        totals.join(F.broadcast(before), F.col("_bpid") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(*off_aggs)
    )

    # bigint on purpose: _rank_off is a sum of partition counts, so past
    # 2^31 rows a non-ANSI int cast would silently wrap negative — exactly
    # the scale this module exists for (matches the single-window form,
    # whose rank() + bigint offset is also bigint).
    out = local.join(F.broadcast(offsets), "_pid").withColumn(
        "global_rank", (F.col("_lrank") + F.col("_rank_off")).cast("long")
    )
    drop = ["_pid", "_lrank", "_rank_off"]
    if sum_col is not None:
        # SUM OVER (ROWS UNBOUNDED PRECEDING) semantics: NULL only while
        # the ENTIRE prefix has no non-null value. _lsum is NULL when this
        # row's own partition has none so far (e.g. a NULL-measure row
        # opens a partition) — a bare _lsum + offset would poison the
        # carried total to NULL there, diverging from the single-window
        # form (found by the TPC-H NULL edge suite).
        out = out.withColumn(
            "running_total",
            F.when(
                F.col("_lsum").isNull() & F.col("_sum_off").isNull(),
                F.lit(None),
            ).otherwise(
                F.coalesce(F.col("_lsum"), F.lit(0))
                + F.coalesce(F.col("_sum_off"), F.lit(0))
            ),
        )
        drop += ["_lsum", "_sum_off"]
    return out.drop(*drop)


def global_topk(
    df: DataFrame,
    order_cols: list[Column],
    k: int,
    rank_col: str = "global_rank",
) -> DataFrame:
    """Global top-k under a TOTAL order (tie-break to uniqueness!) without
    the full machinery of ``global_rank_running``.

    ``global_rank_running`` exists for FULL rankings (every row keeps a
    rank), which forces a range exchange, a localCheckpoint of the ranged
    frame (the range partitioner resamples per execution) and the
    triangular offsets chain — three extra jobs per call (range sampling,
    checkpoint, offsets) on top of the exchanges. When the caller only
    keeps ``rank <= k`` none of that is needed: prune to the top-k of
    every input partition (lossless for ANY row placement under a total
    order — every global top-k row is top-k of whichever partition holds
    it, the ``topk_per_key`` phase-1 argument with zero key columns), then
    rank the <= k * n_partitions survivors in one bounded single-partition
    window. One hash exchange of the full frame + one bounded exchange of
    survivors; no sampling job, no checkpoint, no offsets. Ranks 1..k are
    identical to ``global_rank_running``'s under the same total order.

    Scale: the survivor frame is k x input-partition-count rows (k <= 50
    at 10k scan partitions = 500k narrow rows), so the single-task final
    window is structurally bounded — this is the standard distributed
    top-k shape, not a data-sized funnel."""
    tag, local_rank = "_gtk_pid", "_gtk_rank"
    while tag in df.columns:
        tag += "_"
    while local_rank in df.columns:
        local_rank += "_"
    # the local rank gets its own temp name: writing it to rank_col would
    # overwrite (and then drop) an input column that order_cols may use
    w_local = W.partitionBy(tag).orderBy(*order_cols)
    survivors = (
        df.withColumn(tag, F.spark_partition_id())
        .withColumn(local_rank, F.row_number().over(w_local))
        .filter(F.col(local_rank) <= k)
        .drop(tag, local_rank)
    )
    # repartition(1) gives SinglePartition, which satisfies the final
    # window's clustering outright — the window adds NO further exchange,
    # and partitioning by the materialized pid column (constant 0 here)
    # keeps the partitionSpec non-empty (no unpartitioned WindowExec, and
    # no foldable literal for the optimizer to fold away).
    final = survivors.repartition(1).withColumn(tag, F.spark_partition_id())
    w = W.partitionBy(tag).orderBy(*order_cols)
    return (
        final
        # bigint to match global_rank_running's rank type exactly
        .withColumn(rank_col, F.row_number().over(w).cast("long"))
        .filter(F.col(rank_col) <= k)
        .drop(tag)
    )


def top1_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    payload_cols: list[str],
    check_order: bool = False,
) -> DataFrame:
    """Per-key argmin under the TOTAL order whose ASCENDING lexicographic
    struct comparison equals the desired ranking (negate a numeric column
    to rank descending) — the k=1 special case of ``topk_per_key``.

    ``topk_per_key`` needs two window exchanges (local prune, global
    re-rank) because general k must keep k rows per key. For k=1 the
    winner is a plain aggregate: ``min(struct(order..., payload...))``,
    which partial-aggregates map-side and shuffles ONE row per (key,
    input partition) — strictly less work and plan surface than the
    window pair, with the identical deterministic result provided
    ``order_cols`` total-order the rows within a key (all call sites
    tiebreak on a unique id) and contain no NULLs (the ANN frames are
    searchable-guarded; labels/counts are non-null by construction).
    Payload fields ride inside the struct AFTER the order fields, so they
    can never influence the comparison before the total order has already
    decided it.

    ``check_order=True`` adds an in-plan guard that fails the job loudly
    if any order value is NULL or NaN (struct-min sorts NULLs FIRST where
    a desc window sorts them last, and min(-x) excludes NaN while
    F.desc(x) selects it — silent divergence from ``topk_per_key``
    otherwise; ADVICE r13). Off by default: the guard costs a branch per
    row, and every current call site is non-null by construction."""
    # collision-proof the internal names (ADVICE r13): a payload column
    # literally named _o0/_o1/... would duplicate a struct field name and
    # make the _t1.<p> extraction ambiguous; a key column named _t1 the
    # same. Extend with underscores until unique, like topk_per_key.
    taken = set(payload_cols)
    otag = "_o"
    while any(f"{otag}{i}" in taken for i in range(len(order_cols))):
        otag += "_"
    t1 = "_t1"
    while t1 in df.columns:
        t1 += "_"
    if check_order:
        # total NULL/NaN test without type introspection: x <> x is true
        # only for NaN (and NULL-safe via the isNull arm)
        order_cols = [
            F.when(
                c.isNull() | (c != c),
                F.raise_error(
                    F.lit(
                        "top1_per_key: NULL/NaN in an order column — the "
                        "struct-min winner would diverge from the window "
                        "form (see docstring)"
                    )
                ),
            ).otherwise(c)
            for c in order_cols
        ]
    s = F.struct(
        *[c.alias(f"{otag}{i}") for i, c in enumerate(order_cols)],
        *[F.col(p).alias(p) for p in payload_cols],
    )
    return df.groupBy(*key_cols).agg(F.min(s).alias(t1)).select(
        *key_cols, *[F.col(f"{t1}.{p}").alias(p) for p in payload_cols]
    )


def topk_per_key(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[Column],
    k: int,
    rank_col: str = "rk",
) -> DataFrame:
    """Per-KEY top-k without the single-task-per-key funnel.

    ``Window.partitionBy(key)`` sorts each key's ENTIRE row set in one
    task — fine when keys are many and small, fatal when a handful of hot
    keys each carry a corpus-sized candidate set (the ANN search shape:
    10 query ids x the whole scored corpus at 100 TB). Classic two-phase
    fix: (1) rank per (key, physical input partition) and keep each
    local top-k — under a TOTAL order every globally-top-k row is also
    top-k of whatever partition holds it, so the prune is lossless for
    ANY row placement (spark_partition_id's nondeterminism cannot change
    the result); (2) re-rank the <= k * n_partitions survivors per key.
    The big frame shuffles once either way — phase 1's exchange hashes on
    (key, pid) instead of key, restoring parallelism; phase 2 exchanges
    survivors only. ``order_cols`` MUST be a total order per key (all
    call sites tiebreak on the neighbor id), or ranks at the k boundary
    would be placement-dependent.
    """
    if rank_col in df.columns:
        # The phase-1 prune drops rank_col, so a pre-existing column of
        # that name would be silently overwritten and lost (or, if
        # order_cols reference it, fail with a confusing ambiguity error
        # downstream). Fail loudly at the call site instead.
        raise ValueError(
            f"topk_per_key: rank_col {rank_col!r} already exists in the "
            f"input frame; pass a different rank_col"
        )
    tag = "_tk_pid"
    while tag in df.columns:
        tag += "_"
    w_local = W.partitionBy(*key_cols, tag).orderBy(*order_cols)
    survivors = (
        df.withColumn(tag, F.spark_partition_id())
        .withColumn(rank_col, F.row_number().over(w_local))
        .filter(F.col(rank_col) <= k)
        .drop(tag, rank_col)
    )
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return survivors.withColumn(rank_col, F.row_number().over(w)).filter(
        F.col(rank_col) <= k
    )
