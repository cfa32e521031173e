"""Table-maintenance operations a 100 TB lakehouse pipeline runs between
queries: small-file compaction and partition-scoped overwrites.

Small files are the classic failure mode of streaming/incremental ingest —
every micro-batch writes a file per task, and a year later the scan spends
longer opening files than reading them. Compaction rewrites a dataset (or a
partition of it) into size-targeted files.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession


def dataset_size_bytes(path: str) -> int:
    """Total bytes under a local dataset path. On a real deployment this
    comes from the catalog / object-store listing, not a filesystem walk."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def recover_compaction(path: str) -> str | None:
    """Repair an interrupted ``compact_parquet`` swap; returns the action
    taken (or None if the dataset is clean).

    The swap is two renames then a cleanup, so a crash leaves exactly one of
    three states, each detectable from the sibling directory names:
    - ``path`` missing + ``{path}__compact_*_old`` present: crashed between
      the renames -> rename the old data back (always safe: _old is the
      complete pre-compaction dataset; the staging dir is re-deletable).
    - both present: crashed during the final rmtree -> finish deleting _old.
    - ``{path}__compact_*`` staging without _old: incomplete write -> delete.
    """
    parent, base = os.path.split(path.rstrip("/"))
    action = None
    olds: list[str] = []
    for entry in sorted(os.listdir(parent or ".")):
        full = os.path.join(parent, entry)
        if entry.startswith(f"{base}__compact_") and entry.endswith("_old"):
            olds.append(full)
        elif entry.startswith(f"{base}__compact_"):
            shutil.rmtree(full)
            action = action or f"removed stale staging {entry}"
    if olds:
        if not os.path.exists(path):
            # normal operation guarantees a single _old candidate; if several
            # survive, restore the NEWEST by mtime (uuid hex sorts in
            # arbitrary vintage order) rather than an arbitrary one
            keep = max(olds, key=os.path.getmtime)
            os.rename(keep, path)
            action = f"restored {os.path.basename(keep)}"
            olds.remove(keep)
        for full in olds:
            shutil.rmtree(full)
            action = action if action and action.startswith("restored") else (
                f"removed orphan {os.path.basename(full)}"
            )
    return action


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    partition_by: list[str] | None = None,
    cluster_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet dataset into ~target-sized files; returns the file
    count written.

    Reads the current data, repartitions to ceil(size/target) and rewrites
    via a staging directory + atomic-ish swap (read-then-overwrite-in-place
    would destroy the input the job is still scanning). The swap is NOT
    atomic — a crash between the two renames leaves the data stranded in
    ``{path}__compact_*_old`` — but it is always recoverable:
    ``recover_compaction`` (run here on entry) deterministically restores or
    cleans up every interruptible state. A transactional table format
    (Delta/Iceberg) replaces the swap with a metadata commit; the compute
    shape — one shuffle sized by the data, not the file count — is the same.
    128 MB targets match common parquet row-group sizing so downstream scans
    split cleanly.

    ``cluster_by`` additionally Z-orders the rewrite (operators/zorder.py):
    the compaction shuffle the job pays anyway becomes a range partition on
    the Morton key of the given columns, so the rewritten files double as a
    multi-dimensional data-skipping layout — the OPTIMIZE ... ZORDER BY
    maintenance verb. Mutually exclusive with ``partition_by`` (hive
    partitioning already fixes the file-to-directory mapping).
    """
    if cluster_by and partition_by:
        raise ValueError("cluster_by and partition_by are mutually exclusive")
    recover_compaction(path)
    n_files = max(1, math.ceil(dataset_size_bytes(path) / target_file_bytes))
    df = spark.read.parquet(path)
    staging = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    if cluster_by:
        from mapreducefw_spark.operators.zorder import zvalue

        shuffled = (
            zvalue(df, cluster_by)
            .repartitionByRange(n_files, "_z")
            .sortWithinPartitions("_z")
            .drop("_z")
        )
    elif partition_by:
        # Cluster rows by their output partition so each hive partition is
        # written by as few tasks as possible. A round-robin repartition(n)
        # here would spread every partition's rows across all n tasks and
        # emit ~n * n_partitions tiny files — the opposite of compaction.
        from pyspark.sql import functions as F

        shuffled = df.repartition(n_files, *[F.col(c) for c in partition_by])
    else:
        shuffled = df.repartition(n_files)
    writer = shuffled.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    old = f"{staging}_old"
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    written = sum(
        1
        for root, _dirs, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )
    return written


def overwrite_partitions(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present in
    ``df``, leaving all other partitions of the dataset untouched — the
    idempotent daily-backfill write. Static overwrite mode (the default)
    would truncate the whole table first."""
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def backfill_days(
    source: DataFrame,
    agg_fn,
    agg_path: str,
    day_col: str,
    changed_days: DataFrame,
) -> int:
    """Incremental backfill: late/corrected source rows arrived for some
    days — recompute ONLY those days' slice of a materialized daily
    aggregate and dynamic-overwrite only those partitions. The batch
    counterpart of the IVM changelog merge for the common case where the
    view is day-partitioned and the delta names its days.

    At 100 TB the two levers compose: the recompute input is a semi-join
    against the (tiny, broadcast) changed-day list — partition-pruned at
    the scan when the source is day-partitioned — and the write replaces
    only the matching partitions (overwrite_partitions), never
    truncating the table. A full nightly recompute scans everything;
    this scans and rewrites O(changed days). Returns the number of days
    backfilled.

    ``agg_fn`` maps a source DataFrame slice to its aggregate rows (must
    be day-local: every output row's ``day_col`` is derived from input
    rows of that same day, which any per-day rollup satisfies)."""
    from pyspark.sql import functions as F  # local: keep module import-light

    days = changed_days.select(day_col).distinct()
    affected = source.join(F.broadcast(days), day_col, "left_semi")
    overwrite_partitions(agg_fn(affected), agg_path, [day_col])
    return days.count()
