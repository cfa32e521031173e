"""Scale-gated materialize-once barrier.

``localCheckpoint`` truncates lineage onto NON-REPLICATED executor-local
storage: perfect in ``local[N]`` (one process, nothing to lose), but on a
real cluster an executor loss makes the pinned partitions unrecoverable
and fails the job — the wrong default for corpus-sized frames at 100 TB
(guide §5: localCheckpoint is for intermediates whose fault tolerance is
"not critical"; a corpus-sized pin feeding a multi-hour query is
critical). ``pin`` keeps the local-mode behavior bit-identical and
upgrades the posture only where it matters:

- local master (``session.is_local_master``: ``local[N]``; a
  ``local-cluster[...]`` master has real executors and counts as a
  cluster) -> ``localCheckpoint`` (the measured fixture path, no
  change to any bench plan or timing);
- cluster master WITH a configured checkpoint dir -> reliable
  ``checkpoint`` (HDFS/object-store replicated; survives executor loss).
  The frame is persisted first: Spark writes a reliable checkpoint with a
  job of its own after the first action, and without the cache that job
  recomputes the whole lineage. An eager pin unpersists once the files
  are written; a lazy one stays cached until ``unpersist``,
  ``spark.catalog.clearCache()`` or eviction. ``get_spark`` enables
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` so a superseded
  round's checkpoint files are deleted once nothing references them;
- cluster master WITHOUT one -> ``localCheckpoint`` with the
  accept-recompute caveat documented here: the operator still works, but
  an executor loss costs a full query retry instead of a task retry.
  Deployments that cannot accept that must set
  ``spark.sparkContext.setCheckpointDir(...)``.

Call sites: the corpus-sized pins (normalized embedding corpora, the
iterative dedup/LPA label loops and their edge frames). Bounded or
model-sized pins (top-k survivor frames, codebooks, grid tables) keep
plain ``localCheckpoint`` — losing and recomputing those is cheap by
construction, and a reliable checkpoint would pay a cluster-storage
round trip for nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mapreducefw_spark.session import is_local_master


def pin(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Materialize ``df`` once and truncate lineage, with storage chosen
    by deployment (see module docstring). Values/rows are identical on
    every path — only the resilience of the materialized copy differs."""
    sc = df.sparkSession.sparkContext
    if not is_local_master(sc) and sc.getCheckpointDir() is not None:
        out = df.persist().checkpoint(eager=eager)
        if eager:
            df.unpersist()
        return out
    return df.localCheckpoint(eager=eager)
