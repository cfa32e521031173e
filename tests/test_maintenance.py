"""Table maintenance (sources/maintenance.py) + runtime-filter plan shape:
small-file compaction, dynamic partition overwrite, bloom-filter join
injection — the between-queries operations of a 100 TB deployment."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from mapreducefw_spark.queries._util import t
from mapreducefw_spark.sources import maintenance


def _parquet_files(path: str) -> list[str]:
    return [f for f in glob.glob(f"{path}/**/*.parquet", recursive=True)]


def test_compaction_reduces_file_count_preserves_data(spark, sf_dir, tmp_path):
    target = str(tmp_path / "frag")
    orders = t(spark, sf_dir, "orders")
    # simulate micro-batch ingest: 64 tiny files
    orders.repartition(64).write.parquet(target)
    assert len(_parquet_files(target)) == 64
    before = orders.count()
    before_sum = orders.agg(F.sum("o_orderkey")).collect()[0][0]

    n = maintenance.compact_parquet(spark, target, target_file_bytes=10 * 1024 * 1024)
    files = _parquet_files(target)
    assert len(files) == n <= 4  # sf0.001 orders is well under 4x10MB
    after = spark.read.parquet(target)
    assert after.count() == before
    assert after.agg(F.sum("o_orderkey")).collect()[0][0] == before_sum


def test_compaction_partitioned_clusters_by_partition_cols(spark, sf_dir, tmp_path):
    """Partitioned compaction must cluster rows by the partition columns
    before the partitionBy write — a round-robin repartition(n) would spread
    every hive partition across all n tasks and emit ~n files per partition
    (amplifying the small-file problem it exists to fix)."""
    target = str(tmp_path / "frag_part")
    orders = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    # micro-batch ingest into a hive-partitioned layout: 16 tasks x P statuses
    orders.repartition(16).write.partitionBy("o_orderstatus").parquet(target)
    n_status = orders.select("o_orderstatus").distinct().count()
    assert len(_parquet_files(target)) > n_status  # genuinely fragmented
    before_sum = orders.agg(F.sum("o_orderkey")).collect()[0][0]

    written = maintenance.compact_parquet(
        spark, target, target_file_bytes=10 * 1024 * 1024,
        partition_by=["o_orderstatus"],
    )
    files = _parquet_files(target)
    # hash-clustered on the partition column: one file per status (the whole
    # sf0.001 table is far below one 10MB target file), and the returned
    # count reports what actually landed on disk
    assert written == len(files) == n_status
    after = spark.read.parquet(target)
    assert after.count() == orders.count()
    assert after.agg(F.sum("o_orderkey")).collect()[0][0] == before_sum


def test_compaction_recovery_restores_interrupted_swap(spark, sf_dir, tmp_path):
    """Every interruptible state of the compaction swap must recover: crash
    between the renames (data only at *_old), crash during the final rmtree
    (both dirs present), and an abandoned staging write."""
    import os
    import shutil

    target = str(tmp_path / "ds")
    orders = t(spark, sf_dir, "orders")
    orders.repartition(4).write.parquet(target)
    n = orders.count()

    # state 1: between the renames — no data at `target`
    os.rename(target, f"{target}__compact_deadbeef_old")
    assert maintenance.recover_compaction(target).startswith("restored")
    assert spark.read.parquet(target).count() == n

    # state 2: crash during rmtree — both present; newer data must win
    shutil.copytree(target, f"{target}__compact_cafe1234_old")
    assert maintenance.recover_compaction(target).startswith("removed orphan")
    assert not os.path.exists(f"{target}__compact_cafe1234_old")
    assert spark.read.parquet(target).count() == n

    # state 3: abandoned staging dir from an interrupted write
    os.makedirs(f"{target}__compact_00000000")
    maintenance.recover_compaction(target)
    assert not os.path.exists(f"{target}__compact_00000000")

    # and a normal compaction still runs clean afterwards
    written = maintenance.compact_parquet(spark, target, target_file_bytes=10 * 1024 * 1024)
    assert written >= 1
    assert spark.read.parquet(target).count() == n


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, sf_dir, tmp_path):
    target = str(tmp_path / "by_status")
    orders = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    orders.write.partitionBy("o_orderstatus").parquet(target)
    statuses = {r.o_orderstatus for r in orders.select("o_orderstatus").distinct().collect()}
    assert len(statuses) > 1
    victim = sorted(statuses)[0]

    # rewrite ONE partition with amended data
    amended = orders.filter(F.col("o_orderstatus") == victim).withColumn(
        "o_totalprice", F.lit(0.0)
    )
    maintenance.overwrite_partitions(amended, target, ["o_orderstatus"])

    out = spark.read.parquet(target)
    assert out.count() == orders.count()  # nothing lost
    zeroed = out.filter(F.col("o_orderstatus") == victim)
    assert zeroed.agg(F.max("o_totalprice")).collect()[0][0] == 0.0
    untouched = out.filter(F.col("o_orderstatus") != victim)
    orig_sum = (
        orders.filter(F.col("o_orderstatus") != victim)
        .agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)")))
        .collect()[0][0]
    )
    assert (
        untouched.agg(F.sum(F.col("o_totalprice").cast("decimal(12,2)"))).collect()[0][0]
        == orig_sum
    )


def test_runtime_bloom_filter_prunes_fact_side(spark, tmp_path):
    """Runtime filtering: a selective dimension filter becomes a bloom filter
    applied to the fact side BEFORE the join shuffle — Spark's dynamic
    answer to semi-join pushdown at 100 TB. Written to parquet first:
    injection needs a file-scan application side."""
    sf_dir = "/root/testdata/sf0.01"
    li_path, o_path = str(tmp_path / "li"), str(tmp_path / "o")
    t(spark, sf_dir, "lineitem").write.parquet(li_path)
    t(spark, sf_dir, "orders").write.parquet(o_path)
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(li_path)
        orders = spark.read.parquet(o_path).filter(F.col("o_totalprice") > 400000)
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_totalprice"
        )
        rows = j.collect()
        assert rows  # join is non-empty, so the bloom path actually ran
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        # conf.get(k, None) returns None for keys never explicitly set (the
        # fallback wins over the built-in default), so "restore only if not
        # None" silently leaked autoBroadcastJoinThreshold=-1 to every later
        # test in the session — unset() returns the key to its real default
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_compaction_recovery_restores_newest_of_multiple_old_dirs(spark, sf_dir, tmp_path):
    """With several *_old candidates and the target missing (a doubly
    interrupted history), the NEWEST by mtime must be restored — uuid hex
    sorts in arbitrary vintage order, so lexicographic choice would revive
    an arbitrary dataset."""
    import os
    import shutil
    import time as _time

    target = str(tmp_path / "ds2")
    orders = t(spark, sf_dir, "orders")
    # older vintage: 100 rows; newer vintage: full table
    orders.limit(100).write.parquet(f"{target}__compact_ffffffff_old")
    _time.sleep(0.05)
    orders.write.parquet(f"{target}__compact_00000000_old")
    os.utime(
        f"{target}__compact_00000000_old", None
    )  # newest mtime despite sorting first
    action = maintenance.recover_compaction(target)
    assert action.startswith("restored") and "00000000" in action, action
    assert spark.read.parquet(target).count() == orders.count()
    assert not os.path.exists(f"{target}__compact_ffffffff_old")


def test_compaction_with_zorder_clustering(spark, tmp_path):
    """compact_parquet(cluster_by=...) makes the compaction shuffle double
    as an OPTIMIZE ZORDER: data survives exactly, and the rewritten files'
    parquet min/max stats prune a 2-d box far better than the pre-compaction
    layout."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mapreducefw_spark.sources.maintenance import compact_parquet

    path = str(tmp_path / "orders_ds")
    od = spark.read.parquet("/root/testdata/sf0.01/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    od.repartition(64).write.parquet(path)  # unclustered many-file layout
    before = sorted(map(tuple, spark.read.parquet(path).collect()))

    n = compact_parquet(
        spark, path, target_file_bytes=4 * 1024, cluster_by=["o_custkey", "o_totalprice"]
    )
    assert n > 8  # small target -> several files, so stats have resolution
    after = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert after == before

    m = od.agg(
        F.min("o_custkey"), F.max("o_custkey"), F.min("o_totalprice"), F.max("o_totalprice")
    ).collect()[0]
    cmin, cmax, pmin, pmax = m
    clo, chi = cmin + (cmax - cmin) * 7 // 16, cmin + (cmax - cmin) * 9 // 16
    plo, phi = pmin + (pmax - pmin) * 7 / 16, pmin + (pmax - pmin) * 9 / 16
    eligible = total = 0
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        ic, ip = names.index("o_custkey"), names.index("o_totalprice")
        total += 1
        for rg in range(md.num_row_groups):
            sc, sp = md.row_group(rg).column(ic).statistics, md.row_group(rg).column(ip).statistics
            if sc.min <= chi and sc.max >= clo and sp.min <= phi and sp.max >= plo:
                eligible += 1
                break
    # random 64-file layout: every file intersects the box; clustered: few do
    assert eligible <= total // 2, (eligible, total)


def test_backfill_days_equals_full_recompute(spark, sf_dir, tmp_path):
    """Late data for two days -> backfill_days recomputes ONLY those
    partitions, and the resulting materialized aggregate equals a full
    recompute over the corrected source; untouched partitions keep their
    original files (mtime-stable), proving the write really was partial."""
    import os

    from mapreducefw_spark.sources.maintenance import backfill_days

    agg_path = str(tmp_path / "daily_agg")
    ev = t(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    days = sorted(r.day for r in ev.select("day").distinct().collect())
    late_days = days[3:5]

    def agg_fn(df):
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("total"),
        )

    # initial build is missing the late rows (half of each late day's events)
    late = ev.filter(F.col("day").isin(late_days) & (F.col("event_id") % 2 == 0))
    base = ev.exceptAll(late)
    agg_fn(base).write.partitionBy("day").parquet(agg_path)
    untouched = {
        d: sorted(os.listdir(os.path.join(agg_path, f"day={d}")))
        for d in days
        if d not in late_days
    }

    n = backfill_days(base.unionByName(late), agg_fn, agg_path, "day", late)
    assert n == len(late_days)

    # partition-column type inference reads day= back as DATE; normalize
    cols = [F.col("day").cast("string").alias("day"), "event_type", "n", "total"]
    got = sorted(map(tuple, spark.read.parquet(agg_path).select(cols).collect()))
    want = sorted(map(tuple, agg_fn(ev).select(cols).collect()))
    assert got == want
    for d, files in untouched.items():
        assert sorted(os.listdir(os.path.join(agg_path, f"day={d}"))) == files
