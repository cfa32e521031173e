"""Scale-posture features: bucketed co-located joins, salted aggregation
invariance, partition-count independence (SURVEY §7 M6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreducefw_spark.operators.skew import salted_sum_count
from mapreducefw_spark.queries._util import t


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """bucketBy + saveAsTable: a join on the bucket key must not add an
    Exchange on either side."""
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in ["b_orders", "b_lineitem"]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(f"{wh}/{name}", ignore_errors=True)
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(
        "b_orders"
    )
    li.withColumnRenamed("l_orderkey", "o_orderkey").write.mode("overwrite").bucketBy(
        8, "o_orderkey"
    ).saveAsTable("b_lineitem")
    # force the sort-merge path: tiny fixtures otherwise go broadcast, and the
    # planner then disables bucketing entirely
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan  # co-located: no shuffle
        assert "Bucketed: true" in plan, plan
        assert joined.count() == li.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_aqe_skew_join_splits_heavy_partition(spark):
    """Skewed-join posture beyond salting: a heavy-hitter key (90% of the left
    side) under AQE must get its oversized shuffle partition SPLIT — the final
    adaptive plan marks the join skew=true. Thresholds are lowered so the
    fixture-scale skew crosses them; on a real cluster the defaults (256MB,
    factor 5) do the same against genuinely heavy keys."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle path
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # payload column is a hash (incompressible): skew detection reads
        # COMPRESSED shuffle-partition bytes, and a constant-key partition of
        # bare longs squeezes under any realistic threshold
        left = spark.range(0, 60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.xxhash64("id").alias("v"),
        )
        right = spark.range(0, 1_000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
        joined = left.join(right, "k").select("k", "v", "w")
        rows = joined.collect()  # executes THIS queryExecution -> final AQE plan
        # k=0: 54k left rows match right k=0; k=id (ids 9,19,...): only the
        # 100 ids below 1000 find a right-side match
        assert len(rows) == 54_000 + 100
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan, plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_salted_aggregate_matches_plain(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    salted = {
        (r.l_returnflag): (round(r.total, 4), r.n)
        for r in salted_sum_count(li, ["l_returnflag"], "l_quantity", salt=8).collect()
    }
    plain = {
        (r.l_returnflag): (round(r.total, 4), r.n)
        for r in li.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("total"), F.count("l_quantity").alias("n"))
        .collect()
    }
    assert salted == plain


def test_salted_aggregate_partition_invariant(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    a = sorted(
        (r.l_returnflag, round(r.total, 4), r.n)
        for r in salted_sum_count(li.repartition(3), ["l_returnflag"], "l_quantity").collect()
    )
    b = sorted(
        (r.l_returnflag, round(r.total, 4), r.n)
        for r in salted_sum_count(li.repartition(17), ["l_returnflag"], "l_quantity").collect()
    )
    assert a == b


def _partition_sizes(df):
    return df.rdd.glom().map(len).collect()


def test_ensure_parallelism_spreads_upstream_coalesce(spark, sf_dir):
    """A coalesce(1) frame comes back with one non-empty partition per
    local core."""
    from mapreducefw_spark.operators.textprep import ensure_parallelism

    squeezed = t(spark, sf_dir, "documents").coalesce(1)
    sizes = _partition_sizes(ensure_parallelism(squeezed))
    assert len(sizes) == spark.sparkContext.defaultParallelism
    assert min(sizes) > 0, sizes


def test_ensure_parallelism_spreads_lumped_partitions(spark):
    """Eight partitions with every row in one are still spread: the input's
    partition count says nothing about where its rows are."""
    from mapreducefw_spark.operators.textprep import ensure_parallelism

    lumped = spark.range(500).repartition(8, F.lit(0))
    assert sorted(_partition_sizes(lumped))[-2:] == [0, 500]
    sizes = _partition_sizes(ensure_parallelism(lumped))
    assert sum(sizes) == 500
    assert sum(1 for n in sizes if n) >= 2, sizes


def test_ensure_parallelism_idempotent_no_double_shuffle(spark, sf_dir):
    """A second call across a filter and a projection adds no second
    exchange."""
    from mapreducefw_spark.operators.textprep import ensure_parallelism

    once = ensure_parallelism(t(spark, sf_dir, "documents").coalesce(1))
    twice = ensure_parallelism(once.filter(F.col("doc_id") > 0).select("doc_id", "text"))
    plan = twice._jdf.queryExecution().executedPlan().toString()
    # an executed AQE plan prints its final plan above the initial one
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange") == 1, plan


@pytest.mark.parametrize(
    "master,cores", [("local-cluster[2,1,1024]", 4), ("local[1]", 1), ("local", 1)]
)
def test_ensure_parallelism_passes_through(spark, sf_dir, monkeypatch, master, cores):
    """A cluster master and a one-core local master get the frame back
    unchanged."""
    from mapreducefw_spark.operators.textprep import ensure_parallelism

    sc = spark.sparkContext
    monkeypatch.setattr(sc, "master", master)
    monkeypatch.setattr(type(sc), "defaultParallelism", cores)
    df = t(spark, sf_dir, "documents")
    assert ensure_parallelism(df) is df


def test_global_rank_two_phase_equals_window_form(spark, sf_dir):
    """The range-partitioned rank must agree with the single-window rank for
    every partition count (1, a non-divisor, the default) — offsets, partition
    boundaries, and empty partitions included."""
    from mapreducefw_spark.operators.rank import global_rank_running
    from pyspark.sql import Window as W

    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    li = li.withColumn("uid", F.col("l_orderkey") * 10 + F.col("l_linenumber"))
    w = W.orderBy(F.desc("l_extendedprice"), "uid")
    expected = {
        r.uid: (r.rk, round(r.rt, 2))
        for r in li.select(
            "uid",
            F.row_number().over(w).alias("rk"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            ).cast("double").alias("rt"),
        ).collect()
    }
    for n in (1, 7, None):
        got = {
            r.uid: (r.global_rank, round(float(r.running_total), 2))
            for r in global_rank_running(
                li,
                [F.desc("l_extendedprice"), F.col("uid")],
                sum_col=F.col("l_extendedprice").cast("decimal(18,2)"),
                num_parts=n,
            ).collect()
        }
        assert got == expected, f"num_parts={n}"


def test_zorder_layout_skips_files_on_2d_box(spark, tmp_path):
    """Z-order clustering (operators/zorder.py) vs single-column sorts,
    judged by the thing readers actually prune on: parquet min/max
    statistics. For a box predicate on BOTH columns, the stats-eligible
    file set of the Morton layout must be well under either single-column
    layout's (measured: 11 vs 32-34 of 256 files at sf0.01), and the
    written data must round-trip exactly."""
    import glob

    import pyarrow.parquet as pq

    from mapreducefw_spark.operators import zorder

    od = t(spark, "/root/testdata/sf0.01", "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base = str(tmp_path)
    n_files = 256
    od.repartitionByRange(n_files, "o_totalprice").sortWithinPartitions(
        "o_totalprice"
    ).write.parquet(f"{base}/by_price")
    od.repartitionByRange(n_files, "o_custkey").sortWithinPartitions(
        "o_custkey"
    ).write.parquet(f"{base}/by_cust")
    zorder.write_zordered(
        od, f"{base}/zord", ["o_custkey", "o_totalprice"], n_files=n_files
    )

    m = od.agg(
        F.min("o_custkey"), F.max("o_custkey"),
        F.min("o_totalprice"), F.max("o_totalprice"),
    ).collect()[0]
    cmin, cmax, pmin, pmax = m
    clo, chi = cmin + (cmax - cmin) * 7 // 16, cmin + (cmax - cmin) * 9 // 16
    plo, phi = pmin + (pmax - pmin) * 7 / 16, pmin + (pmax - pmin) * 9 / 16

    def eligible_files(d: str) -> int:
        n = 0
        for f in glob.glob(f"{d}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            names = md.schema.names
            ic, ip = names.index("o_custkey"), names.index("o_totalprice")
            for rg in range(md.num_row_groups):
                sc = md.row_group(rg).column(ic).statistics
                sp = md.row_group(rg).column(ip).statistics
                if sc.min <= chi and sc.max >= clo and sp.min <= phi and sp.max >= plo:
                    n += 1
                    break
        return n

    z = eligible_files(f"{base}/zord")
    single = min(eligible_files(f"{base}/by_price"), eligible_files(f"{base}/by_cust"))
    assert 2 * z <= single, f"zorder {z} files vs best single-column {single}"
    got = sorted(map(tuple, spark.read.parquet(f"{base}/zord").collect()))
    want = sorted(map(tuple, od.collect()))
    assert got == want


def test_table_column_stats_nulls_and_mcv_ties(spark):
    """ANALYZE stats (operators/stats.py): nulls counted but excluded from
    ndv/min/max/MCV; MCV ties break toward the smallest value; an all-null
    column reports ndv 0 with NULL mcv."""
    from mapreducefw_spark.operators.stats import table_column_stats

    rows = [
        (1, 5, None),
        (1, 5, None),
        (2, 7, None),
        (None, 7, None),
    ]
    df = spark.createDataFrame(rows, "a int, b int, c int")
    got = {r.column: r for r in table_column_stats(df, ["a", "b", "c"]).collect()}
    a = got["a"]
    assert (a.n_rows, a.n_null, a.ndv, a.min_v, a.max_v, a.mcv, a.mcv_n) == (
        4, 1, 2, 1, 2, 1, 2
    )
    b = got["b"]  # 5 and 7 both appear twice -> tie breaks to smaller value
    assert (b.n_null, b.ndv, b.mcv, b.mcv_n) == (0, 2, 5, 2)
    c = got["c"]
    assert (c.n_rows, c.n_null, c.ndv, c.mcv, c.mcv_n) == (4, 4, 0, None, None)


def test_quality_rules_count_actual_violations(spark):
    """Every rule type fires and counts exactly (operators/quality.py):
    nulls, duplicate keys (excess-row counting), rejected values,
    out-of-range, FK misses — and NULL keys are not FK/range violations."""
    from mapreducefw_spark.operators.quality import Rules

    fact = spark.createDataFrame(
        [
            (1, 10, "O", 5.0),
            (1, 10, "O", 5.0),      # duplicate orderkey (1 excess row)
            (2, None, "F", -1.0),   # null custkey; out-of-range price
            (3, 99, "X", 3.0),      # FK miss (99); rejected status X
            (4, 11, "P", 7.0),
        ],
        "k int, cust int, status string, price double",
    )
    dim = spark.createDataFrame([(10,), (11,)], "c int")
    got = dict(
        (r.rule, r.n_violations)
        for r in (
            Rules()
            .not_null("cust")
            .unique(["k"])
            .accepted_values("status", ["O", "F", "P"])
            .in_range("price", 0, 10)
            .foreign_key("cust", dim, "c")
            .report(fact)
            .collect()
        )
    )
    assert got == {
        "not_null(cust)": 1,
        "unique(k)": 1,
        "accepted_values(status)": 1,
        "in_range(price,0,10)": 1,
        "foreign_key(cust)": 1,
    }, got


def test_runtime_bloom_filter_prunes_fact_scan(spark, sf_dir):
    """Spark's runtime bloom-filter join pruning: a selective dim-side
    filter injects a might_contain() predicate on the fact side BEFORE the
    shuffle, so at 100 TB the fact rows that can't join are dropped at the
    scan instead of being shuffled. Pinned with thresholds lowered to
    fixture scale (production defaults: 10 GB application side / 10 MB
    creation side) and broadcast disabled so the shuffle join actually
    needs the filter; results must be identical with the feature off."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    saved["spark.sql.optimizer.runtime.bloomFilter.enabled"] = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
    )

    def build():
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        with_filter = build()
        plan = with_filter._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan
        rows_on = {(r.o_orderpriority, r.n) for r in with_filter.collect()}

        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        without = build()
        plan_off = without._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" not in plan_off
        assert rows_on == {(r.o_orderpriority, r.n) for r in without.collect()}
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_funnel_staged_equals_fold_on_fixture(spark, sf_dir):
    """funnel_stage_per_user_staged (array-free scale path) must agree with
    the collect_list fold form on real data — the two are the same
    staged-min semantics by construction."""
    from mapreducefw_spark.operators.funnel import (
        funnel_stage_per_user,
        funnel_stage_per_user_staged,
    )

    ev = t(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    fold = {r.user_id: r.stage for r in funnel_stage_per_user(ev, steps).collect()}
    staged = {
        r.user_id: r.stage for r in funnel_stage_per_user_staged(ev, steps).collect()
    }
    assert fold == staged and len(fold) > 0


def test_funnel_empty_steps_raises_in_both_variants(spark, sf_dir):
    """ADVICE r6: steps=[] used to crash the staged form (F.greatest with a
    single arg) while the fold form silently returned stage 0 — the two
    variants must stay behavior-identical, so both now raise."""
    import pytest as _pytest

    from mapreducefw_spark.operators.funnel import (
        funnel_stage_per_user,
        funnel_stage_per_user_staged,
    )

    ev = t(spark, sf_dir, "events")
    with _pytest.raises(ValueError, match="non-empty"):
        funnel_stage_per_user(ev, [])
    with _pytest.raises(ValueError, match="non-empty"):
        funnel_stage_per_user_staged(ev, [])


def test_funnel_hot_user_and_adversarial_order(spark):
    """Hot-user case (one user with thousands of qualifying events) plus the
    adversarial orderings that break naive first-N-per-type capping: a
    click BEFORE the first view must not count, and the qualifying click
    may be arbitrarily deep in that user's click history."""
    from datetime import datetime, timedelta

    from mapreducefw_spark.operators.funnel import (
        funnel_stage_per_user,
        funnel_stage_per_user_staged,
    )

    base = datetime(2024, 1, 1)
    rows = []
    # hot user 1: 5000 clicks BEFORE the first view, then view, then one
    # click, then purchase -> stage 3; the qualifying click is the 5001st
    for i in range(5000):
        rows.append((1, base + timedelta(seconds=i), "click"))
    rows += [
        (1, base + timedelta(seconds=6000), "view"),
        (1, base + timedelta(seconds=7000), "click"),
        (1, base + timedelta(seconds=8000), "purchase"),
    ]
    # user 2: click only before view -> stage 1 (view accepted, click not)
    rows += [
        (2, base, "click"),
        (2, base + timedelta(seconds=1), "view"),
    ]
    # user 3: same-timestamp view+click -> strict inequality, stage 1
    rows += [(3, base, "view"), (3, base, "click")]
    # user 4: purchase-only -> stage 0
    rows += [(4, base, "purchase")]
    # NULL user: the fold groups NULL like any key (view then click ->
    # stage 2); the staged form must match via null-safe joins
    rows += [
        (None, base, "view"),
        (None, base + timedelta(seconds=1), "click"),
    ]
    ev = spark.createDataFrame(rows, "user_id bigint, ts timestamp, event_type string")
    steps = ["view", "click", "purchase"]
    expected = {1: 3, 2: 1, 3: 1, 4: 0, None: 2}
    fold = {r.user_id: r.stage for r in funnel_stage_per_user(ev, steps).collect()}
    staged = {
        r.user_id: r.stage for r in funnel_stage_per_user_staged(ev, steps).collect()
    }
    assert fold == expected
    assert staged == expected


def test_funnel_staged_equals_fold_random_streams(spark_global):
    """Hypothesis: fold == staged on random event streams — duplicate
    timestamps, shuffled order, missing stages, repeated types, multiple
    users (incl. user 0), everything the fixed cases don't enumerate."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from mapreducefw_spark.operators.funnel import (
        funnel_stage_per_user,
        funnel_stage_per_user_staged,
    )

    events = st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=20),  # second offset
            st.sampled_from(["view", "click", "purchase", "error"]),
        ),
        min_size=1,
        max_size=25,
    )

    @settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
    @given(rows=events)
    def inner(rows):
        from datetime import datetime, timedelta

        base = datetime(2024, 1, 1)
        df = spark_global.createDataFrame(
            [(u, base + timedelta(seconds=s), ty) for u, s, ty in rows],
            "user_id bigint, ts timestamp, event_type string",
        )
        steps = ["view", "click", "purchase"]
        fold = {r.user_id: r.stage for r in funnel_stage_per_user(df, steps).collect()}
        staged = {
            r.user_id: r.stage
            for r in funnel_stage_per_user_staged(df, steps).collect()
        }
        assert fold == staged

    inner()


def test_asof_tolerance_boundary(spark, tmp_path):
    """Tolerance boundary pin: an order exactly 30 days before the event
    matches (gap <= 30); 31 days stale returns NULLs; an event with no
    prior order at all returns NULLs; a user absent from orders survives
    with NULLs (LEFT semantics)."""
    from datetime import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from mapreducefw_spark.queries import QUERIES, load_all

    load_all()
    d = tmp_path / "asof_edge"
    d.mkdir()
    ev_rows = [
        # event_id, ts, user_id
        (1, datetime(2024, 3, 31), 1),  # order 30 days earlier -> match
        (2, datetime(2024, 4, 1), 2),   # order 31 days earlier -> NULL
        (3, datetime(2024, 2, 1), 3),   # order AFTER event -> NULL
        (4, datetime(2024, 3, 1), 4),   # user has no orders -> NULL
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([r[0] for r in ev_rows], pa.int64()),
                "ts": pa.array([r[1] for r in ev_rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in ev_rows], pa.int64()),
                "event_type": pa.array(["view"] * 4, pa.string()),
                "value": pa.array([1.0] * 4, pa.float64()),
                "props": pa.array(["{}"] * 4, pa.string()),
            }
        ),
        str(d / "events.parquet"),
    )
    ord_rows = [
        (10, 1, datetime(2024, 3, 1)),
        (11, 2, datetime(2024, 3, 1)),
        (12, 3, datetime(2024, 2, 15)),
    ]
    pq.write_table(
        pa.table(
            {
                "o_orderkey": pa.array([r[0] for r in ord_rows], pa.int64()),
                "o_custkey": pa.array([r[1] for r in ord_rows], pa.int64()),
                "o_orderstatus": pa.array(["O"] * 3, pa.string()),
                "o_totalprice": pa.array([1.0] * 3, pa.float64()),
                "o_orderdate": pa.array([r[2] for r in ord_rows], pa.timestamp("us")),
                "o_orderpriority": pa.array(["1-URGENT"] * 3, pa.string()),
            }
        ),
        str(d / "orders.parquet"),
    )
    got = {
        r.event_id: (r.last_orderkey, r.days_gap)
        for r in QUERIES["asof_tolerance_join"](spark, str(d)).collect()
    }
    assert got == {
        1: (10, 30),
        2: (None, None),
        3: (None, None),
        4: (None, None),
    }


def test_topk_per_key_rejects_rank_col_collision(spark):
    from pyspark.sql import functions as F

    from mapreducefw_spark.operators.rank import topk_per_key

    df = spark.createDataFrame([(1, 2, 3)], "k int, v int, rk int")
    with pytest.raises(ValueError, match="rank_col 'rk' already exists"):
        topk_per_key(df, ["k"], [F.desc("v")], 1)
    # a non-colliding rank_col works on the same frame
    out = topk_per_key(df, ["k"], [F.desc("v")], 1, rank_col="_r")
    assert out.columns == ["k", "v", "rk", "_r"] and out.count() == 1


def test_dedup_groups_unconverged_cap_warns_and_raises(spark):
    import warnings

    from mapreducefw_spark.operators.dedup import dedup_groups

    # a 6-node path graph has diameter 5: max_iters=1 cannot converge
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "doc_a bigint, doc_b bigint"
    )
    with pytest.raises(RuntimeError, match="UNCONVERGED"):
        dedup_groups(chain, max_iters=1, on_cap="raise").collect()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup_groups(chain, max_iters=1).count()
    assert any("UNCONVERGED" in str(w.message) for w in caught)
    # converged runs stay silent and correct regardless of on_cap
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        groups = {
            r.doc: r.group_id
            for r in dedup_groups(chain, on_cap="raise").collect()
        }
    assert groups == {i: 0 for i in range(6)}
    assert not any("UNCONVERGED" in str(w.message) for w in caught)
    with pytest.raises(ValueError, match="bad on_cap"):
        dedup_groups(chain, on_cap="explode")
