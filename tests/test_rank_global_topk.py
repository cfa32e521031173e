"""global_topk (two-phase prune, no range exchange / checkpoint / offsets
chain) must return the exact rows-with-ranks that global_rank_running
filtered to rank <= k returns — the r14 optimization swapped the
retrieval-tier call sites (BM25 top-N, dense top-N, fused RRF top-N)
onto it, so rank-for-rank equality under the same total order is the
correctness contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreducefw_spark.operators.rank import global_rank_running, global_topk


def _fixture(spark):
    # score ties (id tiebreak exercised), negatives, and more rows than k
    # spread over several partitions so the local prune actually prunes
    rows = [(i, float(s)) for i, s in enumerate([5, 3, 5, -1, 0, 7, 3, 3, -4, 2, 7, 1])]
    return spark.createDataFrame(rows, "id int, score double").repartition(4)


def test_global_topk_matches_rank_running_filtered(spark):
    df = _fixture(spark)
    order = [F.desc("score"), F.asc("id")]
    k = 5
    via_full = (
        global_rank_running(df, order)
        .filter(F.col("global_rank") <= k)
        .select("id", "score", "global_rank")
    )
    via_topk = global_topk(df, order, k).select("id", "score", "global_rank")
    assert sorted(map(tuple, via_topk.collect())) == sorted(
        map(tuple, via_full.collect())
    )
    # deterministic expected ranks: 7s (ids 5,10), 5s (0,2), then 3 (id 1)
    got = {r.id: r.global_rank for r in via_topk.collect()}
    assert got == {5: 1, 10: 2, 0: 3, 2: 4, 1: 5}


def test_global_topk_k_exceeds_rows(spark):
    df = _fixture(spark)
    order = [F.asc("score"), F.asc("id")]
    out = global_topk(df, order, 100).collect()
    assert len(out) == 12
    ranks = sorted(r.global_rank for r in out)
    assert ranks == list(range(1, 13))


def test_global_topk_rank_type_is_long(spark):
    df = _fixture(spark)
    out = global_topk(df, [F.asc("id")], 3)
    assert dict(out.dtypes)["global_rank"] == "bigint"


def test_global_topk_no_unpartitioned_window(spark):
    # the scale contract: neither window may have an empty partitionSpec
    import json

    df = global_topk(_fixture(spark), [F.desc("score"), F.asc("id")], 3)
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    bad = [
        n
        for n in nodes
        if n.get("class", "").endswith("logical.Window") and not n.get("partitionSpec")
    ]
    assert not bad


def test_global_topk_name_collision_guard(spark):
    # a pre-existing _gtk_pid column must not be clobbered or reused
    df = _fixture(spark).withColumn("_gtk_pid", F.lit(99))
    out = global_topk(df, [F.asc("id")], 2).collect()
    assert all(r._gtk_pid == 99 for r in out)


def test_global_topk_orders_by_existing_rank_col(spark):
    # order_cols may name an input column called rank_col: the local rank
    # of phase 1 must not overwrite it before phase 2 orders by it
    df = _fixture(spark).withColumnRenamed("score", "global_rank")
    order = [F.desc("global_rank"), F.asc("id")]
    k = 5
    via_full = global_rank_running(df, order).filter(F.col("global_rank") <= k)
    via_topk = global_topk(df, order, k)
    assert sorted(map(tuple, via_topk.select("id", "global_rank").collect())) == sorted(
        map(tuple, via_full.select("id", "global_rank").collect())
    )
    got = {r.id: r.global_rank for r in via_topk.collect()}
    assert got == {5: 1, 10: 2, 0: 3, 2: 4, 1: 5}
