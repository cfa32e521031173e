"""``sources.tables`` infers each Parquet schema once per file version and
type-mapping confs, and reads every load with it: a repeat load runs no
Spark job, a rewritten file or a changed conf infers again, and every load
is still a fresh frame."""

from __future__ import annotations

import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from mapreducefw_spark.queries._util import t
from mapreducefw_spark.sources import tables
from mapreducefw_spark.streaming.windows import events_stream

NANOS = "spark.sql.legacy.parquet.nanosAsLong"
NTZ = "spark.sql.parquet.inferTimestampNTZ.enabled"


def jobs_during(spark, fn):
    """``fn()`` and the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture
def restore_conf(spark):
    """Put the session's type-mapping confs back after a test toggles them."""
    saved = {k: spark.conf.get(k, None) for k in (NANOS, NTZ)}
    yield
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_repeat_load_runs_no_job(spark, tmp_path):
    pq.write_table(pa.table({"o_orderkey": [1, 2, 3], "o_comment": ["a", "b", "c"]}), tmp_path / "orders.parquet")
    first, n_first = jobs_during(spark, lambda: tables.table(spark, str(tmp_path), "orders"))
    again, n_again = jobs_during(spark, lambda: tables.table(spark, str(tmp_path), "orders"))
    assert n_first >= 1  # the inference job, so the tracker sees jobs here
    assert n_again == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "orders.parquet"
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), path)
    assert tables.table(spark, str(tmp_path), "orders").columns == ["a", "b"]
    pq.write_table(pa.table({"a": [2], "c": [1.5], "d": [True]}), path)
    df = tables.table(spark, str(tmp_path), "orders")
    assert df.dtypes == [("a", "bigint"), ("c", "double"), ("d", "boolean")]
    assert [tuple(r) for r in df.collect()] == [(2, 1.5, True)]


def test_changed_type_conf_is_inferred_again(spark, tmp_path, restore_conf):
    """Each setting gives what an uncached read gives: nanos read as long, or
    the error Spark raises without ``nanosAsLong``; microsecond wall clocks
    read as TIMESTAMP_NTZ or as TIMESTAMP."""
    nanos, micros = str(tmp_path / "ns.parquet"), str(tmp_path / "us.parquet")
    pq.write_table(pa.table({"ts": pa.array([10**18], pa.timestamp("ns"))}), nanos)
    pq.write_table(pa.table({"ts": pa.array([10**15], pa.timestamp("us"))}), micros)

    spark.conf.set(NANOS, "true")
    assert tables.parquet_schema(spark, nanos)["ts"].dataType.typeName() == "long"
    spark.conf.set(NANOS, "false")
    with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
        tables.parquet_schema(spark, nanos)
    spark.conf.set(NANOS, "true")
    assert tables.parquet_schema(spark, nanos)["ts"].dataType.typeName() == "long"

    for ntz, expected in (("true", "timestamp_ntz"), ("false", "timestamp"), ("true", "timestamp_ntz")):
        spark.conf.set(NTZ, ntz)
        assert tables.parquet_schema(spark, micros) == spark.read.parquet(micros).schema
        assert tables.parquet_schema(spark, micros)["ts"].dataType.typeName() == expected


def test_loads_self_join_without_ambiguity(spark, sf_dir):
    """Two loads are two frames: columns bound to each side resolve to that
    side, as with two uncached reads (the cache holds no DataFrame)."""

    def pairs(a, b):
        same_order = a["l_orderkey"] == b["l_orderkey"]
        return (
            a.join(b, same_order).count(),
            a.join(b, same_order & (a["l_linenumber"] < b["l_linenumber"])).count(),
        )

    path = f"{sf_dir}/lineitem.parquet"
    expected = pairs(spark.read.parquet(path), spark.read.parquet(path))
    assert expected[1] > 0
    assert pairs(t(spark, sf_dir, "lineitem"), t(spark, sf_dir, "lineitem")) == expected


def test_stream_shares_the_batch_schema(spark, sf_dir):
    batch = t(spark, sf_dir, "events")
    stream, n_jobs = jobs_during(spark, lambda: events_stream(spark, sf_dir))
    assert n_jobs == 0
    assert stream.schema == batch.schema


def test_memo_is_bounded(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_SCHEMA_CACHE", {})
    monkeypatch.setattr(tables, "_SCHEMA_CACHE_MAX", 2)
    for i in range(5):
        pq.write_table(pa.table({f"c{i}": [i]}), tmp_path / f"t{i}.parquet")
        tables.table(spark, str(tmp_path), f"t{i}")
        assert len(tables._SCHEMA_CACHE) <= 2
    _, n_jobs = jobs_during(spark, lambda: tables.table(spark, str(tmp_path), "t4"))
    assert n_jobs == 0
