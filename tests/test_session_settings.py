"""The two set-up costs ``get_spark`` turns off: recompiling generated code
a session already compiled, and capturing the Python call site of every
``functions.*`` / ``Column`` call."""

from __future__ import annotations

from pyspark.errors import utils as error_utils
from pyspark.sql import functions as F

from bench import codegen_compiles, time_queries
from mapreducefw_spark.queries import load_all


def test_generated_classes_outlive_spark_default_cache(spark):
    # an integer literal is inlined into the generated Java source, so each
    # k compiles its own classes: 150 projections overflow Spark's default
    # cache of 100 entries and would evict the first ones
    def project(k: int):
        return spark.range(4).select((F.col("id") * k).alias("x")).collect()

    for k in range(150):
        project(10_000 + k)
    before = codegen_compiles(spark)
    assert project(10_000) == [(0,), (10_000,), (20_000,), (30_000,)]
    assert codegen_compiles(spark) == before


def test_bench_records_compiles_per_pass(spark, sf_dir):
    load_all()
    compiles: list[int] = []
    times, totals = time_queries(spark, sf_dir, ["q1_pricing_summary"], passes=2, compiles=compiles)
    assert set(times) == {"q1_pricing_summary"} and len(totals) == 2
    # the warm-up compiled the query's classes; the timed passes reuse them
    assert compiles == [0, 0]


def test_call_site_capture_is_off(spark):
    # PySpark memoizes the setting per process; read it from the session
    error_utils._enable_debugging_cache = None
    assert not error_utils.is_debugging_enabled()

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = 0

    def counting_send(*args, **kwargs):
        nonlocal calls
        calls += 1
        return send(*args, **kwargs)

    client.send_command = counting_send
    try:
        F.col("a").cast("double") + F.lit(1)
    finally:
        client.send_command = send
    # four Column calls: 8 round trips on PySpark 4.1, 68 with capture on
    assert calls <= 20
