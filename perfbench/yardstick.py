"""The yardstick: a fixed Spark job that uses none of the program's code.

It runs after every pass, and the end-to-end costs are the pass's CPU time
in multiples of the yardstick's. On a shared host the CPU time of the same
work drifts by 20% and more within minutes with the load that other guests
put on the machine, even when the hypervisor takes no time from this one;
the yardstick's CPU time drifts with it. It has a JVM part (a grouped
aggregate, a join and a window over ``spark.range``), an Arrow round trip
through Python workers (``mapInPandas``) and, for workloads whose
operations run Python code, a Python part (a grouped ``applyInPandas``
and an RDD ``groupByKey``), so that it does the kinds of work the
workload it measures does. It runs with its own shuffle partition count, so
that the program's session settings move it as little as possible.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

JVM_ROUNDS = 3
ARROW_ROWS = 100_000
PY_ROWS = 20_000
PY_GROUPS = 64


def _scale(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame({"v": pdf["v"].to_numpy() * 1.5 + 1.0})


def _summary(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"k": [pdf["k"].iloc[0]], "n": [len(pdf)], "s": [float(pdf["v"].sum())]})


def _emit(x: int) -> list[tuple[int, int]]:
    return [(x % PY_GROUPS, x), (x % 7, 1)]


def run(spark, python: bool) -> None:
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        for _ in range(JVM_ROUNDS):
            a = spark.range(0, 20_000, 1, 4).selectExpr("id % 97 as k", "id", "cast(id as double) * 1.5 as v")
            b = spark.range(97).withColumnRenamed("id", "k").withColumn(
                "name", F.concat(F.lit("n"), F.col("k").cast("string")))
            df = (a.groupBy("k").agg(F.sum("v").alias("s"), F.count("id").alias("c"), F.max("id").alias("m"))
                  .join(b, "k")
                  .withColumn("r", F.rank().over(Window.partitionBy(F.col("k") % 5).orderBy("s"))))
            df.write.format("noop").mode("overwrite").save()
        (spark.range(0, ARROW_ROWS, 1, 4).selectExpr("cast(id as double) as v")
         .mapInPandas(_scale, "v double").write.format("noop").mode("overwrite").save())
        if python:
            (spark.range(0, PY_ROWS, 1, 4).selectExpr(f"id % {PY_GROUPS} as k", "cast(id as double) as v")
             .groupBy("k").applyInPandas(_summary, "k long, n long, s double")
             .write.format("noop").mode("overwrite").save())
            (spark.sparkContext.parallelize(range(PY_ROWS), 4).flatMap(_emit)
             .groupByKey().mapValues(len).collect())
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
