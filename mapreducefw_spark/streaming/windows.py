"""Structured Streaming operators over the events table (SURVEY §7 M5).

File-source streams replaying the bounded events parquet drive the same
windowed aggregations as the batch twins in ``queries/timeseries.py``;
pytest verifies batch-equivalence (SURVEY §5.2 item 4). Watermarks bound
state for unbounded runs — on a real cluster these queries run unchanged
against a Kafka source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducefw_spark.queries._util import t
from mapreducefw_spark.session import tune_session
from mapreducefw_spark.sources.tables import normalize_event_ts, parquet_schema
from mapreducefw_spark.streaming.staging import stage_single_file_dir


def events_stream(spark: SparkSession, sf_dir: str, *, max_files_per_trigger: int = 1) -> DataFrame:
    """readStream over the events parquet with the static schema; normalizes
    ts (nanos-as-long or TIMESTAMP_NTZ) exactly like the batch loader."""
    tune_session(spark)
    src = f"{sf_dir}/events.parquet"
    # FileStreamSource needs a directory; stage a symlink dir over the file
    stage = stage_single_file_dir(src, "mrfw_stream")
    stream = (
        spark.readStream.schema(parquet_schema(spark, src))
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stage)
    )
    return normalize_event_ts(stream)


def tumbling_counts(events: DataFrame, *, length: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total_value")
    )


def sliding_counts(
    events: DataFrame, *, length: str = "1 hour", slide: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", length, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_counts(events: DataFrame, *, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows (gap-based) per user — the streaming twin of the batch
    sessionization query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def run_bounded(stream_df: DataFrame, name: str, *, output_mode: str = "complete") -> DataFrame:
    """Drive a bounded file-source stream to completion into a memory sink;
    returns the sink contents as a batch DataFrame."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
