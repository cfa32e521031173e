"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); the configuration is chosen so
the same code is correct on a multi-executor cluster at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, plan re-opt).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalesces from a high initial number, so queries never hardcode it.
- Arrow enabled so every Pandas-UDF path is vectorized batch transfer.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (and are stable across machines).
"""

from __future__ import annotations

import os
import re
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mapreducefw-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``extra_conf`` entries are applied LAST (they win) — for tools that
    need a static conf the defaults pin, e.g. the shuffle probe enabling
    the UI/REST metrics endpoint."""
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    shuffle_partitions = shuffle_partitions or int(cpus)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # delete a reliable checkpoint's files once its RDD is unreferenced
        # (operators.persist.pin checkpoints each round on a cluster)
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", os.path.join(tempfile.gettempdir(), "mrfw-warehouse")),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def is_local_master(sc: SparkContext) -> bool:
    """True for a single-JVM master (``local``, ``local[N]``, ``local[*]``,
    ``local[N,F]``). ``local-cluster[...]`` starts separate executors, so
    it is a cluster: executor loss and input splits behave as on one."""
    return re.fullmatch(r"local(\[(\d+|\*)(\s*,\s*\d+)?\])?", sc.master) is not None


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable config to an externally provided session.

    The driver harness constructs its own SparkSession and hands it to
    ``entry()``/``queries()``; only runtime-settable confs may be touched here.
    UTC matters for oracle comparison of timestamp-derived strings.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    for k, v in [
        ("spark.sql.adaptive.enabled", "true"),
        # events.parquet stores TIMESTAMP(NANOS); read as long, convert in loader
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # externally built sessions default to 200 shuffle partitions — wrong
        # for local mode; AQE coalesces but the initial number still costs
        ("spark.sql.shuffle.partitions", "32"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; harmless to skip
    return spark
