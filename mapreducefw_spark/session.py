"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); the configuration is chosen so
the same code is correct on a multi-executor cluster at 100 TB:

- AQE on (runtime partition coalescing, skew-join splitting, plan re-opt).
- ``spark.sql.shuffle.partitions`` sized to cores locally; on a real cluster
  AQE coalesces from a high initial number, so queries never hardcode it.
- Arrow enabled so every Pandas-UDF path is vectorized batch transfer.
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle (and are stable across machines).

Two settings make a query that was already run cost no set-up on its next
build and run (measured with perfbench's ``local[4]`` session):

- ``spark.sql.codegen.cache.maxEntries=4096``. Spark caches compiled
  whole-stage-codegen classes by their source text, 100 of them by default.
  One ``relational`` pass needs 99 classes and the yardstick run after it
  22 more, so at the default each evicted the other's classes and every
  pass recompiled all of them through Janino, and the JIT compiled the
  freshly loaded classes again; with the larger cache both compile none
  after warm-up. A warm-up sweep of the 84 ``bench.HEADLINE``
  queries at sf0.1 compiles 1,664 classes, which 4096 holds with room to
  spare; a warm sweep after it compiled 2,273 classes at the default and
  84 with the larger cache. The cost is driver memory for the cached
  classes.
- ``spark.python.sql.dataFrameDebugging.enabled=false``. While it is true
  (PySpark's default), every ``functions.*`` and ``Column`` call captures
  its Python call site: about eight py4j round trips plus a Python stack
  walk per call. A traced ``relational`` pass made 2,742 py4j calls with
  it on and 1,239 with it off. The trade-off: a runtime error no longer
  names the Python line in its "DataFrame" context. To get it back while
  debugging, pass
  ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.

Together they cut perfbench's ``relational`` ``suite_cpu_x`` by 13%. The
codegen cache size is a static conf, so a session built outside
``get_spark`` (the driver's harness, ``tools/check_oracle.py --vanilla``)
keeps Spark's defaults for both; ``tune_session`` does not set them.
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
    need a static conf the defaults pin, e.g. perfbench's ``session_conf``
    turning on an uncompressed event log for its tracer."""
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
        # compile each generated class once per session, and skip the
        # per-call call-site capture (module docstring)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
