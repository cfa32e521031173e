"""Parquet table sources for the driver-generated test data.

Mirrors the reference's in-memory source (``MapReduceFramework.h:13``,
``MRFCore.cpp:448-454``) generalized to schema-on-read parquet scans: Catalyst
gets predicate pushdown + column pruning for free, and partition-parallel
reads replace the chunked shared-cursor scheduler (``MRFCore.cpp:46-53``).

The reference reads its input once; here every query loads its tables
again, and ``spark.read.parquet`` infers the schema on each load with a
Spark job that reads the file's footer. ``parquet_schema`` memoizes the
``StructType`` that Spark inferred, and every load reads with it
(``spark.read.schema(s).parquet`` builds the frame with no job and no
footer read).

- **Key**: the absolute path; a fingerprint of the file, ``(st_size,
  st_mtime_ns, st_ino)``, or of every entry under a directory; and the
  session confs that change how Parquet types map to Spark types
  (``_TYPE_CONFS``). A path that cannot be stat'ed (a remote URI) is
  inferred on every load.
- **Invalidation**: a rewritten file or directory changes the fingerprint
  (short of a same-size rewrite in place within the file system's
  timestamp granularity), and a changed conf (``nanosAsLong`` for the
  events table) changes the key, so either infers again. A ``StructType``
  does not depend on the session, so the key holds no session identity.
- **The schema, never the DataFrame**: every load is a fresh read with
  fresh attribute ids, so two loads of one table self-join without
  ambiguity, exactly as two inferring reads did.
- **Bound**: the memo is cleared when it reaches ``_SCHEMA_CACHE_MAX``
  entries, so a long-lived session cannot grow it without limit.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Session confs that change the schema Spark infers from a Parquet footer.
_TYPE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
_SCHEMA_CACHE: dict[tuple, StructType] = {}
_SCHEMA_CACHE_MAX = 256


def _fingerprint(path: str) -> tuple:
    """``(size, mtime_ns, inode)`` of a file; for a directory, each entry's
    name and fingerprint. Raises ``OSError`` if ``path`` is not local."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    with os.scandir(path) as entries:
        return tuple(sorted((e.name, _fingerprint(e.path)) for e in entries))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the Parquet file or directory at
    ``path``, inferred once per file version and type-mapping confs (see
    the module docstring)."""
    try:
        key = (os.path.abspath(path), _fingerprint(path), tuple(spark.conf.get(k, None) for k in _TYPE_CONFS))
    except OSError:
        return spark.read.parquet(path).schema
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        if len(_SCHEMA_CACHE) >= _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.clear()
        _SCHEMA_CACHE[key] = schema
    return schema


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to a TIMESTAMP (ltz) whose UTC
    instant equals the file's naive wall-clock value — the semantics DuckDB
    gives the oracle side — regardless of fixture vintage or session timezone.

    Fixture generations have stored ts as TIMESTAMP(NANOS) (which Spark reads
    as bigint under ``nanosAsLong``, and rejects otherwise) or as a type
    Spark reads as TIMESTAMP_NTZ. Shared by the batch loader and the
    streaming sources so both see one stable column type."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos read as long -> floor-div matches DuckDB nanos->micros
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # In a UTC session the ntz->ltz cast interprets the wall clock at
        # zero offset — exactly the semantics we want, with none of the
        # field-arithmetic cost below (which showed up 2x per side in the
        # r4 bench of the self-joining events queries). Both the tuned
        # session and the driver's vanilla one (container TZ=UTC) take
        # this branch; only a genuinely non-UTC session pays the fallback.
        try:
            tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        except Exception:
            tz = None
        if tz in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00", "Universal", "Zulu"):
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        # Non-UTC fallback — timezone-FREE conversion: wall-clock field
        # arithmetic, never a cast through the session zone (a cast would
        # shift the instant by the session offset and hit DST ambiguity;
        # to_utc_timestamp composes with the implicit cast and
        # double-shifts).
        us = (
            (
                F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01")).cast("long") * 86400
                + F.hour("ts").cast("long") * 3600
                + F.minute("ts").cast("long") * 60
            )
            * 1_000_000
            + (F.expr("extract(second from ts)") * 1_000_000).cast("long")
        )
        return df.withColumn("ts", F.timestamp_micros(us))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    return normalize_event_ts(df) if name == "events" else df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so queries can use spark.sql."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
