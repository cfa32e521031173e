"""Differential oracle check: run registered queries on Spark and their
DuckDB oracles, and compare them the way the driver does: columns sorted by
name, rows in any order, every value by its exact ``repr`` (floats too), so
a low-order-bit difference FAILs.

Usage: python tools/check_oracle.py [sf_dir] [--vanilla] [--window] [query ...]

  sf_dir     parquet fixture directory (default: the sf0.01 fixtures)
  --vanilla  simulate the driver: a plain ``local[8]`` session with none of
             this repo's configs, queries taken through ``__spark_entry__``,
             and the ``entry()`` smoke first. Without it the session is the
             tuned ``get_spark(cpus=8, shuffle_partitions=8)``.
  --window   only the driver's checked-50 window, in its order

Exit code is non-zero on any FAIL. The last line is ``TOTAL: ...``.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time
from collections import Counter
from pathlib import Path

import duckdb
import pyarrow as pa

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mapreducefw_spark.sources.tables import TABLES  # noqa: E402


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return repr(v)


def canonical(rows, cols: list[str]) -> list[str]:
    """One string per row, columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def value_hash(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def verdict(srows, scols: list[str], drows, dcols: list[str]) -> str | None:
    """None when the Spark rows match the oracle rows, else why not."""
    if sorted(scols) != sorted(dcols):
        return f"columns differ spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duck={len(drows)}"
    s, d = canonical(srows, scols), canonical(drows, dcols)
    if s == d:
        return None
    only_s = list((Counter(s) - Counter(d)).elements())[:3]
    only_d = list((Counter(d) - Counter(s)).elements())[:3]
    return (
        f"values differ hash={value_hash(s)} != {value_hash(d)}; "
        f"first rows only in spark: {only_s}; only in duck: {only_d}"
    )


def decimal_columns(con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Oracle columns whose Arrow type is decimal. The driver hashes Arrow
    values, where DuckDB's HUGEINT (an uncast SUM over integers) decodes as
    decimal128(38,0) and Decimal(123) != int(123); ``fetchall()`` yields
    plain ints, so only the Arrow schema shows the class."""
    schema = con.execute(sql).fetch_arrow_table().schema
    return [f"{f.name}:{f.type}" for f in schema if pa.types.is_decimal(f.type)]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(spark, con, fn, sf_dir: str, oracle: str | None) -> tuple[str, str]:
    """(status, message) for one query: PASS, FAIL or ROWS (no oracle)."""
    try:
        sdf = fn(spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return "FAIL", f"spark error: {e}"
    if oracle is None:
        return "ROWS", f"{len(srows)} rows (no oracle)"
    try:
        res = con.execute(oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        bad = decimal_columns(con, oracle)
    except Exception as e:
        return "FAIL", f"duckdb error: {e}"
    if bad:
        return "FAIL", f"oracle Arrow schema has decimal columns {bad}: cast to BIGINT/DOUBLE"
    why = verdict(srows, scols, drows, dcols)
    if why:
        return "FAIL", why
    return "PASS", f"{len(srows)} rows hash={value_hash(canonical(srows, scols))}"


def vanilla_session():
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").appName("driver-sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as E

    rows = E.entry(spark).collect()
    print(f"SMOKE entry(): {len(rows)} rows; first: {rows[0] if rows else None}")
    return spark, E.queries(), E.oracle_sql(), len(rows) > 0


def tuned_session():
    from mapreducefw_spark.queries import ORACLES, QUERIES, load_all
    from mapreducefw_spark.session import get_spark

    load_all()
    return get_spark(cpus=8, shuffle_partitions=8), QUERIES, ORACLES, True


def main(argv: list[str]) -> int:
    flags = {a for a in argv if a.startswith("--")}
    unknown = flags - {"--vanilla", "--window"}
    if unknown:
        raise SystemExit(f"unknown flags {sorted(unknown)}\n{__doc__}")
    argv = [a for a in argv if not a.startswith("--")]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    spark, queries, oracles, smoke_ok = (
        vanilla_session() if "--vanilla" in flags else tuned_session()
    )
    if "--window" in flags:
        names = list(queries)[:50]
    else:
        names = argv[1:] or sorted(queries)
    con = duck_connect(sf_dir)
    counts = Counter(FAIL=0 if smoke_ok else 1)
    for name in names:
        t0 = time.time()
        status, msg = check(spark, con, queries[name], sf_dir, oracles.get(name))
        counts[status] += 1
        print(f"{status:5} {name}: {msg} [{time.time() - t0:.1f}s]", flush=True)
    print(f"TOTAL: {counts['PASS']} pass, {counts['FAIL']} fail, {counts['ROWS']} rows-only")
    return 1 if counts["FAIL"] else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
