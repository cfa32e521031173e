"""Pin tools/check_oracle.py's verdict: the driver-style exact value hash
(columns by name, rows in any order, floats by repr) and the Arrow-schema
decimal lint. Pure Python plus an in-memory DuckDB, no Spark session."""

import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check_oracle import decimal_columns, verdict  # noqa: E402


def test_row_and_column_order_do_not_matter():
    srows = [(1, "a", 0.5), (2, "b", 1.5)]
    drows = [(1.5, "b", 2), (0.5, "a", 1)]
    assert verdict(srows, ["k", "s", "v"], drows, ["v", "s", "k"]) is None


def test_value_mismatch_names_the_differing_rows():
    why = verdict([(1, "a"), (2, "b")], ["k", "s"], [(1, "a"), (2, "c")], ["k", "s"])
    assert why is not None
    assert "'b'" in why and "'c'" in why
    assert "'a'" not in why


def test_schema_and_rowcount_mismatch_fail():
    assert "columns differ" in verdict([(1,)], ["k"], [(1,)], ["j"])
    assert "rowcount" in verdict([(1,)], ["k"], [(1,), (1,)], ["k"])


def test_float_difference_at_1e6_magnitude_fails():
    a, b = 1234567.123456, 1234567.123457
    # a 12-significant-digit form cannot see this difference ...
    assert f"{a:.12g}" == f"{b:.12g}"
    # ... the exact repr hash does
    assert verdict([(a,)], ["x"], [(b,)], ["x"]) is not None
    assert verdict([(a,)], ["x"], [(a,)], ["x"]) is None


def test_signed_zero_follows_repr():
    # the driver hashes repr(), and repr(-0.0) != repr(0.0)
    assert repr(-0.0) != repr(0.0)
    assert verdict([(-0.0,)], ["x"], [(0.0,)], ["x"]) is not None
    assert verdict([(-0.0,)], ["x"], [(-0.0,)], ["x"]) is None


def test_nan_equals_nan_and_int_differs_from_float():
    nan = float("nan")
    assert verdict([(nan,)], ["x"], [(nan,)], ["x"]) is None
    assert verdict([(1,)], ["x"], [(1.0,)], ["x"]) is not None


def test_uncast_integer_sum_trips_the_decimal_lint():
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT range AS x FROM range(5)")
    bad = decimal_columns(con, "SELECT SUM(x) AS s, COUNT(*) AS n FROM t")
    assert [c.split(":")[0] for c in bad] == ["s"]
    assert decimal_columns(con, "SELECT CAST(SUM(x) AS BIGINT) AS s FROM t") == []
