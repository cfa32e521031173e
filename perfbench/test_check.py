"""Unit tests of the benchmark's result checker.

    python3 -m pytest perfbench/test_check.py -q
"""

import math

import numpy as np

from check import compare, digest


def test_values_1e_minus_6_apart_at_1e6_differ():
    assert compare(["x"], [(1e6,)], ["x"], [(1e6 + 1e-6,)]) is not None


def test_float32_round_trip_matches():
    want = [(123456.789012,), (0.1,), (-3.0e-5,)]
    got = [(float(np.float32(v)),) for (v,) in want]
    assert compare(["x"], got, ["x"], want, frozenset({"x"})) is None
    assert compare(["x"], got, ["x"], want) is not None  # a double column gets no float32 slack


def test_order_and_column_order_do_not_matter():
    got = [(2, "b", 0.5), (1, "a", 0.25)]
    want = [("a", 0.25, 1), ("b", 0.5, 2)]
    assert compare(["k", "s", "v"], got, ["s", "v", "k"], want) is None
    assert digest(["k", "s", "v"], got) == digest(["s", "v", "k"], want)


def test_row_count_columns_and_values_are_checked():
    assert compare(["x"], [(1,)], ["x"], [(1,), (1,)]).startswith("row count")
    assert compare(["x"], [(1,)], ["y"], [(1,)]).startswith("columns")
    assert compare(["x"], [(1,)], ["x"], [(2,)]).startswith("column x")


def test_nulls_and_nans_compare_equal_to_themselves():
    rows = [(None, math.nan), (1.0, 2.0)]
    assert compare(["a", "b"], rows, ["a", "b"], list(reversed(rows))) is None
    assert compare(["a"], [(math.nan,)], ["a"], [(1.0,)]) is not None
