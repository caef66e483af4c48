"""Pins the comparator of tools/verify_local.py, the local DuckDB-oracle
correctness gate: a Spark result and its oracle twin pass when their
``table_hash`` values are equal, so the hash must ignore row and column
order and float noise, and nothing else."""

from __future__ import annotations

import math

from verify_local import _norm, table_hash

COLS = ["k", "name", "v"]
ROWS = [(1, "a", 0.5), (2, "b", None), (3, "c", 2.0)]


def test_row_and_column_order_do_not_change_hash():
    base = table_hash(COLS, ROWS)
    assert table_hash(COLS, list(reversed(ROWS))) == base
    # same table with its columns permuted (names and values together)
    assert table_hash(["v", "k", "name"], [(v, k, n) for k, n, v in ROWS]) == base


def test_integral_float_hashes_like_int():
    assert _norm(1.0) == _norm(1) == "1"
    # past 9 significant digits too (a DuckDB bigint vs a Spark double)
    assert _norm(1234567890123.0) == _norm(1234567890123) == "1234567890123"
    assert table_hash(["x"], [(1.0,), (2.0,)]) == table_hash(["x"], [(1,), (2,)])


def test_float_noise_below_nine_digits_is_absorbed():
    # summation-order noise: 0.1 + 0.2 is 0.30000000000000004
    assert table_hash(["x"], [(0.1 + 0.2,)]) == table_hash(["x"], [(0.3,)])
    assert table_hash(["x"], [(0.3001,)]) != table_hash(["x"], [(0.3,)])


def test_none_differs_from_string_none():
    assert _norm(None) != _norm("None")
    assert table_hash(["x"], [(None,)]) != table_hash(["x"], [("None",)])


def test_nan_is_handled():
    nan = float("nan")
    assert _norm(nan) == "nan"
    assert table_hash(["x"], [(nan,)]) == table_hash(["x"], [(math.nan,)])
    assert table_hash(["x"], [(nan,)]) != table_hash(["x"], [(None,)])
    assert table_hash(["x"], [(nan,)]) != table_hash(["x"], [(0.0,)])


def test_one_changed_value_changes_hash():
    base = table_hash(COLS, ROWS)
    for i, row in enumerate(ROWS):
        for j in range(len(COLS)):
            changed = list(row)
            changed[j] = "zz"
            rows = ROWS[:i] + [tuple(changed)] + ROWS[i + 1 :]
            assert table_hash(COLS, rows) != base, (i, j)
