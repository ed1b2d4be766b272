"""The engine-vs-oracle comparator on small pandas frames: it ignores row
and column order and nothing else."""

from __future__ import annotations

import pandas as pd

from pdxbldgimport_spark.oracle import diff

WANT = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", None]})


def test_permuted_rows_and_columns_match():
    got = pd.DataFrame({"v": [None, "a", "b"], "k": [3, 1, 2]})
    assert diff(got, WANT) is None


def test_row_count_differs():
    assert diff(WANT.iloc[:2], WANT).startswith("ROWS")


def test_column_set_differs():
    assert diff(WANT.rename(columns={"v": "w"}), WANT).startswith("SCHEMA")


def test_one_changed_cell():
    got = WANT.assign(v=["a", "x", None])
    assert diff(got, WANT).startswith("column 'v'")


def test_string_vs_int():
    got = WANT.assign(k=["1", 2, 3])
    assert diff(got, WANT).startswith("column 'k'")


def test_none_vs_value():
    got = WANT.assign(v=["a", "b", "c"])
    assert diff(got, WANT).startswith("column 'v'")
