"""The one exact result comparator (``tools/exact_sweep.py``: ``canon``
and ``diff``) on hand-made frames — no Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from tools.exact_sweep import diff

WANT = pd.DataFrame({"k": ["a", "b", "c"], "x": [1.5, np.nan, 0.1], "n": [1, 2, 3]})


def test_row_and_column_order_do_not_matter():
    got = WANT.iloc[[2, 0, 1], [2, 0, 1]]
    assert diff(got, WANT) == []


def test_nan_equals_nan():
    assert diff(WANT.copy(), WANT) == []


def test_one_ulp_off_reports_the_column_count_and_pair():
    got = WANT.copy()
    got.loc[2, "x"] = np.nextafter(0.1, 1.0)
    (line,) = diff(got, WANT)
    assert line.startswith(f"col x: 1 mismatches, first {np.nextafter(0.1, 1.0)!r} vs 0.1")
    assert "max_abs_diff=" in line


def test_extra_row_is_reported():
    got = pd.concat([WANT, WANT.iloc[[0]]], ignore_index=True)
    assert diff(got, WANT) == ["rows 4 vs 3"]


def test_array_valued_column_raises():
    got = WANT.assign(arr=[np.array([1.0]), np.array([2.0]), np.array([3.0])])
    with pytest.raises(TypeError, match="non-scalar output column 'arr'"):
        diff(got, WANT)
