import numpy as np
import pandas as pd

import check


def _ref():
    return check.canonicalize(pd.DataFrame({
        "Node": np.array([3, 1, 2], dtype=np.int32),
        "rank": [0.3, 0.1, 0.2],
        "tag": ["c", "a", "b"],
    }))


def test_match_ignores_row_order_column_case_and_int_width():
    actual = pd.DataFrame({
        "tag": ["a", "b", "c"],
        "rank": [0.1, 0.2 + 4e-7, 0.3],
        "node": np.array([1, 2, 3], dtype=np.int64),
    })
    assert check.mismatch(actual, _ref()) is None


def test_float_beyond_tolerance_is_caught():
    actual = pd.DataFrame({"node": [1, 2, 3], "rank": [0.1, 0.2 + 6e-7, 0.3],
                           "tag": ["a", "b", "c"]})
    assert "rank" in check.mismatch(actual, _ref())


def test_perturbed_reference_is_caught():
    ref = _ref()
    assert check.mismatch(ref, ref) is None
    assert check.mismatch(check.perturbed(ref), ref) is not None
    strings = check.canonicalize(pd.DataFrame({"s": ["x", "y"]}))
    assert check.mismatch(check.perturbed(strings), strings) is not None


def test_row_count_and_columns_are_checked():
    ref = _ref()
    assert "row count" in check.mismatch(ref.iloc[:2], ref)
    assert "columns" in check.mismatch(ref.rename(columns={"tag": "label"}), ref)


def test_nulls_match_nulls():
    ref = check.canonicalize(pd.DataFrame({"k": [1, 2], "v": [np.nan, 1.0]}))
    assert check.mismatch(pd.DataFrame({"k": [2, 1], "v": [1.0, np.nan]}), ref) is None
