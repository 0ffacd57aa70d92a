"""Output digests (driver_sim's comparison rules) and fail_ratio accounting."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from canon import NonScalarCell, count_failures, digest


def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert digest(a) == digest(b)


def test_digest_is_type_strict_like_driver_sim():
    ints = pd.DataFrame({"x": [1, 2]})
    floats = pd.DataFrame({"x": [1.0, 2.0]})
    assert digest(ints) != digest(floats)
    assert digest(pd.DataFrame({"x": [0.0]})) == digest(pd.DataFrame({"x": [-0.0]}))
    assert digest(pd.DataFrame({"x": [math.nan]})) == digest(pd.DataFrame({"x": [np.nan]}))
    assert digest(pd.DataFrame({"x": [None]}, dtype=object)) != digest(
        pd.DataFrame({"x": ["None"]})
    )
    ts = pd.DataFrame({"t": pd.to_datetime(["2024-01-01 00:00:01"])})
    py = pd.DataFrame({"t": [dt.datetime(2024, 1, 1, 0, 0, 1)]}, dtype=object)
    assert digest(ts) == digest(py)
    # driver_sim keeps NaT as a value of its own: it never equals None
    nat = pd.DataFrame({"t": pd.to_datetime([None])})
    assert digest(nat) == digest(pd.DataFrame({"t": [pd.NaT]}, dtype=object))
    assert digest(nat) != digest(pd.DataFrame({"t": [None]}, dtype=object))


def test_digest_multiset_counts_duplicates():
    assert digest(pd.DataFrame({"x": [1, 1, 2]})) != digest(pd.DataFrame({"x": [1, 2, 2]}))


def test_non_scalar_cell_is_rejected():
    with pytest.raises(NonScalarCell):
        digest(pd.DataFrame({"x": [np.array([1, 2])]}))


def test_fail_ratio_counts_raises_and_mismatches():
    ok = digest(pd.DataFrame({"x": [1]}))
    bad = digest(pd.DataFrame({"x": [2]}))
    oracle = {"a": ok, "b": ok, "c": None, "d": "oracle raised ParserException"}
    invocations = [
        {"op": "a", "raised": None, "digest": ok},
        {"op": "a", "raised": None, "digest": bad},  # hash mismatch
        {"op": "b", "raised": "build"},  # raised while building
        {"op": "c", "raised": None, "digest": bad},  # no oracle SQL: rows only
        {"op": "d", "raised": None, "digest": ok},  # the oracle itself failed
        {"op": "e", "raised": None, "digest": ok},  # op missing from the oracle map
    ]
    assert count_failures(invocations, oracle) == (6, 4)


def test_digest_agrees_with_driver_sim_canon():
    from driver_sim import canon

    frames = [
        pd.DataFrame({"k": [1, 2, 2], "v": [0.5, math.nan, -0.0], "s": ["a", None, "c"]}),
        pd.DataFrame({"s": ["c", "a", None], "k": [2, 1, 2], "v": [0.0, 0.5, math.nan]}),
        pd.DataFrame({"k": [1, 2, 2], "v": [0.5, math.nan, 1.0], "s": ["a", None, "c"]}),
        pd.DataFrame({"k": [1.0, 2.0, 2.0], "v": [0.5, math.nan, 0.0], "s": ["a", None, "c"]}),
    ]
    for a in frames:
        for b in frames:
            assert (digest(a) == digest(b)) == (canon(a) == canon(b))
