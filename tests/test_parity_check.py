"""tools/parity_check.py's sort key orders rows holding NULLs at any
depth: a NULL nested in an array or a struct must not reach a
None-vs-value comparison."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
)

from tools.parity_check import _key  # noqa: E402


def test_key_orders_nested_nulls_first():
    rows = [
        (1, (3, None), ("b", 2)),  # NULL inside an array
        (1, (3, 4), (None, 2)),  # NULL inside a struct
        (1, (3, 4), ("a", 2)),
        (None, (None,), ("a", None)),
    ]
    with pytest.raises(TypeError):
        sorted(rows)  # the plain tuple order fails on these rows
    assert sorted(rows, key=_key) == [
        (None, (None,), ("a", None)),
        (1, (3, None), ("b", 2)),
        (1, (3, 4), (None, 2)),
        (1, (3, 4), ("a", 2)),
    ]


def test_key_handles_lists_and_maps():
    rows = [(1, [None, 2], {"k": None}), (1, [1, 2], {"k": 1}), (1, [None, 1], {"k": 1})]
    assert sorted(rows, key=_key) == [
        (1, [None, 1], {"k": 1}),
        (1, [None, 2], {"k": None}),
        (1, [1, 2], {"k": 1}),
    ]
