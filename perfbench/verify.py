"""Output checks: DuckDB oracles for plan_build queries (through
``tests/parity.py``), value equality for gateway responses. A failed check
is a failed op."""

from __future__ import annotations

import math
import os
import sys

import pandas as pd

# the oracle comparison the parity tests use, so the two cannot drift apart
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))
from parity import canon, duck_df  # noqa: E402,F401


def frame_mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """``None`` when the frames hold the same rows (exact values, any
    order), else a one-line reason."""
    if len(actual) == 0:
        return "no rows"
    a, e = canon(actual), canon(expected)
    if list(a.columns) != list(e.columns):
        return f"columns {list(a.columns)} != {list(e.columns)}"
    if len(a) != len(e):
        return f"{len(a)} rows != {len(e)}"
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
    except AssertionError as err:
        return str(err).splitlines()[0][:200]
    return None


def _key(v):
    """Hashable, order-free form of a decoded msgpack value; floats are
    compared to 12 significant digits (partial sums may add in any order)."""
    if isinstance(v, float):
        return ("f", float(f"{v:.12g}")) if math.isfinite(v) else ("f", repr(v))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_key(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), _key(x)) for k, x in v.items())))
    if v is None:
        return ("n", 0)
    return (type(v).__name__, v)


def rows_mismatch(actual: list, expected: list) -> str | None:
    """Order-insensitive comparison of two row lists."""
    if len(actual) != len(expected):
        return f"{len(actual)} rows != {len(expected)}"
    if sorted(map(_key, actual)) != sorted(map(_key, expected)):
        return "row values differ"
    return None
