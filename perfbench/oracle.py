"""Result oracle: plain Spark over the same as-of data, compared
order-insensitively with floats rounded as ``tools/check_oracle.py`` does
(and a last-bit tolerance where rounding lands on a boundary)."""

from __future__ import annotations

import datetime as dt
import math
from typing import Iterable

EPOCH = dt.datetime(1970, 1, 1)


def ts_literal(ns: int) -> str:
    """``TIMESTAMP '...'`` literal for an epoch-ns instant. Schedules only
    produce whole-microsecond instants, so the literal is exact."""
    if ns % 1000:
        raise ValueError(f"instant {ns} is not a whole microsecond")
    t = EPOCH + dt.timedelta(microseconds=ns // 1000)
    return f"TIMESTAMP '{t:%Y-%m-%d %H:%M:%S.%f}'"


def norm(v):
    """One cell, normalized: floats to 5 decimals (NaN kept distinct),
    dates and timestamps to ISO text without trailing zeros."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 5)
    if hasattr(v, "isoformat"):
        s = v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v.isoformat()
        return s.rstrip("0").rstrip(".") if "." in s else s
    return v


def canon(rows: Iterable) -> list:
    """Rows as a sorted list of normalized tuples (order-insensitive)."""
    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def same_cell(a, b) -> bool:
    """Equal once normalized, or two floats a last-bit apart: summing in
    another order can move a value like 106.850625 across a rounding
    boundary, so rounding alone would call it a mismatch."""
    if norm(a) == norm(b):
        return True
    return (isinstance(a, float) and isinstance(b, float)
            and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12))


def same_result(got: Iterable, want: Iterable) -> bool:
    """Multiset equality of two row lists, cell by cell."""
    def ordered(rows):
        return sorted(((tuple(norm(v) for v in r), tuple(r)) for r in rows),
                      key=lambda p: repr(p[0]))

    a, b = ordered(got), ordered(want)
    return len(a) == len(b) and all(
        len(x) == len(y) and all(same_cell(u, v) for u, v in zip(x, y))
        for (_, x), (_, y) in zip(a, b))
