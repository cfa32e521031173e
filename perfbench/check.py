"""Result checker: column names, row count, then an order-insensitive value
comparison with a relative-plus-absolute float tolerance.

Rows are compared as bags. An exact hash of the normalized rows settles most
results at once; otherwise both sides are sorted by a total key and compared
pairwise. Doubles must agree to ``DOUBLE_REL`` (so values 1e-6 apart at
magnitude 1e6 still differ); a column that either side returns as float32
gets the float32 resolution ``FLOAT32_REL``, so a float32 round trip of a
double matches.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from collections.abc import Sequence

DOUBLE_REL = 1e-13
FLOAT32_REL = 2.0**-22
ABS_TOL = 1e-12


def _norm(v):
    """A hashable, comparable stand-in for one cell."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v)
    if isinstance(v, dict):
        return tuple(sorted((_norm(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _norm(v.tolist())
    return v


def _key(v):
    """Total order over normalized cells: None < numbers < NaN < others."""
    if v is None:
        return (0,)
    if isinstance(v, bool):
        return (1, int(v))
    if isinstance(v, (int, float)):
        return (2,) if isinstance(v, float) and math.isnan(v) else (1, v)
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (4, type(v).__name__, v)


def _close(a, b, rel: float) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y, rel) for x, y in zip(a, b))
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=rel, abs_tol=ABS_TOL)
    return a == b


def _prepare(cols: Sequence[str], rows: Sequence[Sequence]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(_norm(r[i]) for i in order) for r in rows]


def digest(cols: Sequence[str], rows: Sequence[Sequence]) -> str:
    """Exact order-insensitive hash of a result."""
    lines = sorted(repr(r) for r in _prepare(cols, rows))
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def compare(
    got_cols: Sequence[str],
    got_rows: Sequence[Sequence],
    want_cols: Sequence[str],
    want_rows: Sequence[Sequence],
    float32_cols: frozenset[str] = frozenset(),
) -> str | None:
    """None when the results match, else a one-line reason."""
    if sorted(got_cols) != sorted(want_cols):
        return f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return f"row count {len(got_rows)} != {len(want_rows)}"
    if digest(got_cols, got_rows) == digest(want_cols, want_rows):
        return None
    names = sorted(got_cols)
    rels = [FLOAT32_REL if c in float32_cols else DOUBLE_REL for c in names]
    got = sorted(_prepare(got_cols, got_rows), key=lambda r: tuple(map(_key, r)))
    want = sorted(_prepare(want_cols, want_rows), key=lambda r: tuple(map(_key, r)))
    for g, w in zip(got, want):
        for name, rel, a, b in zip(names, rels, g, w):
            if not _close(a, b, rel):
                return f"column {name}: {a!r} != {b!r}"
    return None
