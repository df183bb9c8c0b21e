"""Order-insensitive digests of query results.

Values are normalized the way the engine's DuckDB parity check normalizes
them (``tests/parity.py``): floats to 9 significant digits, timestamps
without zone, bytes as hex, columns in name order. A digest is the SHA-256
of the sorted normalized rows, so it ignores row order and partitioning.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{float(v):.9g}"
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def normalized(columns: list[str], rows: list[tuple]) -> list[tuple]:
    """Rows with normalized values, columns in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [tuple(_norm(r[i]) for i in order) for r in rows]


def digest(columns: list[str], rows: list[tuple]) -> str:
    """SHA-256 over the sorted normalized rows, columns in name order."""
    lines = sorted(repr(r) for r in normalized(columns, rows))
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()
