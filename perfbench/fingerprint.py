"""Order-insensitive fingerprint of a query result.

The normalization is the one ``scripts/driver_sim.py`` uses against the
DuckDB oracles: columns ordered by name, every cell rendered as a string
(floats rounded to ``%.6g``), rows sorted.  The fingerprint keeps the row
count, the sorted column names and a SHA-256 of the normalized rows, so a
result can be checked without running its oracle.
"""

from __future__ import annotations

import hashlib
import json
import math
from collections.abc import Iterable, Sequence


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.6g}" if abs(v) < 1e15 else repr(v)
    return str(v)


def fingerprint(rows: Iterable[Sequence], columns: Sequence[str]) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted(tuple(_cell(row[i]) for i in order) for row in rows)
    digest = hashlib.sha256(json.dumps(norm).encode()).hexdigest()
    return {"rows": len(norm), "columns": sorted(columns), "sha256": digest}
