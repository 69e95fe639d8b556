"""Canonicalization shared by every Spark-vs-DuckDB parity check
(tests/test_oracle_parity.py imports it).

Comparison model: columns sorted by name,
rows sorted after canonicalizing every value to a string — an
order-insensitive exact comparison. Floats print as integers when
integral, else repr(round(x, 9)); None sorts first via a \\x00 prefix.
"""

from __future__ import annotations

import math


def normalize(rows, colnames):
    """Return the canonical sorted list of stringified row tuples."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if math.isinf(v):
                return "Inf" if v > 0 else "-Inf"
            if v == int(v) and abs(v) < 1e15:
                return repr(int(v))
            return repr(round(v, 9))
        if isinstance(v, bool):
            return repr(int(v))
        return str(v)

    out = [tuple(canon(r[i]) for i in order) for r in rows]
    out.sort()
    return out
