"""Deterministic, engine-portable hashing primitives.

The reference identifies objects with uuid4 (ccmm/dats/datsobj.py:109-116),
which is nondeterministic and unhashable across runs; we use content hashes
instead (SURVEY.md §7.4). All hashes here are reproducible in ANSI SQL
(DuckDB oracle) and in Spark SQL, so the sampling and partitioning queries
built on them can be oracle-checked end-to-end:

  hash60(s)  = first 15 hex digits of md5(s) as a 60-bit non-negative BIGINT
  integer edge hashes: h(x) = (a * (x mod P) + b) mod P, P = 1e9+7

Spark side stays entirely JVM (md5/conv/cast — whole-stage codegen); no
Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Modulus of the 2-universal integer hashes: small enough that
# a*(x%P)+b fits in signed 64-bit (P^2 ~ 1e18 < 2^63-1), large enough for
# low collision rates.
MINHASH_P = 1_000_000_007


def hash60(col: Column) -> Column:
    """60-bit content hash of a string column: md5 hex prefix → BIGINT.

    DuckDB equivalent: CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """DuckDB SQL text computing the same 60-bit hash."""
    return f"CAST(CONCAT('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"

