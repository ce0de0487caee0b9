"""Portable 60-bit content hash.

An operator whose output rows must be re-derivable in DuckDB needs every
hash that determines those rows to be computable bit-identically in
both engines. xxhash64 is Spark-only; md5 is in both, and both can parse
hex → integer:

- Spark : ``conv(substring(md5(x), 1, 15), 16, 10)  → long``
- DuckDB: ``('0x' || left(md5(x), 15))::BIGINT``

15 hex chars = 60 bits — always fits a signed 64-bit int (the full 16
chars would overflow Spark's ``cast('long')`` for values ≥ 2^63).

Hot paths where only a join or exchange key, not the output, depends on
the hash keep xxhash64 — it is ~10× cheaper.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def md5_60(col):
    """60-bit integer from the first 15 hex chars of md5 (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_60_sql(expr: str) -> str:
    """The identical 60-bit hash as DuckDB SQL over ``expr``."""
    return f"(('0x' || left(md5({expr}), 15))::BIGINT)"

