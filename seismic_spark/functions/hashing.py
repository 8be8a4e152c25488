"""Portable deterministic hashing — identical in Spark SQL and DuckDB SQL.

Engine-native hashes (xxhash64, DuckDB hash()) differ across engines, so
oracle-checked operators (minhash, simhash, fingerprints) derive integers
from **md5 hex digests**, which agree everywhere:

  Spark :  conv(substring(md5(s), 1, 15), 16, 10)            → bigint
  DuckDB:  CAST(('0x' || substr(md5(s), 1, 15)) AS UBIGINT)  → bigint-safe

15 hex digits < 2^60, so all downstream modular arithmetic stays inside
signed 64-bit — ANSI-mode (Spark 4 default) overflow-safe.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# 2^31 - 1, a Mersenne prime: keeps (a*h + b) products < 2^62
MERSENNE = 2147483647


def md5_int(col: Column) -> Column:
    """Portable 60-bit integer hash of a string column."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_int`."""
    return f"CAST(('0x' || substr(md5({expr}), 1, 15)) AS UBIGINT)::BIGINT"


def affine_hash(h: Column, a: int, b: int) -> Column:
    """(a·(h mod p) + b) mod p — one member of a universal hash family."""
    return (F.lit(a) * (h % MERSENNE) + F.lit(b)) % MERSENNE


def hash_params(n: int, seed: int = 42) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for n universal hashes."""
    params = []
    x = seed
    for _ in range(n):
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = (x % (MERSENNE - 1)) + 1
        x = (x * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = x % MERSENNE
        params.append((a, b))
    return params
