"""Deterministic, engine-portable hashing primitives.

Spark's ``hash``/``xxhash64`` (Murmur3/xxHash) and DuckDB's ``hash``
(xxHash variant) do not agree, so every hash the correctness oracle sees is
derived from **md5 hex digits cast to integers** — byte-identical in any
engine. This costs a little over a native 64-bit hash but stays entirely
JVM-side in Spark (no Python), and at 100 TB the md5 of short shingles is
cheap relative to the shuffles around it.

The MinHash family uses universal hashing h_i(x) = (a_i*x + b_i) mod p over
x = md5_int31(shingle), with p = 2^31-1 and a,b drawn deterministically
from md5 of the permutation index — every product stays < 2^62, so the
arithmetic is exact int64 in both Spark and DuckDB.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

MERSENNE_31 = (1 << 31) - 1


def md5_int60(col: Column) -> Column:
    """First 15 hex digits of md5 as a non-negative int64 (60 bits)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_int31(col: Column) -> Column:
    """md5-derived integer in [0, 2^31): safe multiplicand for mod-p
    universal hashing without int64 overflow."""
    return md5_int60(col) % F.lit(1 << 31)


_PERM_SEED = "flink-streaming-twitter"


def minhash_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) pairs for the i-th min-hash permutation,
    derived from md5 so the DuckDB oracle can hard-code identical values."""
    params = []
    for i in range(num_perm):
        a = int(hashlib.md5(f"{_PERM_SEED}-a-{i}".encode()).hexdigest()[:8], 16) % MERSENNE_31
        b = int(hashlib.md5(f"{_PERM_SEED}-b-{i}".encode()).hexdigest()[:8], 16) % MERSENNE_31
        params.append((a or 1, b))
    return params


def minhash_set_exprs(set_col: str, num_perm: int) -> list[Column]:
    """Row-wise MinHash over a packed shingle-hash array: for each
    permutation i, ``array_min(transform(shs, x -> (a_i*x + b_i) mod p))``.
    Identical values to min-aggregating the exploded form, with zero
    shuffle."""
    def perm(a: int, b: int) -> Column:
        return F.array_min(
            F.transform(F.col(set_col), lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(MERSENNE_31))
        )

    return [perm(a, b) for a, b in minhash_params(num_perm)]
