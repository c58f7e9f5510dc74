"""Vector math over ``array<float>`` embedding columns — pure Catalyst
higher-order functions (zip_with / aggregate), no UDF, so the hot path of
similarity search stays JVM-side and codegen-compiled.

All arithmetic is done in DOUBLE regardless of the storage type (the test
embeddings are float32 parquet): float→double widening is exact and
deterministic, and summation runs left-to-right inside a single row, so the
same value is produced by any engine that walks the array in order. Results
the oracle compares are rounded to 6 decimals to absorb engine-level
summation-order differences (measure-zero boundary risk).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(_as_double(a), F.lit(0.0), lambda acc, x: acc + x * x)
    )

