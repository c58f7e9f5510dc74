"""Batch file source.

The driver harness and tests read the synthetic parquet tables
(TESTDATA.md); streaming tests replay the same rows through a file-watched
directory with ``spark.readStream`` (FIXTURES.md §3) — the test stand-in
for the reference's Kafka source (Main.java:57-61).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# event-time columns needing normalization to session-UTC TimestampType:
# events.ts is parquet TIMESTAMP(NANOS) (surfaces as int64 nanos under
# nanosAsLong); orders/lineitem dates are TIMESTAMP(MICROS,
# isAdjustedToUTC=false) (surface as TIMESTAMP_NTZ in Spark 4)
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic table.

    Parquet scans get Catalyst predicate pushdown and column pruning for
    free as long as callers keep filters/selects declarative — at 100 TB
    these tables would be partitioned (events by date, lineitem by
    l_shipdate month) and the same code path would prune partitions.
    """
    # The conf is runtime-settable and must be on for any session reading
    # the testdata (the driver passes a vanilla session); harmless repeat.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    # Normalize event-time columns to TimestampType interpreted as UTC:
    # int64 nanos → truncate to micros (consumers bucket at >= 1 s);
    # TIMESTAMP_NTZ → cast in the UTC session zone (same instant the
    # DuckDB oracle's naive epoch() computes).
    dtypes = dict(df.dtypes)
    for col_name in _TS_COLUMNS.get(name, ()):
        if dtypes.get(col_name) == "bigint":
            df = df.withColumn(
                col_name, F.timestamp_micros((F.col(col_name) / 1000).cast("long"))
            )
        elif dtypes.get(col_name) == "timestamp_ntz":
            df = df.withColumn(col_name, F.col(col_name).cast("timestamp"))
    return df

