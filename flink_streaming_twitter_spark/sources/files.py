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

# event-time columns per table. The sf0.001-sf0.1 tables store all three
# as TIMESTAMP(MICROS, isAdjustedToUTC=false), TIMESTAMP_NTZ in Spark 4;
# an events.ts stored as TIMESTAMP(NANOS) loads as int64 under nanosAsLong
_TS_COLUMNS = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) interpreted as
    UTC — the one event-time rule the batch tables and the stream replays
    share, and the type ``withWatermark`` accepts:

    - int64 nanos (parquet TIMESTAMP(NANOS) read under nanosAsLong) are
      truncated to micros (consumers bucket at >= 1 s);
    - TIMESTAMP_NTZ (parquet written with isAdjustedToUTC=false) is cast
      in the session timezone — the same instant the DuckDB oracle's
      naive epoch() computes. The cast reinterprets the wall-clock value
      in the session timezone, so it is value-preserving ONLY under UTC:
      asserted here rather than assumed, because a caller-built non-UTC
      session would otherwise get silently shifted event times.

    Any other column type passes through unchanged."""
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        return df.withColumn(ts_col, F.timestamp_micros((F.col(ts_col) / 1000).cast("long")))
    if dtype == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"casting TIMESTAMP_NTZ column {ts_col!r} to TIMESTAMP requires a "
                f"UTC session (spark.sql.session.timeZone={tz!r} would shift event "
                "times); set the session timezone to UTC first"
            )
        return df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


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
    for col_name in _TS_COLUMNS.get(name, ()):
        df = ensure_event_time(df, col_name)
    return df

