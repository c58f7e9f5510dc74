"""Bucketed range join: point-in-interval joins WITHOUT an equi key.

The reference has no joins at all (SURVEY.md §2.7); this is a scale
extension. Spark plans a bare non-equi join like

    probe.ts BETWEEN iv.start AND iv.end

as BroadcastNestedLoopJoin (or a cartesian) — O(|probe|·|iv|)
comparisons, which is fine at test scale and fatal at 100 TB. The
standard decomposition (the same idea behind Databricks' range-join
hint and interval trees flattened onto a grid) turns it into an
equi-join Catalyst can hash/sort-merge:

- pick a bucket width W (≈ the typical interval length);
- replicate each interval into every W-bucket it overlaps
  (``sequence(floor(start/W), floor(end/W))`` + ``explode`` —
  replication factor is ceil(len/W)+1, so W ≈ len keeps it ≤ 2);
- assign each probe row to its single bucket floor(ts/W);
- equi-join on the bucket id, then re-check the exact range predicate.

Each (interval, probe) pair meets in exactly one bucket — the probe's —
so the decomposition emits no duplicates and needs no distinct. The
shuffle is on bucket id: time-uniform data spreads evenly, and a hot
bucket (flash-crowd second) can be key-salted like any other equi-join.

Bucket-id arithmetic notes (why `(unix_micros/W).cast("long")` is safe):
the cast truncates rather than floors, but truncation is monotone, so
for any probe p in [start, end] its bucket always lies inside the
interval's replicated bucket range — no false negatives even where
truncation and floor disagree (negative epochs). And the double
division cannot truncate across a bucket edge: the quotient's rounding
error is at most ulp(q) = q·2⁻⁵², while a non-boundary quotient sits at
least 1/W from the edge, so the error/gap ratio is q·2⁻⁵²·W =
unix_micros·2⁻⁵² < 1 for any timestamp before ~year 2112. The exact
range predicate re-check after the equi-join removes every false
positive regardless.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_US = 1_000_000


def range_join(
    probe: DataFrame,
    intervals: DataFrame,
    probe_ts: str,
    start_col: str,
    end_col: str,
    bucket_seconds: int,
) -> DataFrame:
    """Inner-join probe rows to every interval containing them:
    ``start <= probe_ts < end`` (end-exclusive). Column names of the two
    inputs must be disjoint; output carries all columns of both sides.
    """
    overlap = set(probe.columns) & set(intervals.columns)
    if overlap:
        raise ValueError(f"column names must be disjoint, both have: {sorted(overlap)}")
    w_us = bucket_seconds * _US
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                (F.unix_micros(F.col(start_col)) / w_us).cast("long"),
                (F.unix_micros(F.col(end_col)) / w_us).cast("long"),
            )
        ),
    )
    pb = probe.withColumn("__bucket", (F.unix_micros(F.col(probe_ts)) / w_us).cast("long"))
    return (
        pb.join(iv, "__bucket")
        .filter(
            (F.col(probe_ts) >= F.col(start_col)) & (F.col(probe_ts) < F.col(end_col))
        )
        .drop("__bucket")
    )
