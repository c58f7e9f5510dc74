"""Event-time window operators (SURVEY.md §2.5/§2.6).

Reference semantics being reproduced:

- W1+A1+A2 (Main.java:85-89, 75-83, 358-383): keyed sliding event-time
  window with incremental per-key sum, output decorated with the window end.
  Spark: ``groupBy(window(ts, size, slide), key).agg(...)`` — the hash
  aggregate already does partial (map-side) + final aggregation, which is
  exactly the Flink AggregateFunction add/merge contract, and the window
  struct column carries start/end natively.
- W2 (Main.java:98): a *sampling* window — size 1 s, slide 5 s, i.e. the
  window covers only the first fifth of each slide period and rows in the
  4 s gaps are dropped. ``trending_two_stage`` applies it to the stage-1
  window ends as a modular-arithmetic filter.
- W4+T1+A5 (Main.java:148-157): global window + processing-time trigger +
  running sum. Batch: cumulative count over time buckets
  (``running_total``); a stream is an ungrouped count in update mode.
- W5+A6 (Main.java:159-174): tumbling count.

Every operator here is one DataFrame query that runs unchanged as a batch
job or, over a watermarked stream, as a Structured Streaming query.

All outputs expose window boundaries as BIGINT epoch seconds
(``w_start``/``w_end``) — stable to hash across engines, unlike raw
timestamps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _win_cols() -> list[Column]:
    return [
        F.col("window.start").cast("long").alias("w_start"),
        F.col("window.end").cast("long").alias("w_end"),
    ]


def sliding_window_counts(
    df: DataFrame,
    ts_col: str,
    key_col: str | None,
    size: str,
    slide: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Per-(window[, key]) counts (or weighted sums) over a sliding
    event-time window.

    Scale notes: window() explodes each row into size/slide window copies
    before the hash aggregate — the shuffle carries pre-aggregated partial
    sums only (Catalyst plans partial_count → exchange → final_count), so
    the network volume is O(#distinct (window,key)), not O(rows). Skewed
    keys (one viral hashtag) are handled by AQE skew handling plus the
    two-level aggregate; no manual salting needed for counts because the
    partial aggregate already collapses per-partition duplicates.
    """
    keys = [F.window(F.col(ts_col), size, slide).alias("window")]
    if key_col is not None:
        keys.append(F.col(key_col))
    agg = (
        F.sum(F.col(weight_col)).alias("cnt")
        if weight_col
        else F.count(F.lit(1)).alias("cnt")
    )
    out_cols = _win_cols() + ([F.col(key_col)] if key_col else []) + [F.col("cnt")]
    return df.groupBy(*keys).agg(agg).select(*out_cols)


def tumbling_counts(df: DataFrame, ts_col: str, size: str) -> DataFrame:
    """W5+A6: count per tumbling window (Main.java:159-174)."""
    return (
        df.groupBy(F.window(F.col(ts_col), size).alias("window"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(*_win_cols(), F.col("cnt"))
    )


def trending_two_stage(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    size: str,
    slide: str,
    sample_size_s: int,
    sample_slide_s: int,
) -> DataFrame:
    """Q-A (Main.java:85-102): stage-1 keyed sliding-window counts → the
    reference's sampling window (W2, size < slide) as a modular filter on
    the window end, since Spark 4's ``window()`` rejects slide > duration
    → stage 2 re-windows the survivors by ``window_time`` (window.end −
    1 µs) into tumbling ``sample_slide_s`` buckets and takes the argmax
    (maxBy, Main.java:100; ties → greatest key, as in
    operators/topk.per_window_top1). As a stream it is one append-mode
    query with two chained stateful aggregations evicted by one
    watermark; a sampling window emits once the watermark passes its end.

    The 1 µs-early window_time of a surviving window end falls in the
    PREVIOUS tumbling bucket, so ``sample_w_start`` adds the slide back.
    That is exact when every surviving window end is slide-aligned, i.e.
    ``sample_size_s <= gcd(slide, sample_slide_s)`` — true of the
    reference's 1 s/5 s.
    """
    s1 = df.groupBy(
        F.window(F.col(ts_col), size, slide).alias("window"), F.col(key_col)
    ).agg(F.count(F.lit(1)).alias("cnt"))
    sampled = s1.filter(F.col("window.end").cast("long") % sample_slide_s < sample_size_s)
    return (
        sampled.groupBy(
            F.window(F.window_time("window"), f"{sample_slide_s} seconds").alias("sw")
        )
        .agg(F.max(F.struct(F.col("cnt"), F.col(key_col))).alias("top"))
        .select(
            (F.col("sw.start").cast("long") + sample_slide_s).alias("sample_w_start"),
            F.col(f"top.{key_col}").alias(f"top_{key_col}"),
            F.col("top.cnt").alias("top_cnt"),
        )
    )


def running_total(df: DataFrame, ts_col: str, bucket: str = "1 hour") -> DataFrame:
    """Batch form of the global-window running count (W4+A5,
    Main.java:148-155): per-bucket counts plus the cumulative total as of
    each bucket end.

    The cumulative window function runs unpartitioned — acceptable because
    its input cardinality is the number of *buckets* (hours), not rows: the
    heavy aggregation happened in the distributed groupBy below it. This is
    the standard scale shape for running totals.
    """
    per_bucket = (
        df.groupBy(F.window(F.col(ts_col), bucket).alias("window"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("window.start").cast("long").alias("bucket_start"), F.col("cnt"))
    )
    w = Window.orderBy("bucket_start").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_bucket.select(
        "bucket_start",
        "cnt",
        F.sum("cnt").over(w).alias("running_total"),
    )
