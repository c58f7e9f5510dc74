"""Structured Streaming wiring: query start and the stream-stream
interval join. Each reference pipeline is the batch operator
(operators/windows.py, operators/sessions.py) run on
``df.withWatermark(ts, WATERMARK)``, where ``df`` carries the event time
that the batch tables also use (sources/kafka.parse_tweets, or
sources/files.ensure_event_time for the parquet replays) — one query
for batch and stream (SIGMOD 2018, PAPERS.md). Semantics mapping
(SURVEY.md §2.5 T1, §7 hard-parts):

- Flink's ContinuousProcessingTimeTrigger(5 s) with early firing ≈ Spark
  ``trigger(processingTime='5 seconds')`` + ``outputMode('update')``:
  every 5 s each changed window emits its current partial aggregate —
  the same "dashboard refreshes every 5 s with speculative results"
  behavior; exact firing timestamps differ (documented deviation).
- The 300 s watermark (Main.java:66-73) maps to
  ``withWatermark(ts, WATERMARK)``; records later than that are
  dropped by both engines (no allowedLateness in the reference).
- Q-B's per-window argmax is a second stateful aggregation over a
  streaming aggregate; update-mode chaining of two aggs is not supported
  by Structured Streaming, so the top-1 step runs inside foreachBatch on
  the (tiny) changed-window set of each micro-batch — same observable
  output cadence as the reference's trigger firings. Q-A chains both
  aggregations natively in append mode.
- Q-C's global window + running sum is exactly Spark's ungrouped
  streaming aggregation in update mode.

State: per-key window state lives in Spark's default HDFS-backed
StateStore (executor heap, like the reference's unconfigured Flink
state backend); watermark eviction bounds it to (windows per key in the
300 s horizon). No query here chooses a provider: an operator who needs
another one sets the session's state-store provider class with
``--conf``, and a query restarted on an existing checkpoint keeps the
provider recorded in that checkpoint's offset log (SCALE.md).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


WATERMARK_S = 300  # Main.java:66 Time.seconds(300)
WATERMARK = f"{WATERMARK_S} seconds"
TRIGGER = "5 seconds"


def start_query(
    df: DataFrame,
    *,
    name: str,
    output_mode: str = "update",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """writeStream wiring shared by every pipeline: the 5 s processing-time
    trigger (Main.java:88) and, without ``foreach_batch``, the memory sink.

    ``available_now=True`` drains the source and stops — the mode the
    replay tests use for deterministic stream==batch assertions.
    """
    w = df.writeStream.queryName(name).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=TRIGGER)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    if foreach_batch is not None:
        return w.foreachBatch(foreach_batch).start()
    return w.format("memory").start()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    max_delay_s: int,
) -> DataFrame:
    """Watermarked stream-stream INNER join with a time-range condition:
    pairs where ``left_ts <= right_ts <= left_ts + max_delay_s`` on equal
    keys (the conversion-funnel / request-response shape). The reference
    has no joins at all (SURVEY.md §2.7); this is the engine's streaming
    join surface.

    Both sides carry watermarks and the range condition bounds state in
    BOTH directions: a left row is droppable once the right watermark
    passes ``left_ts + max_delay_s``, a right row once the left watermark
    passes ``right_ts`` — so state is O(rows in the delay+watermark
    horizon), not O(stream). Each side's watermark is the reference's
    WATERMARK. ``left_ts``/``right_ts`` must be distinct names (rename
    before calling); key columns are taken from the left.
    """
    l = left.withWatermark(left_ts, WATERMARK)
    r = right.withWatermark(right_ts, WATERMARK)
    key_eq = [l[k] == r[k] for k in key_cols]
    rng = (F.col(right_ts) >= F.col(left_ts)) & (
        F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay_s} SECONDS")
    )
    joined = l.join(r, key_eq + [rng], "inner")
    # de-duplicate key columns (present on both sides)
    keep = [l[k].alias(k) for k in key_cols]
    others = [c for c in joined.columns if c not in set(key_cols)]
    return joined.select(*keep, *[F.col(c) for c in others])
