"""Structured Streaming forms of the four reference pipelines.

Semantics mapping (SURVEY.md §2.5 T1, §7 hard-parts):

- Flink's ContinuousProcessingTimeTrigger(5 s) with early firing ≈ Spark
  ``trigger(processingTime='5 seconds')`` + ``outputMode('update')``:
  every 5 s each changed window emits its current partial aggregate —
  the same "dashboard refreshes every 5 s with speculative results"
  behavior; exact firing timestamps differ (documented deviation).
- The 300 s watermark (Main.java:66-73) maps to
  ``withWatermark(ts, '300 seconds')``; records later than that are
  dropped by both engines (no allowedLateness in the reference).
- Q-A/Q-B's per-window argmax is a second stateful aggregation over a
  streaming aggregate; update-mode chaining of two aggs is not supported
  by Structured Streaming, so the top-1 step runs inside foreachBatch on
  the (tiny) changed-window set of each micro-batch — same observable
  output cadence as the reference's trigger firings.
- Q-C's global window + running sum is exactly Spark's ungrouped
  streaming aggregation in update mode.

State at scale: per-key window state lives in the executor StateStore
(RocksDB provider on a real cluster — conf
``spark.sql.streaming.stateStore.providerClass``); watermark eviction
bounds it to (windows per key in the 300 s horizon).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


WATERMARK_S = 300
WATERMARK = f"{WATERMARK_S} seconds"
TRIGGER = "5 seconds"

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def ensure_event_time(df: DataFrame, ts_col: str) -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) so
    ``withWatermark`` accepts it: parquet written with
    isAdjustedToUTC=false loads as TIMESTAMP_NTZ, which the watermark
    machinery rejects. The cast reinterprets the wall-clock value in the
    session timezone, so it is value-preserving ONLY under UTC — asserted
    here rather than assumed, because a caller-built non-UTC session
    would otherwise get silently shifted event times (ADVICE r2)."""
    if dict(df.dtypes).get(ts_col) == "timestamp_ntz":
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
            raise ValueError(
                f"casting TIMESTAMP_NTZ column {ts_col!r} to TIMESTAMP requires a "
                f"UTC session (spark.sql.session.timeZone={tz!r} would shift event "
                "times); set the session timezone to UTC first"
            )
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def start_query(
    df: DataFrame,
    *,
    name: str,
    output_mode: str = "update",
    trigger_interval: str | None = TRIGGER,
    sink_format: str = "memory",
    foreach_batch: Callable[[DataFrame, int], None] | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = False,
    state_store: str | None = None,
) -> StreamingQuery:
    """writeStream wiring shared by every pipeline.

    ``available_now=True`` drains the source and stops — the mode the
    replay tests use for deterministic stream==batch assertions.

    ``state_store="rocksdb"`` selects the RocksDB state store provider
    for this query — the 100 TB streaming-state path: the default
    HDFS-backed provider keeps every key-window pair's state in executor
    HEAP (state size is then bounded by executor memory), while RocksDB
    spills to local SSD and bounds only the working set. Changelog
    checkpointing is enabled with it so per-batch commits upload deltas
    instead of full SST snapshots. The provider class is a session conf
    captured by each query AT START, so it is set here just before
    ``start()``; queries already running are unaffected, but set it back
    (or pass ``state_store=None``, which leaves the conf untouched) before
    concurrently starting a query that must use the default provider.
    """
    if state_store is not None:
        spark = df.sparkSession
        if state_store == "rocksdb":
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
            spark.conf.set(
                "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
                "true",
            )
        elif state_store in ("hdfs", "default"):
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            raise ValueError(f"unknown state_store {state_store!r}")
    w = df.writeStream.queryName(name).outputMode(output_mode)
    if available_now:
        w = w.trigger(availableNow=True)
    elif trigger_interval is not None:
        w = w.trigger(processingTime=trigger_interval)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    if foreach_batch is not None:
        return w.foreachBatch(foreach_batch).start()
    return w.format(sink_format).start()


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    max_delay_s: int,
    watermark: str = WATERMARK,
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
    horizon), not O(stream). ``left_ts``/``right_ts`` must be distinct
    names (rename before calling); key columns are taken from the left.
    """
    l = ensure_event_time(left, left_ts).withWatermark(left_ts, watermark)
    r = ensure_event_time(right, right_ts).withWatermark(right_ts, watermark)
    key_eq = [l[k] == r[k] for k in key_cols]
    rng = (F.col(right_ts) >= F.col(left_ts)) & (
        F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {max_delay_s} SECONDS")
    )
    joined = l.join(r, key_eq + [rng], "inner")
    # de-duplicate key columns (present on both sides)
    keep = [l[k].alias(k) for k in key_cols]
    others = [c for c in joined.columns if c not in set(key_cols)]
    return joined.select(*keep, *[F.col(c) for c in others])


class StreamingPipelines:
    """The four reference pipelines over any tweet-shaped stream
    (columns: text/key column + ts TIMESTAMP)."""

    def __init__(
        self,
        stream: DataFrame,
        ts_col: str = "ts",
        key_col: str = "event_type",
        watermark: str = WATERMARK,
    ):
        # raw: event-time-normalized but NOT yet watermarked — the input
        # for operators that define their own watermarks (e.g. the two
        # legs of stream_interval_join; Spark disallows redefining a
        # watermark on an already-watermarked lineage)
        self.raw = ensure_event_time(stream, ts_col)
        self.stream = self.raw.withWatermark(ts_col, watermark)
        self.ts_col = ts_col
        self.key_col = key_col

    def windowed_counts(self, size: str = "30 seconds", slide: str = "5 seconds") -> DataFrame:
        """Q-B stage 1 (W3+A3's aggregation half): per-(window, key)
        counts, update-mode-ready."""
        return (
            self.stream.groupBy(
                F.window(F.col(self.ts_col), size, slide).alias("window"),
                F.col(self.key_col),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(
                F.col("window.start").cast("long").alias("w_start"),
                F.col("window.end").cast("long").alias("w_end"),
                F.col(self.key_col),
                F.col("cnt"),
            )
        )

    def running_total(self) -> DataFrame:
        """Q-C (W4+T1+A5): ungrouped streaming agg — Spark's native global
        window; update mode emits the new running total each trigger."""
        return self.stream.agg(F.count(F.lit(1)).alias("total"))

    def counts_per_second(self, size: str = "1 second") -> DataFrame:
        """Q-D (W5+A6): tumbling event-time counts."""
        return (
            self.stream.groupBy(F.window(F.col(self.ts_col), size).alias("window"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").cast("long").alias("w_start"), F.col("cnt"))
        )

    def dedup_within_watermark(
        self, id_cols: list[str], watermark: str | None = None
    ) -> DataFrame:
        """Streaming exact dedup with state bounded by the watermark —
        the streaming twin of operators/dedup.exact_dedup.

        ``watermark`` overrides the pipeline's delay for this operator
        only (re-assigned on the pre-watermark stream — Spark disallows
        redefining one on an already-watermarked lineage): the delay IS
        the dedup horizon, a business knob independent of the disorder
        bound the windowed aggregations use. A key recurring after its
        state was evicted legitimately re-emits
        (tests/test_streaming.py::test_stream_dedup_reemits_after_watermark_eviction).
        """
        src = (
            self.stream
            if watermark is None
            else self.raw.withWatermark(self.ts_col, watermark)
        )
        return src.dropDuplicatesWithinWatermark(id_cols)

    def trending_two_stage_append(
        self,
        size: str = "30 seconds",
        slide: str = "5 seconds",
        sample_size_s: int = 1,
        sample_slide_s: int = 5,
    ) -> DataFrame:
        """Q-A as ONE streaming query with natively chained stateful
        aggregations (append mode, Spark ≥ 3.4) — no foreachBatch bridge:
        stage-1 keyed sliding-window counts → stateless modular filter
        implementing the reference's sampling window (W2, size < slide;
        Spark 4's ``window()`` rejects slide > duration, so the gap
        semantics live in a filter exactly as in the batch twin) →
        stage-2 re-windows the survivors by their event time
        (``window_time`` = window.end − 1 µs) into tumbling
        ``sample_slide_s`` buckets and takes the argmax.

        Because surviving stage-1 window-ends sit in the first
        ``sample_size_s`` of each slide period, the 1 µs-early window_time
        falls in the PREVIOUS tumbling bucket; the emitted
        ``sample_w_start`` adds the slide back so it names the same
        sampling window as the batch query. This shift is exact when every
        surviving window-end is slide-aligned, i.e. requires
        ``sample_size_s <= gcd(stage-1 slide, sample_slide_s)`` — the
        reference's 1 s/5 s (and any size-1 sampling of slide-aligned
        windows) satisfies it. Both stages evict state by the one
        watermark; a sampling window emits once the watermark passes its
        end.
        """
        s1 = self.stream.groupBy(
            F.window(F.col(self.ts_col), size, slide).alias("window"), F.col(self.key_col)
        ).agg(F.count(F.lit(1)).alias("cnt"))
        sampled = s1.filter(
            F.col("window.end").cast("long") % sample_slide_s < sample_size_s
        )
        return (
            sampled.groupBy(
                F.window(F.window_time("window"), f"{sample_slide_s} seconds").alias("sw")
            )
            .agg(F.max(F.struct(F.col("cnt"), F.col(self.key_col))).alias("top"))
            .select(
                (F.col("sw.start").cast("long") + sample_slide_s).alias("sample_w_start"),
                F.col(f"top.{self.key_col}").alias(f"top_{self.key_col}"),
                F.col("top.cnt").alias("top_cnt"),
            )
        )

    def session_counts(self, gap: str = "30 seconds", key_col: str | None = None) -> DataFrame:
        """Native session windows over the stream (the streaming twin of
        operators/sessions.sessionize): per-(key, session) event counts.
        Sessions finalize (append mode) once the watermark passes the
        session end (last event + gap); state evicts with them.
        ``key_col`` overrides the pipeline key (e.g. user sessions over a
        stream whose default key is the event type)."""
        key_col = key_col or self.key_col
        return (
            self.stream.groupBy(
                F.session_window(F.col(self.ts_col), gap).alias("sw"), F.col(key_col)
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.min(F.col(self.ts_col).cast("long")).alias("session_start"),
                F.max(F.col(self.ts_col).cast("long")).alias("session_last"),
            )
            .select(key_col, "session_start", "session_last", "n_events")
        )
