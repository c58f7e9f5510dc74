"""Batch twins of the reference's four streaming pipelines (SURVEY.md
§2.11), parameterized per plans/params.py, over the driver's `events`
table (event_type plays the hashtag role — FIXTURES.md §2).

Each function takes (spark, sf_dir) and returns a DataFrame whose column
names match the paired oracle SQL in plans/oracles.py exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sessions import sessionize
from ..operators.topk import per_window_top1, top_k
from ..operators.windows import (
    running_total,
    sliding_window_counts,
    trending_two_stage,
    tumbling_counts,
)
from ..sources.files import ensure_event_time, load_table
from ..streaming.runner import WATERMARK, start_query, stream_interval_join
from . import params as P


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def qb_trending_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-B 'trending hashtag, single stage' (Main.java:104-146): sliding
    window → per-(window, key) counts → per-window argmax.

    The reference materializes every (hashtag,1) record in window state and
    runs a HashMap aggregation in the window function (Main.java:112-141);
    here the same answer is two hash aggregates with map-side partials —
    the shuffle carries one row per (window, event_type), and the argmax is
    a max(struct) aggregate, not a sort.
    """
    ev = _events(spark, sf_dir)
    counts = sliding_window_counts(
        ev, "ts", "event_type", f"{P.TREND_SIZE_S} seconds", f"{P.TREND_SLIDE_S} seconds"
    )
    return per_window_top1(counts, ["w_start", "w_end"], "event_type").select(
        "w_start", "w_end", "top_event_type", "top_cnt"
    )


def qa_trending_two_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-A 'trending hashtag, two stage' (Main.java:85-102): stage-1 keyed
    sliding-window counts, restamped on window end (P3, Main.java:90-97);
    stage-2 keeps stage-1 rows whose window-end lands in the first
    SAMPLE_SIZE of each SAMPLE_SLIDE period (the reference's 1 s-every-5 s
    sampling window W2, Main.java:98) and takes the argmax per sampling
    window (maxBy, Main.java:100).

    The sampling window is expressed as modular arithmetic on the stage-1
    window end — a narrow filter, no second shuffle of raw rows; only the
    tiny stage-1 aggregate stream is re-aggregated. The same
    ``trending_two_stage`` query is stream_qa_trending's streaming form.
    """
    return trending_two_stage(
        _events(spark, sf_dir),
        "ts",
        "event_type",
        f"{P.TREND_SIZE_S} seconds",
        f"{P.TREND_SLIDE_S} seconds",
        P.SAMPLE_SIZE_S,
        P.SAMPLE_SLIDE_S,
    )


def qc_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-C 'total tweet count' batch form (Main.java:148-157): cumulative
    event count sampled per bucket. The streaming form is an ungrouped
    count in update mode (examples/twitter_stream_app.build_queries)."""
    return running_total(_events(spark, sf_dir), "ts", f"{P.RUNNING_BUCKET_S} seconds")


def qd_counts_per_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-D 'tweets per second' (Main.java:159-175), scaled tumbling count."""
    return tumbling_counts(_events(spark, sf_dir), "ts", f"{P.TUMBLE_SIZE_S} seconds")


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON projection parity (MapToTweet, Main.java:202-219): pull a typed
    field out of a JSON string column and aggregate it. get_json_object is
    the point-lookup analog of the reference's Jackson projection; null on
    malformed input (PERMISSIVE) like the reference's null element."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.avg("k").alias("avg_k"),
        )
        .select("event_type", "n", "sum_k", "avg_k")
    )


def q_value_by_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sliding-window aggregation (A1's sum semantics with a real
    measure instead of the constant 1): per-(window, event_type) sum of
    `value`. Summed in DECIMAL so partial/final aggregation order can
    never change the answer (bit-exact vs the oracle), cast to DOUBLE at
    output — same money-arithmetic discipline as the TPC-H queries.
    Non-finite readings are nullified first (functions/numeric.py
    contract — previously the decimal cast happened to nullify them as
    a side effect while the oracle's identical cast CRASHED; round-10
    edge-corpus audit)."""
    from ..functions.numeric import finite_or_null

    ev = _events(spark, sf_dir).withColumn(
        "value_d", finite_or_null(F.col("value")).cast("decimal(18,6)")
    )
    out = sliding_window_counts(
        ev,
        "ts",
        "event_type",
        f"{P.TREND_SIZE_S} seconds",
        f"{P.TREND_SLIDE_S} seconds",
        weight_col="value_d",
    )
    return out.select(
        "w_start", "w_end", "event_type", F.col("cnt").cast("double").alias("sum_value")
    )


def q_tokenize_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize→explode→count→top-k (the reference's tokenizer F1 +
    trending shape, Main.java:180-200) over documents.text with the
    generic \\w+ token pattern (the corpus has no # sigils).

    TakeOrderedAndProject keeps the top-k selection heap-based per
    partition — no global sort at any scale.
    """
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(tokens(F.col("text"))).alias("token"))
    counts = tok.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    return top_k(counts, "cnt", P.TOKEN_TOP_K, "token").select("token", "cnt")


LAST_DRAIN_TIMING: dict = {}
"""query_start/query_end perf_counter stamps of the most recent drain —
see _drain_events_stream."""

_REPLAY_FILES = 3  # time-ordered files, one micro-batch each
_STATE_PARTITIONS = 4  # a replay's shuffle partitions — see _drain_events_stream


def _drain_events_stream(
    spark: SparkSession,
    sf_dir: str,
    view: str,
    build: "Callable[[DataFrame], DataFrame]",
    output_mode: str,
    progress: list | None = None,
) -> DataFrame:
    """Replay the events table through the ACTUAL Structured Streaming
    engine and return the drained memory sink as a batch DataFrame.

    Shared harness for every ``stream_*`` gate entry: split the parquet
    into _REPLAY_FILES time-ordered files in a temp dir, readStream them
    ONE PER MICRO-BATCH (``maxFilesPerTrigger=1``), apply ``build`` to
    the event-time-normalized stream (``ensure_event_time``, no
    watermark: each entry sets its own, and Spark disallows redefining
    one on an already-watermarked lineage), drain with availableNow into
    a memory sink named ``view``. The sink view stays registered so the
    returned DataFrame can be evaluated lazily; it is dropped and rebuilt
    on the next invocation.

    Multi-batch replay (VERDICT r3 item 1): the rows are SORTED by event
    time and sliced into _REPLAY_FILES contiguous ranges, so every
    micro-batch's earliest event sits at or after the previous batch's
    latest — the watermark (max seen − delay) can never drop a later
    batch's rows as late, and the drain exercises REAL cross-batch
    state: watermark advancement between micro-batches, mid-stream
    eviction/finalization, and append-mode emission as the watermark
    passes window ends — not the single-batch degenerate case where all
    state lives and dies in one commit. The file source admits files in
    modification-time order (``latestFirst`` default false), so each
    split file gets a strictly increasing mtime stamp. A table with fewer
    rows than _REPLAY_FILES is split into fewer files.

    ``progress`` (optional) receives the query's recentProgress entries
    after the drain — tests assert ≥2 non-empty micro-batches and zero
    watermark-dropped rows from it. The module-global LAST_DRAIN_TIMING
    is refilled with ``query_start``/``query_end`` perf_counter stamps
    bracketing ONLY the stream execution (start→termination), so the
    bench probe's seconds exclude the replay-prep and conf bookkeeping
    (ADVICE r3).

    _STATE_PARTITIONS sizes ``spark.sql.shuffle.partitions`` for THIS
    query only (captured at stream start, restored after the drain):
    each stateful operator commits one state-store instance per shuffle
    partition per micro-batch, so a bounded replay pays fixed cost per
    partition — measured 2× wall on the sf0.1 drains going from 32
    partitions to 8, and a vanilla 200-partition session is worse. The
    round-14 sweep (tools/stream_partition_sweep.py @ a8b586f, query-only seconds,
    min-over-3 at sf0.1) moved the default 8 → 4: qb_counts 2.17→1.91,
    dedup_keys 1.62→1.46, interval_pairs 4.80→3.63, session_counts
    2.03→1.64 (2 partitions is within noise of 4 everywhere — the curve
    is flat at the bottom, so 4 keeps parallelism headroom). On a real
    cluster SIZE THIS UP: the same knob must exceed total cores and
    keep per-partition state within executor memory (SCALE.md).
    """
    import os
    import shutil
    import tempfile
    import time

    import pyarrow.parquet as pq

    LAST_DRAIN_TIMING.clear()
    load_table(spark, sf_dir, "events")  # sets nanosAsLong/UTC session confs
    src = os.path.join(sf_dir, "events.parquet")
    d = tempfile.mkdtemp(prefix=f"{view}_")
    try:
        spark.catalog.dropTempView(view)  # idempotent re-runs
    except Exception:
        pass
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(_STATE_PARTITIONS))
        schema = spark.read.parquet(src).schema
        table = pq.read_table(src).sort_by([("ts", "ascending")])
        n = table.num_rows
        parts = max(1, min(_REPLAY_FILES, n))
        for i in range(parts):
            lo, hi = i * n // parts, (i + 1) * n // parts
            path = os.path.join(d, f"events_{i:03d}.parquet")
            pq.write_table(table.slice(lo, hi - lo), path)
            # strictly increasing mtimes pin the file source's batch
            # order (same trick the eviction unit test relies on)
            os.utime(path, (1_000_000_000 + i * 3600,) * 2)
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        plan = build(ensure_event_time(stream, "ts"))
        try:
            LAST_DRAIN_TIMING["query_start"] = time.perf_counter()
            q = start_query(plan, name=view, output_mode=output_mode, available_now=True)
            # on timeout the query would keep reading the split files the
            # finally block deletes and the memory sink would be
            # half-populated — stop it and fail loudly instead
            if not q.awaitTermination(600):
                q.stop()
                raise TimeoutError(f"{view}: drain did not finish within 600s")
            LAST_DRAIN_TIMING["query_end"] = time.perf_counter()
        except BaseException:
            # never leave a half-filled timing dict behind (ADVICE r4):
            # a consumer checking `if LAST_DRAIN_TIMING` after a failed
            # drain would KeyError on query_end or pair a fresh
            # query_end with a stale query_start
            LAST_DRAIN_TIMING.pop("query_start", None)
            LAST_DRAIN_TIMING.pop("query_end", None)
            raise
        if progress is not None:
            progress.extend(q.recentProgress)
        return spark.table(view)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        shutil.rmtree(d, ignore_errors=True)


def stream_qb_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-B stage 1 executed by the ACTUAL Structured Streaming engine —
    not a batch twin: the events table is replayed through readStream →
    the batch entries' ``sliding_window_counts`` in update mode → memory
    sink, drained with availableNow, and the sink's final state is
    returned as a batch DataFrame. The paired oracle is the same
    sliding-window SQL the batch form uses, so the driver's hash compare
    certifies stream==batch convergence (the Structured Streaming
    correctness property, PAPERS.md SIGMOD 2018) — not just our pytest
    suite's word for it.

    The replay drains in ≥3 time-ordered micro-batches (see
    _drain_events_stream), so the sink holds one row per (window, key)
    PER BATCH the count changed in; max(cnt) per key collapses the
    update-mode re-emissions to the final value (counts are monotone
    per key). Nothing is watermark-dropped — the time-sliced files
    guarantee every batch's rows sit above the watermark the previous
    batches set.
    """
    sink = _drain_events_stream(
        spark,
        sf_dir,
        "stream_qb_counts_sink",
        lambda s: sliding_window_counts(
            s.withWatermark("ts", WATERMARK),
            "ts",
            "event_type",
            f"{P.TREND_SIZE_S} seconds",
            f"{P.TREND_SLIDE_S} seconds",
        ),
        output_mode="update",
    )
    return sink.groupBy("w_start", "w_end", "event_type").agg(
        F.max("cnt").alias("cnt")
    )


DEDUP_REPLAY_WATERMARK = "45 days"
"""Dedup-horizon override for the gate replay: the events tables span
~30 days, so a horizon-spanning delay makes the emitted set exactly the
distinct key set — every recurrence of a key lands while its state is
live and is dropped by a REAL cross-batch state lookup (the replay
drains in ≥3 micro-batches). The dedup delay is a business knob (how
far apart can two records be and still count as duplicates?), not the
disorder bound; a production horizon shorter than the key-recurrence
gap legitimately re-emits after eviction — that semantics is pinned by
tests/test_streaming.py::test_stream_dedup_reemits_after_watermark_eviction,
where the batch split is hand-built so the eviction point is known."""


def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup through the real engine:
    ``dropDuplicatesWithinWatermark`` (the watermark-state-bounded
    streaming form of operators/dedup.exact_dedup) over the replayed
    events, keyed on (user_id, event_type), append mode, with the dedup
    horizon sized to the replay span (DEDUP_REPLAY_WATERMARK above). The
    dedup delay IS the horizon — a business knob independent of the
    disorder bound the windowed aggregations use.

    Only the dedup key columns are emitted: which physical row survives
    per key is an engine-internal ordering choice, but the KEY SET — and
    exactly-once emission per key — is deterministic, so the oracle is
    ``SELECT DISTINCT``. No final ``.distinct()`` guard is applied on
    the sink: a double-emission bug — including a key slipping past the
    state lookup across a micro-batch boundary — would surface as a
    row-count mismatch, which is precisely what the gate should catch.
    Keys recur in every batch of the multi-batch replay, so the hash
    match certifies cross-batch dedup state for real.
    """
    sink = _drain_events_stream(
        spark,
        sf_dir,
        "stream_dedup_keys_sink",
        lambda s: s.withWatermark("ts", DEDUP_REPLAY_WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type"),
        output_mode="append",
    )
    return sink.select("user_id", "event_type")


STREAM_JOIN_DELAY_S = 3600


def stream_interval_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's stream-stream join surface run by the real engine:
    per user, purchases within STREAM_JOIN_DELAY_S after an error —
    ``stream_interval_join`` (streaming/runner.py) over two watermarked
    legs filtered from the same replayed source, append mode. Emits the
    raw (err_id, p_id) pair set.

    The multi-batch replay makes the oracle — a plain SQL range join —
    a real cross-batch assertion: error rows from one micro-batch must
    still be in join state when their matching purchases arrive batches
    later. That no matched pair can be evicted early falls out of the
    time-ordered split plus the join's own state bound: an error is
    droppable only once the watermark passes err_ts + delay, and any
    purchase a later batch could contribute with p_ts ≤ err_ts + delay
    would then already be behind the watermark — contradiction. State
    stays bounded in BOTH directions via the watermarks + range
    condition (see stream_interval_join's docstring).
    """
    def build(s: DataFrame) -> DataFrame:
        # stream_interval_join assigns each leg its own watermark
        errs = s.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("ts").alias("err_ts"),
        )
        purch = s.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        return stream_interval_join(
            errs, purch, ["user_id"], "err_ts", "p_ts", STREAM_JOIN_DELAY_S
        ).select("err_id", "p_id")

    sink = _drain_events_stream(
        spark, sf_dir, "stream_interval_pairs_sink", build, output_mode="append"
    )
    return sink.select("err_id", "p_id")


def stream_qa_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q-A as ONE natively chained two-aggregation streaming query
    (operators/windows.py::trending_two_stage, append mode) run by
    the real engine. The oracle is the batch Q-A SQL restricted to the
    sampling windows the final watermark (max event time − 300 s)
    finalizes: append mode only emits a window once the watermark passes
    its end, so the tail windows of a bounded replay legitimately never
    fire — the oracle encodes exactly that envelope instead of
    pretending the stream saw infinity. Under the multi-batch replay
    most sampling windows finalize MID-STREAM (the watermark advances
    between micro-batches), so the hash also certifies incremental
    append emission + chained-aggregation state handoff across batches.
    """
    sink = _drain_events_stream(
        spark,
        sf_dir,
        "stream_qa_trending_sink",
        lambda s: trending_two_stage(
            s.withWatermark("ts", WATERMARK),
            "ts",
            "event_type",
            f"{P.TREND_SIZE_S} seconds",
            f"{P.TREND_SLIDE_S} seconds",
            P.SAMPLE_SIZE_S,
            P.SAMPLE_SLIDE_S,
        ),
        output_mode="append",
    )
    return sink.select("sample_w_start", "top_event_type", "top_cnt")


STREAM_SESSION_GAP_S = 50000
"""Session gap for the streaming session gate entry. Deliberately near
the events tables' mean per-user inter-event gap (~39 000 s at every
SF), so sessions routinely MERGE across events — and, under the
multi-batch replay, across micro-batch boundaries — instead of
degenerating into one-event sessions (the batch twin's 1 800 s gap) or
one giant session per user."""


def stream_session_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native streaming session windows through the real engine
    (operators/sessions.py::sessionize — the same query as the batch
    events_sessionize entry): per-(user, session) event counts,
    append mode. The last implemented-but-not-gate-verified streaming
    operator (VERDICT r3 item 5).

    Append mode emits a session once the watermark passes its END (last
    event + gap), so the oracle is the batch gaps-and-islands rewrite
    restricted to sessions the final watermark (max event time − 300 s)
    finalizes — the same bounded-replay envelope stream_qa_trending
    encodes. A session that a later micro-batch would have extended is
    never emitted early: an event within the gap of a live session
    cannot sit behind the watermark that would finalize it (the
    time-ordered split guarantees arriving events are never late), so
    mid-stream finalization and the batch session assignment agree
    exactly — that agreement is what the multi-batch hash certifies.
    """
    sink = _drain_events_stream(
        spark,
        sf_dir,
        "stream_session_counts_sink",
        lambda s: sessionize(
            s.withWatermark("ts", WATERMARK), "ts", "user_id", f"{STREAM_SESSION_GAP_S} seconds"
        ),
        output_mode="append",
    )
    return sink.select("user_id", "session_start", "session_last", "n_events")
