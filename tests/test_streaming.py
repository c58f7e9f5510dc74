"""Stream==batch equivalence (FIXTURES.md §3) and sink formatting.

The core Structured Streaming correctness property: replaying the same
rows through readStream + the same logical ops must converge to the batch
answer once the source is drained.
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from flink_streaming_twitter_spark.operators.sessions import sessionize
from flink_streaming_twitter_spark.operators.windows import (
    sliding_window_counts,
    trending_two_stage,
    tumbling_counts,
)
from flink_streaming_twitter_spark.sources.files import ensure_event_time
from flink_streaming_twitter_spark.streaming.runner import (
    WATERMARK,
    start_query,
    stream_interval_join,
)
from flink_streaming_twitter_spark.streaming.sinks import influx_line, to_influx_points

SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ]
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _watermarked(stream, delay=WATERMARK):
    """The input every pipeline operator runs on as a stream."""
    return ensure_event_time(stream, "ts").withWatermark("ts", delay)


def _write_flat(d, parts, cols=("event_type",), start=0):
    """Write each part as ONE flat parquet file ``f{i:02d}.parquet`` in
    ``d``, numbered from ``start`` (the file source does not admit nested
    .parquet directories), with strictly increasing mtimes that pin the
    order the file source admits them in — the layout the gate drain
    harness uses. A part is a list of ``(ts, *cols)`` rows, ``ts`` a
    datetime or whole seconds after BASE."""
    for i, part in enumerate(parts, start=start):
        p = f"{d}/f{i:02d}.parquet"
        ts, *values = zip(*part)
        t = pa.table(
            {
                "ts": pa.array(
                    [BASE + dt.timedelta(seconds=v) if isinstance(v, int) else v for v in ts],
                    pa.timestamp("us"),
                ),
                **{c: pa.array(list(v)) for c, v in zip(cols, values)},
            }
        )
        pq.write_table(t, p)
        os.utime(p, (1_700_000_000 + i * 3600,) * 2)


@pytest.fixture()
def replay_dir(spark):
    d = tempfile.mkdtemp(prefix="replay_")
    rows = [
        (BASE + dt.timedelta(seconds=s), k)
        for s, k in [(0, "a"), (1, "a"), (2, "b"), (6, "a"), (7, "b"), (8, "b"), (11, "a")]
    ]
    # two part files → at least two micro-batches with maxFilesPerTrigger=1
    spark.createDataFrame(rows[:4], SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
    spark.createDataFrame(rows[4:], SCHEMA).coalesce(1).write.mode("append").parquet(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_windowed_counts_equal_batch(spark, replay_dir):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(replay_dir)
    wm = _watermarked(stream)
    q = start_query(
        sliding_window_counts(wm, "ts", "event_type", "10 seconds", "5 seconds"),
        name="wc_stream",
        output_mode="complete",
        available_now=True,
    )
    q.awaitTermination(120)

    batch = spark.read.schema(SCHEMA).parquet(replay_dir)
    expected = {
        (r.w_start, r.event_type): r.cnt
        for r in (
            batch.groupBy(F.window("ts", "10 seconds", "5 seconds").alias("window"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").cast("long").alias("w_start"), "event_type", "cnt")
            .collect()
        )
    }
    got = {
        (r.w_start, r.event_type): r.cnt
        for r in spark.sql("SELECT * FROM wc_stream").collect()
    }
    assert got == expected and len(got) > 0


def test_stream_running_total_converges(spark, replay_dir):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(replay_dir)
    wm = _watermarked(stream)
    q = start_query(
        wm.agg(F.count(F.lit(1)).alias("total")),
        name="rt_stream",
        output_mode="complete",
        available_now=True,
    )
    q.awaitTermination(120)
    [row] = spark.sql("SELECT * FROM rt_stream").collect()
    assert row.total == 7


def test_stream_dedup_within_watermark(spark, replay_dir):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(replay_dir)
    wm = _watermarked(stream)
    q = start_query(
        wm.dropDuplicatesWithinWatermark(["event_type"]),
        name="dd_stream",
        output_mode="append",
        available_now=True,
    )
    q.awaitTermination(120)
    kinds = [r.event_type for r in spark.sql("SELECT * FROM dd_stream").collect()]
    assert sorted(kinds) == ["a", "b"]


def test_stream_chained_two_stage_trending_equals_batch(spark, replay_dir):
    """Natively chained stateful aggregations (two windowed aggs in ONE
    append-mode query) must converge to the batch answer for every
    sampling window the final watermark finalizes."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix="chained_")
    try:
        # copy the replay rows and add a far-future flush event so the
        # watermark finalizes every real sampling window
        rows = [
            (BASE + dt.timedelta(seconds=s), k)
            for s, k in [(0, "a"), (1, "a"), (2, "b"), (6, "a"), (7, "b"), (8, "b"), (11, "a")]
        ]
        flush = [(BASE + dt.timedelta(seconds=1000), "zz_flush")]
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("overwrite").parquet(d)
        spark.createDataFrame(flush, SCHEMA).coalesce(1).write.mode("append").parquet(d)

        stream = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(d)
        )
        wm = _watermarked(stream)
        q = start_query(
            trending_two_stage(wm, "ts", "event_type", "10 seconds", "5 seconds", 1, 5),
            name="chain_stream",
            output_mode="append",
            available_now=True,
        )
        q.awaitTermination(120)
        got = {
            (r.sample_w_start, r.top_event_type, r.top_cnt)
            for r in spark.sql("SELECT * FROM chain_stream").collect()
        }

        batch = spark.read.schema(SCHEMA).parquet(d)
        base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        expected = {
            (r.sample_w_start, r.top_event_type, r.top_cnt)
            for r in trending_two_stage(
                batch, "ts", "event_type", "10 seconds", "5 seconds", 1, 5
            ).collect()
            # only sampling windows the 1000 s flush event finalizes
            if r.sample_w_start < base_epoch + 900
        }
        assert got == expected and len(got) > 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_session_counts_equal_batch(spark, replay_dir):
    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(replay_dir)
    wm = _watermarked(stream)
    q = start_query(
        sessionize(wm, "ts", "event_type", "3 seconds"),
        name="sess_stream",
        output_mode="complete",
        available_now=True,
    )
    q.awaitTermination(120)

    batch = spark.read.schema(SCHEMA).parquet(replay_dir)
    expected = {
        (r.event_type, r.session_start, r.session_last, r.n_events)
        for r in sessionize(batch, "ts", "event_type", "3 seconds").collect()
    }
    got = {
        (r.event_type, r.session_start, r.session_last, r.n_events)
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    assert got == expected and len(got) > 0


def test_stream_session_merges_across_micro_batches(spark):
    """The property the multi-batch session gate entry certifies in
    bulk, pinned on a hand-built fixture: an event arriving in a LATER
    micro-batch but within the gap of a live session must MERGE into it
    (cross-batch session state), a session the final watermark finalizes
    is emitted exactly once, and one it doesn't finalize is withheld."""
    import glob
    import os
    import time as _time

    d = tempfile.mkdtemp(prefix="sessmb_")
    try:
        # file 1: session "a" opens (t=0, 8); file 2: t=14 extends it
        # across the batch boundary (gap 10 s: 14 − 8 < 10); file 3's
        # flush advances the watermark to 1000−300=700, finalizing
        # a (end 14+10=24) and b (end 689+10=699 < 700) but NOT c
        # (end 950+10=960 > 700)
        files = [
            [(BASE + dt.timedelta(seconds=s), "a") for s in (0, 8)],
            [(BASE + dt.timedelta(seconds=14), "a"), (BASE + dt.timedelta(seconds=689), "b")],
            [(BASE + dt.timedelta(seconds=950), "c"), (BASE + dt.timedelta(seconds=1000), "flush")],
        ]
        stamped: set[str] = set()
        t0 = _time.time()
        for i, rows in enumerate(files):
            mode = "overwrite" if i == 0 else "append"
            spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(mode).parquet(d)
            for f in glob.glob(os.path.join(d, "*.parquet")):
                if f not in stamped:
                    os.utime(f, (t0 + i * 10, t0 + i * 10))
                    stamped.add(f)

        stream = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(d)
        )
        wm = _watermarked(stream)
        q = start_query(
            sessionize(wm, "ts", "event_type", "10 seconds"),
            name="sessmb_stream",
            output_mode="append",
            available_now=True,
        )
        assert q.awaitTermination(120)
        base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        got = {
            (r.event_type, r.session_start - base_epoch, r.session_last - base_epoch, r.n_events)
            for r in spark.sql("SELECT * FROM sessmb_stream").collect()
        }
        # one merged 3-event session for a (NOT split at the file
        # boundary), b's singleton, no c (unfinalized), no flush
        # (end 1010 > watermark 700)
        assert got == {("a", 0, 14, 3), ("b", 689, 689, 1)}, got
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_stream_interval_join_equals_batch(spark):
    """Watermarked stream-stream interval join (view→click within 150 s
    per user, under the 300 s watermark) must converge to the batch
    interval join once drained."""
    import shutil
    import tempfile

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("event_type", T.StringType()),
        ]
    )
    rows = [
        (BASE + dt.timedelta(seconds=s), u, e)
        for s, u, e in [
            (0, "u1", "view"),
            (60, "u1", "click"),  # joins view@0 (delta 60)
            (270, "u1", "click"),  # outside 150 s of view@0
            (30, "u2", "view"),
            (900, "u2", "click"),  # outside window
            (90, "u3", "click"),  # no view at all
            (300, "u1", "view"),
            (360, "u1", "click"),  # joins view@300
        ]
    ]
    d = tempfile.mkdtemp(prefix="ssjoin_")
    try:
        spark.createDataFrame(rows[:4], schema).coalesce(1).write.mode("overwrite").parquet(d)
        spark.createDataFrame(rows[4:], schema).coalesce(1).write.mode("append").parquet(d)

        def sides(df):
            views = df.filter(F.col("event_type") == "view").select(
                "user_id", F.col("ts").alias("view_ts")
            )
            clicks = df.filter(F.col("event_type") == "click").select(
                "user_id", F.col("ts").alias("click_ts")
            )
            return views, clicks

        sv, sc = sides(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        )
        q = start_query(
            stream_interval_join(sv, sc, ["user_id"], "view_ts", "click_ts", 150),
            name="ssj_stream",
            output_mode="append",
            available_now=True,
        )
        q.awaitTermination(120)
        got = {
            (r.user_id, int(r.view_ts.timestamp()), int(r.click_ts.timestamp()))
            for r in spark.sql("SELECT * FROM ssj_stream").collect()
        }

        bv, bc = sides(spark.read.schema(schema).parquet(d))
        expected = {
            (r.user_id, int(r.view_ts.timestamp()), int(r.click_ts.timestamp()))
            for r in stream_interval_join(
                bv, bc, ["user_id"], "view_ts", "click_ts", 150
            ).collect()
        }
        base_epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        assert expected == {
            ("u1", base_epoch + 0, base_epoch + 60),
            ("u1", base_epoch + 300, base_epoch + 360),
        }
        assert got == expected
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_file_sink_is_exactly_once(spark, replay_dir):
    """The parquet file sink + checkpoint is the durable exactly-once
    path (unlike the reference's non-transactional InfluxDB writes):
    draining the same source twice against the same checkpoint must not
    duplicate rows — the second run is a no-op."""
    import shutil
    import tempfile

    out = tempfile.mkdtemp(prefix="filesink_out_")
    ckpt = tempfile.mkdtemp(prefix="filesink_ckpt_")
    try:
        def drain():
            stream = (
                spark.readStream.schema(SCHEMA)
                .option("maxFilesPerTrigger", "1")
                .parquet(replay_dir)
            )
            # short watermark so the 11 s replay finalizes windows for
            # append mode (the production 300 s would finalize nothing)
            wm = _watermarked(stream, "1 second")
            q = (
                tumbling_counts(wm, "ts", "5 seconds")
                .select("w_start", "cnt")
                .writeStream.outputMode("append")
                .trigger(availableNow=True)
                .option("checkpointLocation", ckpt)
                .format("parquet")
                .option("path", out)
                .start()
            )
            q.awaitTermination(120)

        drain()
        first = spark.read.parquet(out).collect()
        drain()  # same checkpoint: no new data -> no new files
        second = spark.read.parquet(out).collect()
        assert sorted(map(tuple, first)) == sorted(map(tuple, second))
        assert len(first) > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_influx_point_shaping_and_line_protocol(spark):
    df = spark.createDataFrame(
        [(BASE, "a", 5)], ["window_end", "hashtag", "cnt"]
    )
    pts = to_influx_points(
        df, "TrendingHashTagFlink1", "window_end", {"hashtag": "hashtag"}, {"count": "cnt"}
    )
    [p] = pts.collect()
    assert p.measurement == "TrendingHashTagFlink1"
    # fields keep the column's native type (here LongType → Python int):
    # the reference ships Long (Main.java:230-231) and influxdb-java
    # renders it with the integer suffix, count=5i — a stringified count
    # would make InfluxDB type the field as string on first write
    assert p.tags == {"hashtag": "a"} and p.fields.asDict() == {"count": 5}
    line = influx_line(p.measurement, p.tags, p.fields, 1704067200_000_000_000)
    assert line == "TrendingHashTagFlink1,hashtag=a count=5i 1704067200000000000"


def test_influx_line_escapes_specials_and_types_values():
    line = influx_line("m x", {"t a": "v,1"}, {"f": 2}, 1)
    assert line == r"m\ x,t\ a=v\,1 f=2i 1"
    # float: bare; string: quoted with backslash/quote escapes; bool:
    # line-protocol literal; None field dropped
    line = influx_line(
        "m", {}, {"f": 2.5, "s": 'a"b\\c', "b": True, "n": None}, 7
    )
    assert line == 'm b=true,f=2.5,s="a\\"b\\\\c" 7'
    # a point whose every field is null must raise, not serialize: a
    # fieldless line is invalid line protocol and would 400 the whole
    # batch POST (influxdb-java's Point builder enforces the same)
    with pytest.raises(ValueError, match="no renderable"):
        influx_line("m", {"t": "x"}, {"n": None}, 7)
    with pytest.raises(ValueError, match="no renderable"):
        influx_line("m", {}, {}, 7)


def test_influx_line_drops_non_finite_floats_like_nulls():
    """ADVICE r8: InfluxDB has no NaN/inf field value — repr() would put
    a bare 'nan' token on the wire and 400 the whole batch POST. The
    serializer treats non-finite exactly like null: the FIELD is
    dropped; a point left with no fields raises (and the writers
    pre-filter it — separate test)."""
    line = influx_line("m", {}, {"ok": 1.5, "bad": float("nan")}, 7)
    assert line == "m ok=1.5 7"
    line = influx_line("m", {}, {"a": float("inf"), "b": 2}, 7)
    assert line == "m b=2i 7"
    with pytest.raises(ValueError, match="no renderable"):
        influx_line("m", {}, {"a": float("nan"), "b": float("-inf")}, 7)


def test_writers_drop_fieldless_points_instead_of_failing_the_query(spark, caplog):
    """ADVICE r8: influx_line raising inside foreachBatch fails the
    whole streaming query, and a restart replays the same batch — a
    crash LOOP from one all-null aggregate row (e.g. an outer-join
    result). The shipped writer must instead DROP such points with a
    logged count and ship every renderable line of the same batch."""
    import logging as _logging

    from flink_streaming_twitter_spark.streaming.sinks import influx_lines_foreach_batch

    rows = [
        (BASE, "a", 5),
        (BASE + dt.timedelta(seconds=1), "b", None),  # all-null fields
        (BASE + dt.timedelta(seconds=2), "c", 7),
    ]
    df = spark.createDataFrame(rows, ["window_end", "hashtag", "cnt"])
    points = to_influx_points(
        df, "TrendingHashTagFlink1", "window_end",
        {"hashtag": "hashtag"}, {"count": "cnt"},
    )

    shipped: list[str] = []
    with caplog.at_level(_logging.WARNING, logger="flink_streaming_twitter_spark.streaming.sinks"):
        influx_lines_foreach_batch(writer=shipped.extend)(points, 42)
    assert len(shipped) == 2
    assert all("count=" in ln for ln in shipped)
    assert not any(",hashtag=b " in ln for ln in shipped)
    assert any("dropped 1 fieldless point" in r.message for r in caplog.records)


def test_influx_timestamp_conversion_is_exact_at_microsecond_resolution():
    """The writers' datetime→ns conversion must be exact, not float:
    int(ts.timestamp() * 1e9) is off by up to ~40 ns for sub-second
    timestamps (float64 ULP ≈ 256 ns at 2024-epoch ×1e9 magnitude),
    which would ship wire timestamps influxdb-java never produces.
    Whole-second window ends are exact either way (sec·10⁹ = sec·5⁹·2⁹
    keeps the odd part under 2⁵³) — pin the sub-second cases the float
    path gets wrong, against integer-arithmetic expectations."""
    from flink_streaming_twitter_spark.streaming.sinks import _ts_ns

    base_s = 1704067200  # 2024-01-01T00:00:00Z
    base = dt.datetime.fromtimestamp(base_s, dt.timezone.utc)
    float_wrong = 0
    for us in (0, 1, 123456, 333333, 777001, 999999):
        t = base.replace(microsecond=us)
        assert _ts_ns(t) == base_s * 10**9 + us * 1000
        if int(t.timestamp() * 1_000_000_000) != _ts_ns(t):
            float_wrong += 1
    # the test only means something while the naive conversion is
    # actually lossy on these inputs
    assert float_wrong >= 3


def test_sampling_admission_stream_equals_batch(spark):
    """The md5-bucket admission filters (weighted_mix + hash_split) are
    stateless narrow expressions, so they apply to a stream unchanged —
    draining the stream must admit exactly the rows the batch run
    admits, with identical split labels."""
    from flink_streaming_twitter_spark.operators.sampling import (
        hash_split,
        weighted_mix,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("dom", T.StringType())]
    )
    rows = [(i, "curated" if i % 3 == 0 else "crawl") for i in range(300)]
    d = tempfile.mkdtemp(prefix="admit_")
    try:
        spark.createDataFrame(rows, schema).coalesce(2).write.mode("overwrite").parquet(d)

        def admit(df):
            mixed = weighted_mix(df, "dom", "id", {"curated": 1.0, "crawl": 0.4})
            return hash_split(mixed, "id", [("train", 0.9), ("test", 0.1)])

        batch = {
            (r.id, r.dom, r.split) for r in admit(spark.read.parquet(d)).collect()
        }
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        q = start_query(
            admit(stream), name="admit_stream", output_mode="append", available_now=True
        )
        q.awaitTermination(120)
        streamed = {
            (r.id, r.dom, r.split)
            for r in spark.sql("SELECT * FROM admit_stream").collect()
        }
        assert streamed == batch and len(batch) > 50
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_corpus_prep_composition(spark):
    """Streaming corpus prep end-to-end: normalize → digest → weighted
    admission → dropDuplicatesWithinWatermark on the digest. Replaying
    duplicate texts across micro-batches must admit each distinct
    normalized text at most once, and only for admitted domains — the
    streaming twin of the batch q_corpus_pipeline dedup+admission
    stages."""
    from flink_streaming_twitter_spark.operators.sampling import weighted_mix
    from flink_streaming_twitter_spark.operators.textops import normalize_text

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("dom", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    d = tempfile.mkdtemp(prefix="scorpus_")
    try:
        # batch 2 repeats batch 1's texts (case/whitespace variants)
        f1 = [
            (BASE, 1, "keep", "Hello  World"),
            (BASE, 2, "keep", "unique one"),
            (BASE, 3, "drop", "drop me"),
        ]
        f2 = [
            (BASE + dt.timedelta(seconds=30), 4, "keep", "hello world"),
            (BASE + dt.timedelta(seconds=30), 5, "keep", "Unique\tONE"),
            (BASE + dt.timedelta(seconds=30), 6, "keep", "fresh text"),
        ]
        spark.createDataFrame(f1, schema).coalesce(1).write.mode("overwrite").parquet(d)
        spark.createDataFrame(f2, schema).coalesce(1).write.mode("append").parquet(d)

        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        )
        norm = normalize_text(
            stream.withWatermark("ts", "300 seconds"),
            extra_cols=("dom", "ts"),
        )
        admitted = weighted_mix(norm, "dom", "doc_id", {"keep": 1.0, "drop": 0.0})
        deduped = admitted.select(
            "ts", "dom", F.md5("norm_text").alias("digest"), "norm_text"
        ).dropDuplicatesWithinWatermark(["digest"])
        q = start_query(
            deduped, name="scorpus", output_mode="append", available_now=True
        )
        q.awaitTermination(120)
        got = {r.norm_text for r in spark.sql("SELECT * FROM scorpus").collect()}
        # one admission per distinct normalized text; 'drop me' never admitted
        assert got == {"hello world", "unique one", "fresh text"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_gate_drain_is_multi_batch_with_no_late_drops(spark, sf_dir):
    """The gate harness must exercise REAL cross-batch streaming state
    (VERDICT r3 item 1): the time-sliced replay has to run ≥2 non-empty
    micro-batches, advance the watermark between them, and — because the
    slices are time-ordered — drop zero rows as late. Asserted from the
    engine's own progress telemetry, and the drained counts must still
    equal the batch answer."""
    from flink_streaming_twitter_spark.plans import params as P
    from flink_streaming_twitter_spark.plans.reference_queries import (
        _drain_events_stream,
    )
    from flink_streaming_twitter_spark.sources.files import load_table

    progress: list = []
    sink = _drain_events_stream(
        spark,
        sf_dir,
        "mb_probe_sink",
        lambda s: sliding_window_counts(
            _watermarked(s),
            "ts",
            "event_type",
            f"{P.TREND_SIZE_S} seconds",
            f"{P.TREND_SLIDE_S} seconds",
        ),
        output_mode="update",
        progress=progress,
    )
    final = sink.groupBy("w_start", "w_end", "event_type").agg(
        F.max("cnt").alias("cnt")
    )

    data_batches = [p for p in progress if p["numInputRows"] > 0]
    assert len(data_batches) >= 2, "replay drained in a single micro-batch"
    total_in = sum(p["numInputRows"] for p in data_batches)
    ev = load_table(spark, sf_dir, "events")
    assert total_in == ev.count(), "not every replayed row reached the query"
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p["stateOperators"]
    )
    assert dropped == 0, f"time-ordered slices must never be late ({dropped} dropped)"
    # watermark really advanced between micro-batches
    wms = [
        p["eventTime"]["watermark"]
        for p in data_batches
        if p["eventTime"].get("watermark", "1970-01-01") > "1971"
    ]
    assert len(set(wms)) >= 2, f"watermark never advanced mid-drain: {wms}"

    expected = {
        (r.w_start, r.event_type, r.cnt)
        for r in (
            ev.groupBy(
                F.window("ts", f"{P.TREND_SIZE_S} seconds", f"{P.TREND_SLIDE_S} seconds").alias("window"),
                "event_type",
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("window.start").cast("long").alias("w_start"), "event_type", "cnt")
            .collect()
        )
    }
    got = {(r.w_start, r.event_type, r.cnt) for r in final.collect()}
    assert got == expected
    spark.catalog.dropTempView("mb_probe_sink")


def test_gate_append_drain_emits_mid_stream(spark, sf_dir):
    """Append-mode finalization must happen INCREMENTALLY across the
    multi-batch drain — windows whose end the advancing watermark passes
    fire in that micro-batch, not in one terminal flush. Asserted from
    sink telemetry: ≥2 progress entries with emitted rows."""
    from flink_streaming_twitter_spark.plans.reference_queries import (
        STREAM_SESSION_GAP_S,
        _drain_events_stream,
    )

    progress: list = []
    _drain_events_stream(
        spark,
        sf_dir,
        "midstream_probe_sink",
        lambda s: sessionize(
            _watermarked(s), "ts", "user_id", f"{STREAM_SESSION_GAP_S} seconds"
        ),
        output_mode="append",
        progress=progress,
    )
    emitting = [p for p in progress if p["sink"]["numOutputRows"] > 0]
    assert len(emitting) >= 2, [
        (p["batchId"], p["sink"]["numOutputRows"]) for p in progress
    ]
    spark.catalog.dropTempView("midstream_probe_sink")


def test_gate_dedup_drain_crosses_batches_without_reemission(spark, sf_dir):
    """With the horizon-spanning dedup watermark, every key recurrence —
    including across micro-batch boundaries — must hit live state and be
    dropped: the drain emits exactly the distinct key set (count + set
    equality below). The gate entry's (user_id, event_type) key universe
    is fully covered by micro-batch 0 at sf0.001 (75 keys, all seen in
    the first time-slice), so the gate certifies cross-batch state
    LOOKUPS but cannot show cross-batch EMISSION. This test closes that
    half (ADVICE r4) with a time-correlated key — (user_id, event_type,
    day) — whose first occurrences span every time-slice: the progress
    telemetry must show ≥2 micro-batches emitting first-seen keys, and
    the count equality forces the boundary-straddling day-keys'
    recurrences to have been dropped via state from an earlier batch."""
    from flink_streaming_twitter_spark.plans.reference_queries import (
        DEDUP_REPLAY_WATERMARK,
        _drain_events_stream,
    )
    from flink_streaming_twitter_spark.sources.files import load_table

    progress: list = []
    got = _drain_events_stream(
        spark,
        sf_dir,
        "dedup_crossbatch_sink",
        lambda s: s.withColumn("day", F.to_date("ts"))
        .withWatermark("ts", DEDUP_REPLAY_WATERMARK)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "day"])
        .select("user_id", "event_type", "day"),
        output_mode="append",
        progress=progress,
    )
    ev = load_table(spark, sf_dir, "events")
    distinct = ev.select(
        "user_id", "event_type", F.to_date("ts").alias("day")
    ).distinct()
    assert got.count() == distinct.count()
    assert got.exceptAll(distinct).count() == 0
    # cross-batch emission: ≥2 micro-batches each emitted first-seen keys
    emitting = [p for p in progress if p["sink"]["numOutputRows"] > 0]
    assert len(emitting) >= 2, [
        (p["batchId"], p["sink"]["numOutputRows"]) for p in progress
    ]
    spark.catalog.dropTempView("dedup_crossbatch_sink")


def test_ensure_event_time_refuses_non_utc_session(spark):
    """The NTZ→LTZ cast is value-preserving only under UTC; a caller-built
    non-UTC session must fail loudly, not silently shift event times
    (ADVICE r2). int64 nanos (parquet TIMESTAMP(NANOS) under nanosAsLong)
    truncate to the same instant in micros."""
    nanos = spark.createDataFrame([(1_704_067_200_123_456_789,)], "ts BIGINT")
    got = ensure_event_time(nanos, "ts")
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.select(F.unix_micros("ts")).first()[0] == 1_704_067_200_123_456

    ntz = spark.createDataFrame([("2024-01-01 00:00:00",)], ["s"]).select(
        F.col("s").cast("timestamp_ntz").alias("ts")
    )
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz"
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(ValueError, match="UTC"):
            ensure_event_time(ntz, "ts")
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    # back under UTC the cast goes through and the type flips to LTZ
    assert dict(ensure_event_time(ntz, "ts").dtypes)["ts"] == "timestamp"


def test_stream_dedup_reemits_after_watermark_eviction(spark):
    """The state bound that makes streaming dedup feasible at 100 TB is
    also a semantic contract: dropDuplicatesWithinWatermark keeps a key's
    state only inside the watermark horizon, so a key recurring AFTER its
    state was evicted is legitimately emitted AGAIN. Pin that: key "a"
    appears in batch 1, the watermark then advances far past it, and a
    third batch repeats "a" — the sink must contain "a" twice (and a
    within-horizon duplicate exactly once)."""
    d = tempfile.mkdtemp(prefix="ddevict_")
    try:
        b1 = [(BASE, "a"), (BASE + dt.timedelta(seconds=1), "a"), (BASE, "b")]
        # advances the watermark to +700 (watermark delay 300 s)
        b2 = [(BASE + dt.timedelta(seconds=1000), "flush")]
        # eviction is applied at batch END with the batch's starting
        # watermark, so one more batch must pass before "a"'s state
        # (expiry t=1+300) is actually purged
        b3 = [(BASE + dt.timedelta(seconds=1000, milliseconds=500), "flush2")]
        # "a" recurs long after its state was evicted
        b4 = [(BASE + dt.timedelta(seconds=1001), "a")]
        import glob
        import os
        import time as _time

        # the file source orders batches by modification time; all three
        # writes land within the same instant, so stamp increasing mtimes
        # or the recurrence file can be picked up BEFORE the flush file
        stamped: set[str] = set()
        t0 = _time.time()
        for i, rows in enumerate((b1, b2, b3, b4)):
            mode = "overwrite" if i == 0 else "append"
            spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(mode).parquet(d)
            for f in glob.glob(os.path.join(d, "*.parquet")):
                if f not in stamped:
                    os.utime(f, (t0 + i * 10, t0 + i * 10))
                    stamped.add(f)
        stream = (
            spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(d)
        )
        wm = _watermarked(stream)
        q = start_query(
            wm.dropDuplicatesWithinWatermark(["event_type"]),
            name="ddevict_stream",
            output_mode="append",
            available_now=True,
        )
        q.awaitTermination(120)
        kinds = sorted(
            r.event_type for r in spark.sql("SELECT event_type FROM ddevict_stream").collect()
        )
        assert kinds == ["a", "a", "b", "flush", "flush2"], kinds
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _drain_windowed_counts(spark, src_dir, view, cp) -> set:
    """Drain ``src_dir`` one file per micro-batch through 20 s tumbling
    counts per event_type under a 40 s watermark, in append mode, and
    return the emitted (w_start, w_end, event_type, cnt) rows.
    foreachBatch, not the memory sink: memory refuses to recover from an
    existing checkpoint, and foreachBatch is the recovery-capable
    collector production restarts actually use."""
    out: set = set()

    def collect(batch_df, _bid):
        out.update((r.w_start, r.w_end, r.event_type, r.cnt) for r in batch_df.collect())

    stream = spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", "1").parquet(src_dir)
    wm = _watermarked(stream, "40 seconds")
    plan = sliding_window_counts(wm, "ts", "event_type", "20 seconds", "20 seconds")
    q = start_query(
        plan,
        name=view,
        output_mode="append",
        available_now=True,
        checkpoint_dir=cp,
        foreach_batch=collect,
    )
    assert q.awaitTermination(300), f"{view}: drain timed out"
    return out


def test_streaming_restart_recovers_state_exactly_once(spark):
    """Checkpoint recovery — the Structured Streaming guarantee a 100 TB
    deployment actually rides (executors die; queries restart) that the
    availableNow drains alone never exercise. An append-mode windowed
    aggregation is stopped after two of three files and RESTARTED from
    its checkpoint on the third:

    - the union of pre- and post-restart emissions must equal an
      uninterrupted run over the same three files (state + watermark +
      file-source offsets all survive the restart),
    - the two phases must not overlap (exactly-once emission across the
      restart: nothing re-emits, nothing is lost),
    - and windows whose events ALL arrived before the restart must emit
      AFTER it (w_end <= the restart boundary yet absent from phase 1)
      — proving they were finalized out of RECOVERED state, since the
      file-source log skips the already-processed files on restart.
    """
    rows = [
        (BASE + dt.timedelta(seconds=s), "abc"[s % 3])
        for s in range(0, 300, 7)
    ]
    rows.sort(key=lambda r: r[0])
    thirds = [rows[:15], rows[15:30], rows[30:]]

    work = tempfile.mkdtemp(prefix="restart_")
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, thirds)
        reference = _drain_windowed_counts(spark, ref_dir, "rc_ref", f"{work}/cp_ref")
        assert reference  # windows finalized under the 40 s watermark

        _write_flat(rec_dir, thirds[:2])
        p1 = _drain_windowed_counts(spark, rec_dir, "rc_p1", f"{work}/cp_rec")
        # add the third file (later mtime) and RESTART from the same
        # checkpoint — a fresh query object, recovered offsets + state;
        # the source log already tracks f00/f01, so only f02 is new work
        _write_flat(rec_dir, [thirds[2]], start=2)
        p2 = _drain_windowed_counts(spark, rec_dir, "rc_p2", f"{work}/cp_rec")

        assert p1 and p2
        assert p1 | p2 == reference  # nothing lost across the restart
        assert not (p1 & p2)  # nothing re-emitted across the restart
        # cross-restart state: windows built ENTIRELY before the restart
        # (w_end <= the boundary between file 1 and file 2) that phase 1's
        # watermark had not yet finalized must surface in phase 2
        boundary = int(thirds[2][0][0].timestamp())
        held_over = {r for r in p2 if r[1] <= boundary}
        assert held_over, "no window crossed the restart in recovered state"
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_session_window_merges_across_restart(spark):
    """Session-window state has a different layout than windowed aggs
    (per-key session ranges that MERGE), so restart recovery gets its
    own pin: a session with events on BOTH sides of the restart — last
    pre-restart event at t=225, first post-restart at t=233, within the
    15 s gap — must finalize as ONE merged session with the combined
    count, which requires the restarted query to have recovered the
    open session [220, 225] from the checkpoint. Also: the phases
    partition an uninterrupted run exactly (nothing lost, nothing
    re-emitted), and the trailing still-open session never emits in
    either run."""
    files = [
        [(s, "a") for s in part]
        for part in (
            [0, 5, 10, 40, 45, 80, 85, 90, 95],
            [130, 135, 170, 175, 180, 220, 225],
            [233, 238, 270, 275],
        )
    ]

    def drain(src_dir, view, cp):
        out: set = set()

        def collect(batch_df, _bid):
            out.update(
                (r.event_type, r.session_start, r.session_last, r.n_events)
                for r in batch_df.collect()
            )

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        wm = _watermarked(stream, "20 seconds")
        q = start_query(
            sessionize(wm, "ts", "event_type", "15 seconds"),
            name=view,
            output_mode="append",
            available_now=True,
            checkpoint_dir=cp,
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), f"{view}: drain timed out"
        return out

    work = tempfile.mkdtemp(prefix="sess_restart_")
    # UTC-pinned like every other epoch in this suite: the naive parquet
    # timestamps are wall-clock values that Spark interprets in the session
    # timezone (UTC, session.py), so the host TZ must not leak in.
    epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, files)
        reference = drain(ref_dir, "sr_ref", f"{work}/cp_ref")

        _write_flat(rec_dir, files[:2])
        p1 = drain(rec_dir, "sr_p1", f"{work}/cp_rec")
        _write_flat(rec_dir, [files[2]], start=2)
        p2 = drain(rec_dir, "sr_p2", f"{work}/cp_rec")

        assert p1 | p2 == reference and not (p1 & p2)
        # the session that straddles the restart: [220, 225] recovered
        # from checkpoint state, merged with [233, 238], one emission
        assert ("a", epoch + 220, epoch + 238, 4) in p2
        # the trailing session [270, 275] is still open at the final
        # watermark (255) in BOTH runs — never emitted, consistently
        assert not any(r[1] == epoch + 270 for r in reference | p1 | p2)
        # phase 1 finalized everything it could (all five early sessions)
        assert len(p1) == 5
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_interval_join_buffers_across_restart(spark):
    """Stream-stream join state is the third distinct state layout
    (buffered input rows on both legs, evicted by the opposite side's
    watermark + range bound): a view buffered BEFORE the restart must
    pair with a click arriving AFTER it — the restarted query can only
    produce that pair from checkpoint-recovered join state, since the
    file-source log never re-reads the view's file."""
    files = [
        [(0, "u1", "view"), (60, "u1", "click"), (1200, "u2", "view")],
        [(1800, "u2", "click"), (3000, "u1", "view")],  # view buffered at restart
        [(3090, "u1", "click"), (3600, "u3", "click")],  # click pairs post-restart
    ]

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.StringType()),
            T.StructField("event_type", T.StringType()),
        ]
    )

    def drain(src_dir, view, cp):
        out: set = set()

        def collect(batch_df, _bid):
            out.update(
                (r.user_id, int(r.view_ts.timestamp()), int(r.click_ts.timestamp()))
                for r in batch_df.collect()
            )

        df = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        views = df.filter(F.col("event_type") == "view").select(
            "user_id", F.col("ts").alias("view_ts")
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            "user_id", F.col("ts").alias("click_ts")
        )
        q = start_query(
            stream_interval_join(views, clicks, ["user_id"], "view_ts", "click_ts", 150),
            name=view,
            output_mode="append",
            available_now=True,
            checkpoint_dir=cp,
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), f"{view}: drain timed out"
        return out

    work = tempfile.mkdtemp(prefix="join_restart_")
    epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        cols = ("user_id", "event_type")
        _write_flat(ref_dir, files, cols)
        reference = drain(ref_dir, "jr_ref", f"{work}/cp_ref")

        _write_flat(rec_dir, files[:2], cols)
        p1 = drain(rec_dir, "jr_p1", f"{work}/cp_rec")
        _write_flat(rec_dir, [files[2]], cols, start=2)
        p2 = drain(rec_dir, "jr_p2", f"{work}/cp_rec")

        assert p1 | p2 == reference and not (p1 & p2)
        assert ("u1", epoch + 0, epoch + 60) in p1  # matched pre-restart
        # the recovery pair: view buffered before the restart, click after
        assert ("u1", epoch + 3000, epoch + 3090) in p2
        assert reference == {
            ("u1", epoch + 0, epoch + 60),
            ("u1", epoch + 3000, epoch + 3090),
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_dedup_within_watermark_state_survives_restart(spark):
    """Fourth and final state layout in the restart-recovery suite: the
    built-in dropDuplicatesWithinWatermark key store. A key first
    emitted before the restart recurs after it, still inside the
    watermark horizon — the restarted query must swallow it out of
    recovered dedup state; a new post-restart key emits once."""
    # watermark 60 s horizon; key "a" recurs at t=70 (within 60 s of its
    # state's expiry-watermark) post-restart, key "c" is new
    files = [
        [(0, "a"), (5, "b")],
        [(40, "a"), (45, "b")],  # duplicates swallowed pre-restart
        [(70, "a"), (75, "c")],  # "a" recurs post-restart; "c" is new
    ]

    def drain(src_dir, view, cp):
        out: list = []

        def collect(batch_df, _bid):
            out.extend(
                (r.event_type, int(r.ts.timestamp())) for r in batch_df.collect()
            )

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        wm = _watermarked(stream, "60 seconds")
        q = start_query(
            wm.dropDuplicatesWithinWatermark(["event_type"]),
            name=view,
            output_mode="append",
            available_now=True,
            checkpoint_dir=cp,
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), f"{view}: drain timed out"
        return out

    work = tempfile.mkdtemp(prefix="ddwr_")
    epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, files)
        reference = drain(ref_dir, "dd_ref", f"{work}/cp_ref")

        _write_flat(rec_dir, files[:2])
        p1 = drain(rec_dir, "dd_p1", f"{work}/cp_rec")
        _write_flat(rec_dir, [files[2]], start=2)
        p2 = drain(rec_dir, "dd_p2", f"{work}/cp_rec")

        assert sorted(p1 + p2) == sorted(reference)
        assert sorted(k for k, _t in p1) == ["a", "b"]
        # "a" at t=70 recurs inside the horizon of its recovered state
        # entry — swallowed; only the genuinely new key emits
        assert [(k, t) for k, t in p2] == [("c", epoch + 75)]
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_chained_two_stage_trending_recovers_across_restart(spark):
    """Sixth restart pin: the natively CHAINED two-aggregation query —
    two stateful operators whose stores must recover coherently under
    ONE watermark. The restart lands while the stage-1 windows over the
    latest events (t=40..44) are still open; after it, a flush event
    advances the watermark so those windows — counts accumulated
    entirely PRE-restart, finalized and argmax'd entirely POST-restart
    — flow through both recovered stages. The flush event's own windows
    stay open forever, so every post-restart emission is recovered-state
    work."""
    files = [
        [(0, "a"), (1, "a"), (2, "b"), (6, "a"), (7, "b"), (8, "b"), (11, "a")],
        [(40, "b"), (41, "b"), (44, "a")],  # windows open at restart
        [(100, "zz_flush")],  # advances the watermark post-restart
    ]

    def drain(src_dir, view, cp):
        out: set = set()

        def collect(batch_df, _bid):
            out.update(
                (r.sample_w_start, r.top_event_type, r.top_cnt)
                for r in batch_df.collect()
            )

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        wm = _watermarked(stream, "20 seconds")
        q = start_query(
            trending_two_stage(wm, "ts", "event_type", "10 seconds", "5 seconds", 1, 5),
            name=view,
            output_mode="append",
            available_now=True,
            checkpoint_dir=cp,
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), f"{view}: drain timed out"
        return out

    work = tempfile.mkdtemp(prefix="chain_restart_")
    epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, files)
        reference = drain(ref_dir, "ch_ref", f"{work}/cp_ref")

        _write_flat(rec_dir, files[:2])
        p1 = drain(rec_dir, "ch_p1", f"{work}/cp_rec")
        _write_flat(rec_dir, [files[2]], start=2)
        p2 = drain(rec_dir, "ch_p2", f"{work}/cp_rec")

        assert p1 | p2 == reference and not (p1 & p2)
        assert p1 and p2
        # every post-restart emission derives from PRE-restart events:
        # the t=40..44 windows (sample starts <= 60); the flush event's
        # own windows never finalize
        assert all(s <= epoch + 60 for s, _k, _c in p2)
        # the window covering t=35..45 finalized post-restart out of
        # recovered stage-1 counts: b=2 (40,41) beats a=1 (44)
        assert (epoch + 45, "b", 2) in p2
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_running_total_continues_from_recovered_sum_after_restart(spark):
    """Q-C's own recovery semantic (update-mode ungrouped aggregation —
    the reference's global running sum): after a restart, the query must
    CONTINUE from the recovered total, not restart from zero. Phase 1
    drains 7 events (last emission: total=7); the restarted query reads
    only the new 3-event file and its final emission must be 10 — a
    number producible only by adding the new events to checkpoint-
    recovered aggregate state."""
    files = [[(s, "a") for s in part] for part in ([0, 1, 2, 6], [7, 8, 11], [20, 21, 25])]

    def drain(src_dir, view, cp):
        totals: list = []

        def collect(batch_df, _bid):
            rows = batch_df.collect()
            if rows:
                totals.append(rows[0].total)

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        wm = _watermarked(stream)
        q = start_query(
            wm.agg(F.count(F.lit(1)).alias("total")),
            name=view,
            output_mode="update",
            available_now=True,
            checkpoint_dir=cp,
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), f"{view}: drain timed out"
        return totals

    work = tempfile.mkdtemp(prefix="rt_restart_")
    try:
        rec_dir = f"{work}/rec"
        os.makedirs(rec_dir)
        _write_flat(rec_dir, files[:2])
        p1 = drain(rec_dir, "rt_p1", f"{work}/cp")
        assert p1[-1] == 7  # running total after the first two files
        _write_flat(rec_dir, [files[2]], start=2)
        p2 = drain(rec_dir, "rt_p2", f"{work}/cp")
        # the restarted query saw only 3 new events; every emission being
        # 10 (never 3) requires the recovered sum (the availableNow
        # no-data finalization batch may re-emit the same total)
        assert p2 and all(t == 10 for t in p2)
        # monotone non-decreasing across the whole restarted lifetime
        assert (p1 + p2) == sorted(p1 + p2)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_checkpoint_from_the_filecontext_file_manager_restarts_under_the_default(spark):
    """Upgrade path for a checkpoint that outlives the engine's switch to
    the FileSystem-based checkpoint file manager (session.py): a windowed
    count written under Spark's FileContext-based manager is restarted on
    the same checkpoint under the session default. Windows finalized
    after the restart out of recovered state, no window lost or
    re-emitted, and every event counted exactly once."""
    from flink_streaming_twitter_spark.session import CHECKPOINT_FILE_MANAGER

    key = "spark.sql.streaming.checkpointFileManagerClass"
    assert spark.conf.get(key) == CHECKPOINT_FILE_MANAGER
    old_manager = CHECKPOINT_FILE_MANAGER.replace("FileSystemBased", "FileContextBased")
    rows = [(s, "abc"[s % 3]) for s in range(0, 300, 7)]
    thirds = [rows[:15], rows[15:30], rows[30:]]

    work = tempfile.mkdtemp(prefix="cfm_upgrade_")
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, thirds)
        reference = _drain_windowed_counts(spark, ref_dir, "cfm_ref", f"{work}/cp_ref")

        _write_flat(rec_dir, thirds[:2])
        spark.conf.set(key, old_manager)
        try:
            p1 = _drain_windowed_counts(spark, rec_dir, "cfm_p1", f"{work}/cp_rec")
        finally:
            spark.conf.set(key, CHECKPOINT_FILE_MANAGER)
        _write_flat(rec_dir, [thirds[2]], start=2)
        p2 = _drain_windowed_counts(spark, rec_dir, "cfm_p2", f"{work}/cp_rec")

        assert p1 and p2
        assert p1 | p2 == reference
        assert not (p1 & p2)
        # windows built entirely before the restart, finalized after it
        boundary = int((BASE + dt.timedelta(seconds=thirds[2][0][0])).timestamp())
        assert {r for r in p2 if r[1] <= boundary}, "no window crossed the restart"
        # every event of the finalized windows counted once across both
        # managers (the open last windows stay behind the watermark)
        last_end = max(r[1] for r in reference)
        counted = sum(
            1 for ts, _ in rows if int((BASE + dt.timedelta(seconds=ts)).timestamp()) < last_end
        )
        assert sum(r[3] for r in p1 | p2) == counted
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_midbatch_failure_foreachbatch_redelivers_uncommitted_batch(spark):
    """Failure INSIDE an uncommitted micro-batch — the recovery scenario
    the clean-boundary restart suite above never exercises. The
    foreachBatch sink records each delivery, then raises on the FIRST
    delivery of batch 1 (a sink that wrote partially and crashed: the
    offset log has WAL'd batch 1, the commit log has not). Pins the
    documented delivery contract (streaming/sinks.py): foreachBatch is
    AT-LEAST-ONCE — the uncommitted batch is re-delivered after restart
    with the SAME batch id and byte-identical content (deterministic
    replay is what makes an idempotent-by-batch-id sink exactly-once),
    committed batches are never re-delivered, and the last-delivery-per-
    batch-id view equals an uninterrupted run exactly."""
    rows = [(BASE + dt.timedelta(seconds=s), "abc"[s % 3]) for s in range(0, 300, 7)]
    thirds = [rows[:15], rows[15:30], rows[30:]]
    FAIL_BID = 1

    def drain(src_dir, view, cp, deliveries, fail_once_on=None):
        tripped = {"done": fail_once_on is None}

        def sink(batch_df, bid):
            batch = frozenset(
                (r.w_start, r.w_end, r.event_type, r.cnt) for r in batch_df.collect()
            )
            deliveries.append((bid, batch))
            if not tripped["done"] and bid == fail_once_on:
                tripped["done"] = True
                raise RuntimeError(f"injected sink crash in batch {bid}")

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        wm = _watermarked(stream, "40 seconds")
        q = start_query(
            sliding_window_counts(wm, "ts", "event_type", "20 seconds", "20 seconds"),
            name=view,
            output_mode="append",
            available_now=True,
            checkpoint_dir=cp,
            foreach_batch=sink,
        )
        try:
            assert q.awaitTermination(300), f"{view}: drain timed out"
            return None
        except Exception as exc:  # StreamingQueryException on injected crash
            return exc

    work = tempfile.mkdtemp(prefix="midbatch_fb_")
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, thirds)
        ref_deliveries: list = []
        assert drain(ref_dir, "mb_ref", f"{work}/cp_ref", ref_deliveries) is None
        reference = {bid: b for bid, b in ref_deliveries}

        _write_flat(rec_dir, thirds)
        deliveries: list = []
        exc = drain(
            rec_dir, "mb_p1", f"{work}/cp_rec", deliveries, fail_once_on=FAIL_BID
        )
        assert exc is not None and "injected sink crash" in str(exc)
        # batch 0 committed, batch 1 delivered once then crashed mid-batch
        assert [bid for bid, _ in deliveries] == [0, FAIL_BID]

        # restart from the same checkpoint: fresh query object, same sink
        assert (
            drain(rec_dir, "mb_p2", f"{work}/cp_rec", deliveries) is None
        )
        bids = [bid for bid, _ in deliveries]
        # at-least-once: the uncommitted batch re-delivers with the SAME id
        assert bids.count(FAIL_BID) == 2
        # committed batches never re-deliver
        assert bids.count(0) == 1
        assert bids[2] == FAIL_BID  # restart resumes AT the WAL'd batch
        # deterministic replay: both deliveries of the failed batch are
        # byte-identical — the property that makes idempotent sinks work
        failed, redelivered = [b for bid, b in deliveries if bid == FAIL_BID]
        assert failed == redelivered and failed
        # idempotent-by-batch-id view == uninterrupted run, batch for batch
        last = {bid: b for bid, b in deliveries}
        assert last == reference
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_midbatch_failure_file_sink_stays_exactly_once(spark):
    """The other half of the delivery contract: the FILE sink is
    EXACTLY-ONCE across a mid-batch failure, because output files only
    become visible through the per-batch _spark_metadata commit. Batch 2's
    source file is corrupt (valid path, invalid parquet), so the query
    dies DURING batch 2 — after its offsets are WAL'd but before its
    commit — with batches 0/1 already committed to the sink. The file is
    then fixed in place and the query restarted from the same checkpoint:
    the file-source log never re-admits f00/f01, the WAL'd batch
    re-executes, and the metadata-log-aware read of the output directory
    must equal an uninterrupted run exactly — no loss, no duplicates."""
    rows = [(BASE + dt.timedelta(seconds=s), "abc"[s % 3]) for s in range(0, 300, 7)]
    thirds = [rows[:15], rows[15:30], rows[30:]]

    def start(src_dir, view, cp, out_dir):
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src_dir)
        )
        wm = _watermarked(stream, "40 seconds")
        return (
            sliding_window_counts(wm, "ts", "event_type", "20 seconds", "20 seconds")
            .writeStream.queryName(view)
            .outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", cp)
            .option("path", out_dir)
            .format("parquet")
            .start()
        )

    def read_sink(out_dir):
        # spark.read on a FileStreamSink directory lists through
        # _spark_metadata — orphan files from failed attempts are invisible
        return sorted(
            (r.w_start, r.w_end, r.event_type, r.cnt)
            for r in spark.read.parquet(out_dir).collect()
        )

    work = tempfile.mkdtemp(prefix="midbatch_fs_")
    try:
        ref_dir, rec_dir = f"{work}/ref", f"{work}/rec"
        os.makedirs(ref_dir), os.makedirs(rec_dir)
        _write_flat(ref_dir, thirds)
        q = start(ref_dir, "fs_ref", f"{work}/cp_ref", f"{work}/out_ref")
        assert q.awaitTermination(300)
        reference = read_sink(f"{work}/out_ref")
        assert reference  # watermark finalized windows into the sink

        _write_flat(rec_dir, thirds[:2])
        # f02: right path, garbage bytes — batch 2 fails at scan time
        with open(f"{rec_dir}/f02.parquet", "wb") as fh:
            fh.write(b"this is not a parquet file")
        os.utime(f"{rec_dir}/f02.parquet", (1_700_000_000 + 2 * 3600,) * 2)
        q = start(rec_dir, "fs_p1", f"{work}/cp_rec", f"{work}/out_rec")
        with pytest.raises(Exception):
            q.awaitTermination(300)
        committed_early = read_sink(f"{work}/out_rec")
        # batches 0/1 committed real output before the mid-batch death
        assert committed_early and set(committed_early) < set(reference)

        # fix the file IN PLACE (same path — the source log keys on path,
        # so the repaired file is re-read by the WAL'd batch, not
        # re-admitted as new input) and restart from the same checkpoint
        _write_flat(rec_dir, [thirds[2]], start=2)
        q = start(rec_dir, "fs_p2", f"{work}/cp_rec", f"{work}/out_rec")
        assert q.awaitTermination(300)
        assert read_sink(f"{work}/out_rec") == reference  # exactly-once

        # the exactly-once mechanism itself: files not committed to
        # _spark_metadata are INVISIBLE to the read — plant an orphan
        # parquet (what a killed task attempt leaves behind) and the
        # sink's contents must not change
        orphan = spark.createDataFrame(
            [(1, 2, "orphan", 99)], ["w_start", "w_end", "event_type", "cnt"]
        )
        orphan.coalesce(1).write.mode("append").format("parquet").save(
            f"{work}/orphan_tmp"
        )
        import glob
        import shutil as sh

        [orphan_file] = glob.glob(f"{work}/orphan_tmp/part-*.parquet")
        sh.copy(orphan_file, f"{work}/out_rec/part-99999-orphan.parquet")
        assert read_sink(f"{work}/out_rec") == reference  # orphan ignored
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_watermark_drop_count_matches_predicted_late_rows(spark):
    """Positive pin of the late-data DROP path: every other drain asserts
    zero drops; here rows are deliberately late and the engine-reported
    stateOperators.numRowsDroppedByWatermark must equal the count the
    watermark contract predicts, computed in the test from the data and
    the rule — not hand-pinned. The rule (probed empirically, matching
    Spark's two-watermark model): batch N filters late rows against the
    watermark that was in force during batch N-1 (watermarkForLateEvents
    — a row is dropped iff its WINDOW's end <= that value, i.e. its
    window's state was evicted at the end of the previous batch), while
    eviction/emission uses the current batch's watermark
    (watermarkForEviction). Two subtleties pinned: a row below the
    watermark whose window is still open (s=85, window [80,100)) is NOT
    dropped, and a row whose window end is below the CURRENT watermark
    but not the late-events watermark (f02's s=100: end 120 <= 190
    current, > 90 late-events) merges into live state and emits in the
    same batch rather than dropping. The surviving rows' finalized
    windows are cross-checked against a batch oracle."""
    DELAY = 10
    SIZE = 20
    f00 = [0, 3, 18, 22, 41, 100]
    f01 = [5, 15, 50, 85, 200]
    f02 = [2, 6, 55, 100, 130, 250]

    def w_end(s):
        return (s // SIZE + 1) * SIZE

    # the oracle: watermark in force during batch N = max event time of
    # batches <= N-1, minus the delay; batch N's LATE filter uses the
    # batch N-1 value. Batch 1 filters against 0 (nothing drops); batch 2
    # filters against max(f00)-DELAY.
    wm_during_b1 = max(f00) - DELAY
    predicted_drops = [s for s in f02 if w_end(s) <= wm_during_b1]
    # numRowsDroppedByWatermark counts rows entering the STATEFUL operator
    # — i.e. after map-side partial aggregation, one row per (window, key)
    # group per map partition (a single-file micro-batch scans as one
    # partition, so late rows in the same window collapse to one dropped
    # row): the exact prediction is the number of distinct late windows,
    # while the per-INPUT-row late count shows up as absence from the
    # output counts (cross-checked below).
    predicted_dropped_state_rows = {w_end(s) for s in predicted_drops}
    survivors = f00 + f01 + [s for s in f02 if s not in predicted_drops]
    final_wm = max(f00 + f01 + f02) - DELAY
    assert len(predicted_drops) == 3 and 85 not in predicted_drops
    assert len(predicted_dropped_state_rows) == 2
    assert 100 in survivors and 130 in survivors

    work = tempfile.mkdtemp(prefix="latedrop_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        _write_flat(src, [[(s, "a") for s in f] for f in (f00, f01, f02)])
        got: set = set()

        def collect(batch_df, _bid):
            got.update(
                (r.w_start, r.w_end, r.cnt) for r in batch_df.collect()
            )

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        wm = _watermarked(stream, f"{DELAY} seconds")
        q = start_query(
            sliding_window_counts(
                wm, "ts", "event_type", f"{SIZE} seconds", f"{SIZE} seconds"
            ),
            name="latedrop",
            output_mode="append",
            available_now=True,
            checkpoint_dir=f"{work}/cp",
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), "drain timed out"

        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        assert dropped == len(predicted_dropped_state_rows)  # nonzero, exact

        # batch oracle over the surviving rows: finalized tumbling windows
        epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        expected = {}
        for s in survivors:
            w0 = s // SIZE * SIZE
            if w0 + SIZE <= final_wm:
                key = (epoch + w0, epoch + w0 + SIZE)
                expected[key] = expected.get(key, 0) + 1
        assert got == {(a, b, c) for (a, b), c in expected.items()}
        # the below-watermark-but-open-window row survived into its window
        assert (epoch + 80, epoch + 100, 1) in got
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_processing_time_trigger_fits_5s_envelope(spark):
    """BASELINE.md's only latency contract, pinned against the REAL
    trigger: the reference refreshes every 5 s (processing-time trigger,
    Main.java:88), which holds only if each trigger's processing fits
    inside the interval. The gate drains use availableNow (right for
    deterministic oracles), so this is the one test that runs an actual
    ``trigger(processingTime="5 seconds")`` query — sf0.01 events split
    into 3 time-ordered files, one per micro-batch — and asserts every
    data batch's ``triggerExecution`` duration stays under the 5 s
    envelope, read from ``recentProgress`` (not hand-pinned)."""
    import os
    import time

    import pyarrow.parquet as pq

    from flink_streaming_twitter_spark.plans import params as P
    from flink_streaming_twitter_spark.sources.files import load_table
    from flink_streaming_twitter_spark.streaming.runner import start_query

    sf_dir = "/root/testdata/sf0.01"
    load_table(spark, sf_dir, "events")  # nanosAsLong/UTC session confs
    src = os.path.join(sf_dir, "events.parquet")
    d = tempfile.mkdtemp(prefix="cadence_")
    try:
        table = pq.read_table(src).sort_by([("ts", "ascending")])
        n = table.num_rows
        for i in range(3):
            lo, hi = i * n // 3, (i + 1) * n // 3
            path = os.path.join(d, f"events_{i:03d}.parquet")
            pq.write_table(table.slice(lo, hi - lo), path)
            os.utime(path, (1_000_000_000 + i * 3600,) * 2)
        schema = spark.read.parquet(src).schema
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        )
        if dict(stream.dtypes).get("ts") == "bigint":
            stream = stream.withColumn(
                "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
            )
        wm = _watermarked(stream)
        plan = sliding_window_counts(
            wm, "ts", "event_type", f"{P.TREND_SIZE_S} seconds", f"{P.TREND_SLIDE_S} seconds"
        )
        q = start_query(
            plan,
            name="cadence_probe",
            output_mode="update",
        )
        try:
            deadline = time.monotonic() + 120
            while time.monotonic() < deadline:
                data_batches = [
                    p for p in q.recentProgress if p["numInputRows"] > 0
                ]
                if len(data_batches) >= 3:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
        assert len(data_batches) >= 3, "expected 3 data micro-batches (one per file)"
        # Bound only the STEADY-STATE batches: the first data batch pays
        # one-off costs (state-store init, codegen/JIT, first parquet
        # touch) and this suite runs in a busy shared JVM, where
        # BASELINE.md's draw protocol documents multi-second cold-start
        # noise on untouched code — a hard bound there would flake. The
        # 5 s envelope is a steady-state cadence contract, and batches
        # 2+ are steady state.
        for p in data_batches[1:]:
            exec_ms = p["durationMs"]["triggerExecution"]
            assert exec_ms < 5_000, (
                f"batch {p['batchId']} took {exec_ms} ms — the 5 s "
                "processing-time cadence cannot hold in steady state"
            )
    finally:
        shutil.rmtree(d, ignore_errors=True)
        try:
            spark.catalog.dropTempView("cadence_probe")
        except Exception:
            pass


def test_far_future_event_poisons_watermark_and_evicts_stream_tail(spark):
    """Executable form of the round-11 extreme-time probe (SCALE.md
    "Extreme-magnitude / extreme-time probe"): ONE corrupt far-future
    timestamp advances the watermark unboundedly, so every
    subsequently-ARRIVING ordinary event is late-beyond-watermark and
    correctly dropped — the classic one-bad-clock-poisons-the-topic
    production failure, and the reason the stream==batch certification
    carries a bounded-disorder precondition. Pinned three ways: the
    engine-reported drop counter equals the predicted distinct-window
    count, the dropped events' windows are absent from the streaming
    output, and the SAME data through the batch twin keeps them (batch
    has no watermark — the parity boundary is semantics, not a bug).
    Deploy guidance (SCALE.md): sanity-bound event time at ingest,
    before the watermark assigner, like the NULL-ts contract."""
    DELAY = 10
    SIZE = 20
    f00 = [0, 5, 18]
    f01 = [30, 3_000_000_000]  # one ordinary event + the poison (~yr 2119 vs BASE)
    f02 = [40, 55]           # arrives ONE batch after the poison
    f03 = [60, 62, 75]       # arrives TWO batches after the poison

    def w_end(s):
        return (s // SIZE + 1) * SIZE

    # The two-watermark rule (pinned by
    # test_watermark_drop_count_matches_predicted_late_rows): batch N's
    # LATE filter uses the watermark in force during batch N-1, while
    # eviction/emission uses the current batch's. So f02 — one batch
    # after the poison — still lands (late-filtered against the
    # PRE-poison watermark, then immediately finalized by the poisoned
    # eviction watermark), and everything from f03 onward is dropped:
    # the poison's eviction takes one batch to become the late filter,
    # then holds forever.
    wm_before_poison = max(f00) - DELAY
    wm_after_poison = max(f01) - DELAY
    assert all(w_end(s) > wm_before_poison for s in f02)   # f02 lands
    assert all(w_end(s) <= wm_after_poison for s in f03)   # f03 drops
    predicted_dropped_state_rows = {w_end(s) for s in f03}  # {80}

    work = tempfile.mkdtemp(prefix="poisonwm_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        _write_flat(src, [[(s, "a") for s in f] for f in (f00, f01, f02, f03)])
        got: set = set()

        def collect(batch_df, _bid):
            got.update((r.w_start, r.w_end, r.cnt) for r in batch_df.collect())

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        wm = _watermarked(stream, f"{DELAY} seconds")
        q = start_query(
            sliding_window_counts(
                wm, "ts", "event_type", f"{SIZE} seconds", f"{SIZE} seconds"
            ),
            name="poisonwm",
            output_mode="append",
            available_now=True,
            checkpoint_dir=f"{work}/cp",
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), "drain timed out"

        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        assert dropped == len(predicted_dropped_state_rows)

        epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        stream_windows = {w[0] - epoch for w in got}
        # the post-grace tail's windows never emit downstream...
        assert stream_windows.isdisjoint({s // SIZE * SIZE for s in f03})
        # ...while pre-poison windows AND the one-batch grace arrivals
        # (f02) finalize — the poison converts to drops one batch later
        assert {s // SIZE * SIZE for s in f00 + f02} <= stream_windows

        # the batch twin keeps every event — the parity boundary itself
        rows = [(BASE + dt.timedelta(seconds=s), "a") for s in f00 + f01 + f02 + f03]
        batch = spark.createDataFrame(rows, SCHEMA)
        from pyspark.sql import functions as F

        batch_windows = {
            r.w - epoch
            for r in batch.select(
                F.unix_timestamp(F.window("ts", f"{SIZE} seconds").start).alias("w")
            ).distinct().collect()
        }
        assert {s // SIZE * SIZE for s in f03} <= batch_windows
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)


def test_sane_event_time_before_watermark_prevents_poison_eviction(spark):
    """The deploy answer to the poisoning above, EXECUTED (round 11,
    functions/sanity.py): the identical replay — same files, same
    arrival order, same poison — with ``sane_event_time`` applied
    BEFORE the watermark assigner. The poison's timestamp nullifies at
    ingest, a NULL event time advances no watermark and joins no window
    (the established NULL-ts track), so the tail that the unguarded
    twin permanently evicts (f03, two batches after the poison) lands
    in full: engine drop counter 0, stream windows == the batch twin's
    windows over the same guarded data. This is why the guard must sit
    upstream of withWatermark — the poisoned-watermark failure is
    unrecoverable downstream of it."""
    from flink_streaming_twitter_spark.functions.sanity import sane_event_time

    DELAY = 10
    SIZE = 20
    # the poison (~yr 2119) lies past the engine-wide 2100 bound
    files = ([0, 5, 18], [30, 3_000_000_000], [40, 55], [60, 62, 75])
    sane_secs = [s for f in files for s in f if s != 3_000_000_000]

    work = tempfile.mkdtemp(prefix="sanewm_")
    try:
        src = f"{work}/src"
        os.makedirs(src)
        _write_flat(src, [[(s, "a") for s in f] for f in files])
        got: set = set()

        def collect(batch_df, _bid):
            got.update((r.w_start, r.w_end, r.cnt) for r in batch_df.collect())

        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        guarded = stream.withColumn("ts", sane_event_time(F.col("ts")))
        wm = _watermarked(guarded, f"{DELAY} seconds")
        # update mode (the gate's stream_qb_counts mode): emits every
        # state change immediately, so the assertion isolates the
        # late-filter question (dropped vs landed) from append-mode's
        # separate watermark-lag holdback of the final unfinalized
        # window — the unguarded twin above needed append because its
        # point WAS finalization under the poisoned eviction watermark
        q = start_query(
            sliding_window_counts(
                wm, "ts", "event_type", f"{SIZE} seconds", f"{SIZE} seconds"
            ),
            name="sanewm",
            output_mode="update",
            available_now=True,
            checkpoint_dir=f"{work}/cp",
            foreach_batch=collect,
        )
        assert q.awaitTermination(300), "drain timed out"

        dropped = sum(
            op["numRowsDroppedByWatermark"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        )
        assert dropped == 0, "the guard must leave nothing for the watermark to drop"

        epoch = int(BASE.replace(tzinfo=dt.timezone.utc).timestamp())
        stream_windows = {w[0] - epoch for w in got}
        # full stream==batch parity over the guarded data: every sane
        # event's window emits (including the f03 tail the unguarded
        # twin evicts), and the poison contributes no window at all
        assert stream_windows == {s // SIZE * SIZE for s in sane_secs}
    finally:
        import shutil

        shutil.rmtree(work, ignore_errors=True)
