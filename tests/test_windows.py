"""Reference-exact window semantics on dense inline data: 30 s/5 s
sliding (W1/W3), 1 s tumbling (W5), running total (W4) — SURVEY.md §2.5."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from flink_streaming_twitter_spark.operators.topk import per_window_top1
from flink_streaming_twitter_spark.operators.windows import (
    running_total,
    sliding_window_counts,
    tumbling_counts,
)

BASE = dt.datetime(2024, 1, 1, 0, 0, 0)


def _stream(spark, rows):
    return spark.createDataFrame(rows, ["ts", "hashtag"])


def _t(sec):
    return BASE + dt.timedelta(seconds=sec)


def test_sliding_30s_5s_window_membership(spark):
    # one event at t=12 → covered by windows starting at -15..10 (six 30s
    # windows sliding every 5s)
    df = _stream(spark, [(_t(12), "#a")])
    out = sliding_window_counts(df, "ts", "hashtag", "30 seconds", "5 seconds").collect()
    starts = sorted(r.w_start - int(BASE.timestamp()) for r in out)
    assert starts == [-15, -10, -5, 0, 5, 10]
    assert all(r.cnt == 1 for r in out)


def test_sliding_counts_aggregate_per_key(spark):
    df = _stream(spark, [(_t(1), "#a"), (_t(2), "#a"), (_t(3), "#b")])
    out = sliding_window_counts(df, "ts", "hashtag", "30 seconds", "5 seconds")
    w0 = {r.hashtag: r.cnt for r in out.collect() if r.w_start == int(BASE.timestamp())}
    assert w0 == {"#a": 2, "#b": 1}


def test_tumbling_1s_counts(spark):
    rows = [(_t(0.1), "#x"), (_t(0.9), "#x"), (_t(1.5), "#x")]
    df = _stream(spark, rows)
    out = {r.w_start - int(BASE.timestamp()): r.cnt for r in tumbling_counts(df, "ts", "1 second").collect()}
    assert out == {0: 2, 1: 1}


def test_running_total_is_cumulative(spark):
    rows = [(_t(s), "#x") for s in [0, 1, 3700, 7300, 7400]]
    df = _stream(spark, rows)
    out = sorted(running_total(df, "ts", "1 hour").collect(), key=lambda r: r.bucket_start)
    assert [r.cnt for r in out] == [2, 1, 2]
    assert [r.running_total for r in out] == [2, 3, 5]


def test_two_stage_trending_equals_reference_shape(spark):
    # Q-A: stage1 30s/5s counts → restamp on w_end → 1s/5s sampling on
    # w_end → argmax. All stage-1 window ends are multiples of 5 → every
    # stage-1 row survives sampling with size 1s (end % 5 == 0 < 1).
    rows = [(_t(1), "#a"), (_t(2), "#a"), (_t(3), "#b")]
    stage1 = sliding_window_counts(_stream(spark, rows), "ts", "hashtag", "30 seconds", "5 seconds")
    sampled = stage1.withColumn("sample_w_start", F.col("w_end") - F.col("w_end") % 5).filter(
        F.col("w_end") % 5 < 1
    )
    top = per_window_top1(sampled, ["sample_w_start"], "hashtag")
    by_win = {r.sample_w_start: (r.top_hashtag, r.top_cnt) for r in top.collect()}
    # every sampling window containing a stage-1 end sees #a as top (2>1)
    assert all(v == ("#a", 2) for v in by_win.values())


def test_null_event_time_takes_part_in_no_window(spark, sf_dir, tmp_path):
    """Edge-input contract, events leg (round-9 audit): an event whose
    timestamp is NULL cannot be placed in any window — Spark's
    window()/session_window generate no window for it, matching the
    reference (its tweet parse drops null timestamps before assignment),
    and since round 9 every windowed DuckDB oracle filters
    ts IS NOT NULL so parity is by construction. Pin the Spark side:
    adding NULL-ts events to the corpus leaves every windowed entry's
    output IDENTICAL. (NULL user_id/event_type/value rows are ordinary
    group keys both engines keep — covered by the full NULL-corpus
    audit, tools/make_null_corpus.py.)"""
    from flink_streaming_twitter_spark.plans.misc import events_sessionize
    from flink_streaming_twitter_spark.plans.reference_queries import (
        q_value_by_window,
        qb_trending_single,
        qc_running_total,
        qd_counts_per_window,
    )
    from flink_streaming_twitter_spark.sources.files import load_table

    events = load_table(spark, sf_dir, "events")
    nulled = (
        events.limit(3)
        .withColumn("event_id", F.col("event_id") + 10_000_000)
        .withColumn("ts", F.lit(None).cast(events.schema["ts"].dataType))
    )
    aug_dir = str(tmp_path / "aug")
    events.unionByName(nulled).coalesce(1).write.parquet(f"{aug_dir}/events.parquet")

    for entry in (
        qb_trending_single,
        qc_running_total,
        qd_counts_per_window,
        q_value_by_window,
        events_sessionize,
    ):
        base = {tuple(r) for r in entry(spark, sf_dir).collect()}
        aug = {tuple(r) for r in entry(spark, aug_dir).collect()}
        assert aug == base, entry.__name__
        assert base, entry.__name__  # non-vacuous
