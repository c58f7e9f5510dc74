"""Smoke tests for the example apps (VERDICT r3 item 6): the showcase
entrypoints are the only Python pytest never imported — keep them from
rotting by actually running the corpus pipeline end-to-end at sf0.001
and the twitter job's four-query fan-out over a file replay."""

from __future__ import annotations

import datetime as dt
import os
import shutil
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import types as T

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "examples"))


def test_package_and_apps_import_from_this_checkout():
    """The package and the example apps resolve under the checkout that
    holds this test, so a copy of the repo (a CI workspace, an exported
    parent commit) tests its own code and not another checkout's."""
    import corpus_prep_app

    import flink_streaming_twitter_spark

    repo = os.path.realpath(REPO)
    for mod in (flink_streaming_twitter_spark, corpus_prep_app):
        path = os.path.realpath(mod.__file__)
        assert os.path.commonpath([repo, path]) == repo, (mod.__name__, path)


def test_corpus_prep_app_end_to_end(spark, sf_dir):
    from corpus_prep_app import run

    out = tempfile.mkdtemp(prefix="corpus_smoke_")
    try:
        cap_k = 10
        run(spark, sf_dir, out, cap_k=cap_k, show=False)

        corpus = spark.read.parquet(f"{out}/corpus")
        profile = spark.read.parquet(f"{out}/profile")
        rows = profile.collect()
        assert len(rows) > 0
        assert corpus.count() > 0
        # the stage-3 cap-loss ledger ships as a run artifact (VERDICT r9
        # item 5): readable, right shape, and empty here — the default
        # cap never binds at sf0.001 occupancies, so any row would mean
        # silently lost pairs
        ledger = spark.read.parquet(f"{out}/metrics/dedup_cap_loss")
        assert set(ledger.columns) == {"band", "sig", "occupancy", "tier"}
        assert ledger.count() == 0
        # the profile is the corpus's own aggregate
        assert sum(r.n_docs for r in rows) == corpus.count()
        assert {r.split for r in rows} <= {"train", "val", "test"}
        # the per-domain quota cap held: ≤ cap_k docs per source overall
        per_source: dict[str, int] = {}
        for r in rows:
            per_source[r.source] = per_source.get(r.source, 0) + r.n_docs
        assert all(n <= cap_k for n in per_source.values()), per_source
        # rerun determinism: every decision is content/id-derived, so a
        # second run reproduces the corpus row-for-row
        out2 = tempfile.mkdtemp(prefix="corpus_smoke2_")
        compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        try:
            before = compiles.getCount()
            run(spark, sf_dir, out2, cap_k=cap_k, show=False)
            # the second run reuses the first run's generated classes
            # (session.CODEGEN_CACHE_ENTRIES); with Spark's default cache
            # it recompiles 54-59. The bound leaves room for the few
            # classes an AQE re-plan may generate differently
            assert compiles.getCount() - before < 10
            again = spark.read.parquet(f"{out2}/corpus")
            assert corpus.exceptAll(again).count() == 0
            assert again.exceptAll(corpus).count() == 0
        finally:
            shutil.rmtree(out2, ignore_errors=True)
        # --char-tier (round 11): the multilingual evidence unions into
        # the dup graph, so the curated corpus can only shrink (more dup
        # evidence merges more clusters, never splits one), and the
        # ledger gains the tier label with the cap still inert
        out3 = tempfile.mkdtemp(prefix="corpus_smoke3_")
        try:
            run(spark, sf_dir, out3, cap_k=cap_k, char_tier=True, show=False)
            char_corpus = spark.read.parquet(f"{out3}/corpus")
            assert 0 < char_corpus.count() <= corpus.count()
            ledger3 = spark.read.parquet(f"{out3}/metrics/dedup_cap_loss")
            assert set(ledger3.columns) == {"band", "sig", "occupancy", "tier"}
            assert ledger3.count() == 0
        finally:
            shutil.rmtree(out3, ignore_errors=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_corpus_prep_app_drops_null_text_documents(spark):
    """Documents with NULL text are dropped before exact dedup, as
    q_corpus_pipeline and operators/dedup.exact_dedup drop them:
    md5(NULL) is one digest for all of them, so the keep-first cap would
    otherwise keep the lowest NULL-text id with NULL features and add a
    profile row with NULL totals."""
    from corpus_prep_app import run

    src = tempfile.mkdtemp(prefix="corpus_null_src_")
    out = tempfile.mkdtemp(prefix="corpus_null_out_")
    try:
        spark.createDataFrame(
            [
                (1, None, "en", "src0", 0),
                (2, None, "en", "src0", 0),
                (3, None, "en", "src1", 0),
                (4, "alpha beta gamma delta epsilon", "en", "src0", 30),
                (5, "one two three four five six", "en", "src1", 27),
            ],
            "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
        ).write.parquet(f"{src}/documents.parquet")
        run(spark, src, out, show=False)

        corpus = spark.read.parquet(f"{out}/corpus").collect()
        assert sorted(r.doc_id for r in corpus) == [4, 5]
        assert all(r.digest is not None and r.n_tokens > 0 for r in corpus)
        profile = spark.read.parquet(f"{out}/profile").collect()
        assert sum(r.n_docs for r in profile) == 2
        assert all(r.total_tokens is not None and r.total_chars is not None for r in profile)
    finally:
        spark.catalog.clearCache()
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def test_twitter_stream_app_fans_out_four_pipelines(spark):
    """The production entrypoint's exact wiring — four concurrent
    streaming queries with foreachBatch point-mapper sinks off one tweet
    lineage — drained over a two-file replay standing in for Kafka
    (same parse→pipeline path; the broker itself can't exist here). All
    four reference measurements must receive points, and the points
    must render as InfluxDB line protocol."""
    from twitter_stream_app import build_queries

    from flink_streaming_twitter_spark.streaming.sinks import (
        influx_line,
        to_influx_points,
    )

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (base + dt.timedelta(seconds=s), txt, lang)
        for s, txt, lang in [
            (0, "hello #spark world", "en"),
            (1, "#spark again", "en"),
            (2, "more #flink", "de"),
            (6, "#spark three", "en"),
            (7, "#flink two", "de"),
            (11, "#spark four", "en"),
        ]
    ]
    # far-future flush so the append-mode Q-A finalizes its windows
    flush = [(base + dt.timedelta(seconds=2000), "#done", "en")]

    d = tempfile.mkdtemp(prefix="tweets_replay_")
    ckpt = tempfile.mkdtemp(prefix="tweets_ckpt_")
    try:
        # stamp strictly increasing mtimes so the file source admits the
        # data file before the flush file even on coarse-mtime
        # filesystems (flush first would watermark-drop every data row)
        import glob
        import time as _time

        stamped: set[str] = set()
        t0 = _time.time()
        for i, batch in enumerate((rows, flush)):
            mode = "overwrite" if i == 0 else "append"
            spark.createDataFrame(batch, schema).coalesce(1).write.mode(mode).parquet(d)
            for f in glob.glob(os.path.join(d, "*.parquet")):
                if f not in stamped:
                    os.utime(f, (t0 + i * 10, t0 + i * 10))
                    stamped.add(f)

        collected: dict[str, list] = {}

        def collecting_sink(measurement, ts_col, tags, fields):
            def on_batch(batch_df, batch_id):
                pts = to_influx_points(batch_df, measurement, ts_col, tags, fields)
                collected.setdefault(measurement, []).extend(pts.collect())

            return on_batch

        tweets = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(d)
        )
        queries = build_queries(tweets, collecting_sink, ckpt, available_now=True)
        assert len(queries) == 4
        for q in queries:
            assert q.awaitTermination(180), f"{q.name} did not drain"

        expected_measurements = {
            "TrendingHashTagFlink2",
            "TrendingHashTagFlink1",
            "TotalTweetCountFlink",
            "TweetPerSecondCountFlink",
        }
        got = {m for m, pts in collected.items() if pts}
        assert got == expected_measurements, collected.keys()
        # Q-B's trigger-cadence top-1: the hot tag (hashtags() keeps the
        # '#' sigil, Main.java:189 semantics) wins some firing
        assert any(
            p.tags["hashtag"] == "#spark" for p in collected["TrendingHashTagFlink1"]
        )
        # running total converges to every tweet seen; the count field
        # arrives as a native int (typed struct), not a string
        totals = [p.fields["count"] for p in collected["TotalTweetCountFlink"]]
        assert all(isinstance(t, int) for t in totals)
        assert max(totals) == len(rows) + len(flush)
        p = collected["TweetPerSecondCountFlink"][0]
        line = influx_line(p.measurement, p.tags, p.fields, 0)
        assert line.startswith("TweetPerSecondCountFlink")
        # typed line protocol: integer fields carry the `i` suffix, the
        # rendering influxdb-java gives the reference's Long fields
        assert f'count={p.fields["count"]}i' in line
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


class _DriverCrash(Exception):
    """Raised by a sink after it shipped: the batch is in the offset log
    but not in the commit log, as when a driver dies between the two."""


def test_four_live_queries_restart_to_the_uninterrupted_finals(spark):
    """Restart check for the production wiring: the four build_queries
    queries crash mid-replay, after every sink shipped batch 1 and before
    any of them committed it, and are restarted on the same checkpoints.

    - What a dashboard reads at the end must equal an uninterrupted drain:
      InfluxDB keeps the last write per (measurement, series, timestamp).
      running_total is stamped at trigger time, so its series carries
      wall-clock timestamps that no two runs share; only its latest
      total is compared.
    - The restart re-runs batch 1 and re-ships its points. A re-shipped
      point is idempotent when it overwrites the point first shipped
      (same series and timestamp, same value). None may be otherwise:
      even running_total's ``current_timestamp()`` is the batch timestamp
      the offset log recorded, so its replayed point lands on the first
      one instead of writing a new point."""
    from twitter_stream_app import build_queries

    from flink_streaming_twitter_spark.streaming.sinks import to_influx_points

    crash_batch = 1
    tags = ["#spark", "#flink", "#kafka"]
    base = dt.datetime(2024, 1, 1)
    parts = [
        [(s, f"t{s} {tags[s % 3]} {tags[s * 7 % 3] if s % 4 == 0 else ''}")
         for s in range(a, a + 12)]
        for a in (0, 12, 24, 36)
    ]
    # far-future flush so the append-mode Q-A finalizes its windows
    parts.append([(2000, "#done")])
    n_tweets = sum(map(len, parts))
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )

    def drain(src, ckpt, crash: bool) -> dict:
        shipped: dict[str, list] = {}

        def sink_factory(measurement, ts_col, tag_cols, field_cols):
            def on_batch(batch_df, batch_id):
                pts = to_influx_points(batch_df, measurement, ts_col, tag_cols, field_cols)
                shipped.setdefault(measurement, []).extend(
                    (batch_id, (p.ts, tuple(sorted(p.tags.items()))), tuple(p.fields))
                    for p in pts.collect()
                )
                if crash and batch_id == crash_batch:
                    raise _DriverCrash(measurement)

            return on_batch

        tweets = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(src)
        for q in build_queries(tweets, sink_factory, ckpt, available_now=True):
            if crash:
                with pytest.raises(Exception, match="_DriverCrash"):
                    q.awaitTermination(180)
            else:
                assert q.awaitTermination(180), f"{q.name} did not drain"
                assert q.exception() is None
        return shipped

    def finals(*runs) -> dict:
        out = {}
        for run in runs:
            for m, pts in run.items():
                for _bid, key, value in pts:
                    out[m if m == "TotalTweetCountFlink" else (m, key)] = value
        return out

    work = tempfile.mkdtemp(prefix="live_restart_")
    try:
        src = f"{work}/in"
        os.makedirs(src)
        for i, part in enumerate(parts):
            path = f"{src}/f{i:02d}.parquet"
            ts, text = zip(*part)
            pq.write_table(
                pa.table(
                    {
                        "ts": pa.array(
                            [base + dt.timedelta(seconds=t) for t in ts], pa.timestamp("us")
                        ),
                        "text": pa.array(text),
                        "lang": pa.array(["en"] * len(part)),
                    }
                ),
                path,
            )
            # strictly increasing mtimes pin the order the file source
            # admits the files in: the flush last
            os.utime(path, (1_700_000_000 + i * 3600,) * 2)

        reference = drain(src, f"{work}/ck_ref", crash=False)
        first = drain(src, f"{work}/ck", crash=True)
        restarted = drain(src, f"{work}/ck", crash=False)

        assert set(reference) == {
            "TrendingHashTagFlink2",
            "TrendingHashTagFlink1",
            "TotalTweetCountFlink",
            "TweetPerSecondCountFlink",
        }
        assert finals(first, restarted) == finals(reference)
        assert finals(reference)["TotalTweetCountFlink"] == (n_tweets,)

        def batch_points(run, m):
            return {key: value for bid, key, value in run.get(m, []) if bid == crash_batch}

        reshipped = {m: batch_points(restarted, m) for m in reference}
        assert all(
            reshipped[m]
            for m in ("TrendingHashTagFlink1", "TotalTweetCountFlink", "TweetPerSecondCountFlink")
        ), reshipped
        not_idempotent = {m for m in reference if reshipped[m] != batch_points(first, m)}
        assert not_idempotent == set(), not_idempotent
    finally:
        shutil.rmtree(work, ignore_errors=True)
