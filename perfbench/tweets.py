"""The tweet workloads: the four production queries of
``twitter_stream_app.build_queries`` over ``kafka.parse_tweets``, fed by
a file source standing in for Kafka.

``tweets_live`` is an open loop at the reference's operating point. The
generator writes one file of 400 tweets every 200 ms (2000 tweets/s);
each file is written to a staging directory and renamed in, so the
source sees it whole. File k is due at ``A + 0.2 (k + 1)`` where A sits
0.1 s past a multiple of 5 s: Spark's processing-time trigger fires on
the wall-clock 5 s grid, so every trigger takes exactly the 25 files
due in the 5 s before it, whenever the run starts. A tweet's creation
time is spread evenly over the 200 ms before its file is due; that is
also its ``createdAt`` unless it is backdated. Before the generator
starts, one history file of tweets 360-630 s old is drained as the first
micro-batch, so the watermark is set and TrendingHashTagFlink2 finalizes
windows within the run.

``tweets_backlog`` drains a backlog written during set-up with
``available_now=True``, one file per micro-batch, so the watermark
finalizes windows mid-drain. It is runnable by name but not in
BENCHMARK.json: the benchmark's time budget holds two workloads.
"""

from __future__ import annotations

import math
import os
import threading
import time
from pathlib import Path

import numpy as np
import pyarrow as pa

import check
from gen import FAR_LATE, MALFORMED, TweetGenerator
from result import QUERIES, Result, percentile
from spans import ProgressSpans

RATE = 2000
FILE_S = 0.2
PER_FILE = int(RATE * FILE_S)
TRIGGER_S = 5.0
PHASE_S = 0.1
# the trigger at A - 0.1 + 5j takes the files created in
# (A + 5j - 5.2, A + 5j - 0.2]; the first loaded trigger (j = 1) is
# lead-in, so every measured trigger follows one under the same load, and
# the window ends with the files its last trigger takes
LEAD_IN_S = TRIGGER_S - 2 * PHASE_S
# files due this long after the generator starts land in the third
# micro-batch or later, whose watermark already drops far-late tweets
FAR_LATE_AFTER_S = 6.0
FAR_LATE_BEHIND_S = 900
HISTORY = 2000
HISTORY_AGE_S = (630, 360)
WARM_FILES, WARM_PER_FILE, WARM_SPAN_S = 1, 4_000, 900
BACKLOG_FILES, BACKLOG_PER_FILE, BACKLOG_SPAN_S = 4, 50_000, 2 * 3600
BACKLOG_BASE_MS = 1_700_000_000_000
MEASUREMENT_QUERY = {m: q for q, m in QUERIES.items()}


class Ledger:
    """One row per input line: file, kind, event ms, creation ms, text."""

    def __init__(self) -> None:
        self.cols = {"file": [], "kind": [], "ts_ms": [], "created_ms": [], "text": []}

    def add(self, file: int, block, created_ms: np.ndarray, late_anchor_ms: int) -> None:
        c = self.cols
        c["file"] += [file] * len(block)
        c["kind"] += block.kind.tolist()
        c["ts_ms"] += block.event_ms(created_ms, late_anchor_ms).tolist()
        c["created_ms"] += created_ms.tolist()
        c["text"] += block.text

    def table(self) -> pa.Table:
        return pa.table(
            {
                "file": pa.array(self.cols["file"], pa.int32()),
                "kind": pa.array(self.cols["kind"], pa.int8()),
                "ts_ms": pa.array(self.cols["ts_ms"], pa.int64()),
                "created_ms": pa.array(self.cols["created_ms"], pa.int64()),
                "text": self.cols["text"],
            }
        )


class SinkRecorder:
    """The sink_factory for build_queries: the production sink path
    (``to_influx_points`` → ``influx_lines_foreach_batch``) with a writer
    that keeps the line protocol and the time it was shipped instead of
    POSTing it."""

    def __init__(self, tracer=None) -> None:
        self.tracer = tracer
        self.calls: list[tuple] = []
        self._lock = threading.Lock()

    def factory(self, measurement: str, ts_col: str, tags: dict, fields: dict):
        from flink_streaming_twitter_spark.streaming.sinks import (
            influx_lines_foreach_batch,
            to_influx_points,
        )

        def writer(lines: list[str]) -> None:
            shipped.append((time.time(), lines))

        shipped: list = []
        write = influx_lines_foreach_batch(writer=writer)

        def on_batch(batch_df, batch_id: int) -> None:
            t0 = time.time()
            shipped.clear()
            write(to_influx_points(batch_df, measurement, ts_col, tags, fields), batch_id)
            t2 = time.time()
            t1, lines = shipped[0] if shipped else (t2, [])
            with self._lock:
                self.calls.append((measurement, batch_id, t0, t1, t2, lines))
            if self.tracer is not None:
                self.tracer.add(
                    f"sinks.{measurement}", t0, t2, f"{MEASUREMENT_QUERY[measurement]}:{batch_id}",
                    parent_name="streaming.addBatch", points=len(lines),
                )

        return on_batch

    def points(self) -> list[tuple]:
        """(measurement, tags, count, ts_s, shipped_at) per point, in
        shipping order."""
        out = []
        for m, _b, _t0, t1, _t2, lines in sorted(self.calls, key=lambda c: c[3]):
            out += [(*check.parse_line(ln), t1) for ln in lines]
        return out


def _write(path: Path, data: bytes, stage: Path) -> None:
    tmp = stage / path.name
    tmp.write_bytes(data)
    os.rename(tmp, path)


def write_backlog(d: Path, g: TweetGenerator, n_files: int, per_file: int, span_s: int) -> Ledger:
    """A backlog whose event time spans ``span_s``; far-late tweets only
    from the third file on, behind the whole backlog."""
    (d / "in").mkdir(parents=True)
    (d / "stage").mkdir()
    ledger = Ledger()
    n = n_files * per_file
    anchor = BACKLOG_BASE_MS - FAR_LATE_BEHIND_S * 1000
    for f in range(n_files):
        b = g.block(per_file, far_late=f >= 2)
        created = BACKLOG_BASE_MS + np.arange(f * per_file, (f + 1) * per_file, dtype=np.int64) * (
            span_s * 1000
        ) // n
        p = d / "in" / f"part-{f:05d}.json"
        _write(p, b.render(created, anchor), d / "stage")
        # the file source orders files by modification time
        os.utime(p, (1_000_000_000 + f, 1_000_000_000 + f))
        ledger.add(f, b, created, anchor)
    return ledger


def drain(spark, in_dir: Path, ck: Path, sink_factory) -> tuple[float, float, list]:
    """Drain ``in_dir`` through the four queries, one file per
    micro-batch; returns (start, wall seconds, queries)."""
    from flink_streaming_twitter_spark.sources.kafka import parse_tweets
    from twitter_stream_app import build_queries

    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(str(in_dir))
    t0 = time.time()
    qs = build_queries(parse_tweets(raw, raw_col="value"), sink_factory, str(ck), available_now=True)
    for q in qs:
        q.awaitTermination()
    return t0, time.time() - t0, qs


def _failed(qs) -> int:
    return sum(q.exception() is not None for q in qs)


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _deliveries(points, cum_valid: np.ndarray) -> np.ndarray:
    """For each file, the first time a TotalTweetCountFlink point counted
    every valid tweet up to and including it (inf if none did)."""
    totals = [(p[4], p[2]) for p in points if p[0] == "TotalTweetCountFlink"]
    out = np.full(len(cum_valid), np.inf)
    j = 0
    for k, need in enumerate(cum_valid):
        while j < len(totals) and totals[j][1] < need:
            j += 1
        if j == len(totals):
            break
        out[k] = totals[j][0]
    return out


def _progress(qs) -> dict:
    return {q.name: [dict(p) for p in q.recentProgress] for q in qs}


def stream_layers(progress: dict, rec: SinkRecorder, w0: float, w1: float) -> dict:
    """Per-layer numbers of the streaming and sink layers from progress
    events and sink calls whose start falls in [w0, w1]."""
    lay = {}
    src_offset, src_batch = [], []
    for q, ps in progress.items():
        ps = [p for p in ps if p.get("durationMs", {}).get("triggerExecution") is not None]
        starts = [_epoch(p["timestamp"]) for p in ps]
        inw = [p for p, s in zip(ps, starts) if w0 <= s <= w1]
        d = [p["durationMs"] for p in inw]
        src_offset += [x.get("latestOffset", 0) for x in d]
        src_batch += [x.get("getBatch", 0) for x in d]
        waits = [
            starts[i + 1] - starts[i] - ps[i]["durationMs"]["triggerExecution"] / 1000
            for i in range(len(ps) - 1)
            if w0 <= starts[i] <= w1
        ]
        ops = [p["stateOperators"] for p in inw]
        lay |= {
            f"streaming.{q}.batch_ms_p50": percentile([x["triggerExecution"] for x in d], 0.5),
            f"streaming.{q}.add_batch_ms_p50": percentile([x.get("addBatch", 0) for x in d], 0.5),
            f"streaming.{q}.commit_ms_p50": percentile(
                [x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d], 0.5
            ),
            f"streaming.{q}.planning_ms_p50": percentile([x.get("queryPlanning", 0) for x in d], 0.5),
            f"streaming.{q}.trigger_wait_ms_p50": 1000 * percentile(waits, 0.5),
            f"streaming.{q}.batches": len(inw),
            f"streaming.{q}.state_rows": sum(o["numRowsTotal"] for o in ops[-1]) if ops else 0,
            f"streaming.{q}.state_bytes": sum(o["memoryUsedBytes"] for o in ops[-1]) if ops else 0,
            f"streaming.{q}.state_commit_ms_p50": percentile(
                [sum(o["commitTimeMs"] for o in b) for b in ops], 0.5
            ),
            f"streaming.{q}.rows_dropped_late": sum(
                o["numRowsDroppedByWatermark"] for p in ps for o in p["stateOperators"]
            ),
        }
        if q == "running_total":
            lay["sources.input_rows"] = sum(p["numInputRows"] for p in inw)
    lay["sources.latest_offset_ms_p50"] = percentile(src_offset, 0.5)
    lay["sources.get_batch_ms_p50"] = percentile(src_batch, 0.5)
    calls = [c for c in rec.calls if w0 <= c[2] <= w1]
    for m in QUERIES.values():
        mc = [c for c in calls if c[0] == m]
        lay[f"sinks.{m}.call_ms_p50"] = 1000 * percentile([c[4] - c[2] for c in mc], 0.5)
        lay[f"sinks.{m}.points"] = sum(len(c[5]) for c in mc)
    lay["sinks.bytes"] = sum(len(ln) + 1 for c in calls for ln in c[5])
    lay["sinks.render_ms"] = 1000 * percentile([c[3] - c[2] for c in calls], 0.5)
    return lay


def function_layers(ctx, files: list[Path]) -> dict:
    """Timed batch calls into functions.text.hashtags and
    operators.topk.per_window_top1 over the given input files."""
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.functions.text import hashtags
    from flink_streaming_twitter_spark.operators.topk import per_window_top1
    from flink_streaming_twitter_spark.sources.kafka import parse_tweets

    spark, tracer = ctx.spark, ctx.tracer
    tweets = parse_tweets(spark.read.text([str(f) for f in files]), raw_col="value").cache()
    n = tweets.count()
    with tracer.span("functions.hashtags", "functions") as s:
        tagged = tweets.select(F.explode(hashtags(F.col("text"))).alias("hashtag"), "ts").cache()
        n_tags = tagged.count()
    counts = (
        tagged.groupBy(F.window("ts", "30 seconds", "5 seconds").alias("w"), "hashtag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").alias("w_start"), F.col("w.end").alias("w_end"), "hashtag", "cnt")
        .cache()
    )
    counts.count()
    with tracer.span("operators.topk.per_window_top1", "functions") as t:
        per_window_top1(counts, ["w_start", "w_end"], "hashtag").count()
    for df in (counts, tagged, tweets):
        df.unpersist()
    return {
        "functions.hashtags_ms": 1000 * s["dur"],
        "functions.hashtags_per_tweet": n_tags / n if n else 0.0,
        "operators.topk.per_window_top1_ms": 1000 * t["dur"],
    }


def _wait(cond, timeout_s: float, qs) -> bool:
    end = time.time() + timeout_s
    while time.time() < end:
        if cond():
            return True
        if any(not q.isActive for q in qs):
            return False
        time.sleep(0.1)
    return False


def live(ctx) -> Result:
    rec = SinkRecorder()
    window_s = math.ceil(ctx.seconds / TRIGGER_S) * TRIGGER_S
    n_files = round((LEAD_IN_S + window_s) / FILE_S)

    def generate(d: Path):
        g = TweetGenerator(ctx.seed)
        write_backlog(d / "warm", g, WARM_FILES, WARM_PER_FILE, WARM_SPAN_S)
        history = g.block(HISTORY)
        late_from = round(FAR_LATE_AFTER_S / FILE_S)
        return d, history, [g.block(PER_FILE, far_late=k >= late_from) for k in range(n_files)]

    def warm_up(inputs) -> None:
        d = inputs[0]
        _t0, _wall, qs = drain(ctx.spark, d / "warm" / "in", d / "warm" / "ck", rec.factory)
        if _failed(qs):
            raise RuntimeError("warm-up drain failed")

    (d, history, blocks), setup_s = ctx.setup(generate, warm_up)
    spark, meter = ctx.spark, ctx.meter
    rec.calls.clear()
    rec.tracer = ctx.tracer
    if ctx.tracer is not None:
        spark.streams.addListener(ProgressSpans(ctx.tracer))
    in_dir, stage = d / "in", d / "stage"
    in_dir.mkdir()
    stage.mkdir()
    ledger = Ledger()

    now_ms = int(time.time() * 1000)
    hist_created = now_ms - np.linspace(
        HISTORY_AGE_S[0] * 1000, HISTORY_AGE_S[1] * 1000, HISTORY
    ).astype(np.int64)
    _write(in_dir / "history.json", history.render(hist_created), stage)
    ledger.add(-1, history, hist_created, 0)

    from flink_streaming_twitter_spark.sources.kafka import parse_tweets
    from twitter_stream_app import build_queries

    raw = spark.readStream.text(str(in_dir))
    qs = build_queries(parse_tweets(raw, raw_col="value"), rec.factory, str(d / "ck"))
    started = _wait(
        lambda: all(any(p["numInputRows"] > 0 for p in q.recentProgress) for q in qs), 120, qs
    )

    a = math.ceil((time.time() + 0.3 - PHASE_S) / TRIGGER_S) * TRIGGER_S + PHASE_S
    anchor_ms = (int(a) - FAR_LATE_BEHIND_S) * 1000
    created = [
        np.round(1000 * (a + k * FILE_S + (np.arange(PER_FILE) + 1) * FILE_S / PER_FILE)).astype(
            np.int64
        )
        for k in range(n_files)
    ]
    renamed = np.full(n_files, np.inf)

    def generator() -> None:
        meter.exclude_threads.add(threading.get_native_id())
        for k, b in enumerate(blocks):
            data = b.render(created[k], anchor_ms)
            due = a + (k + 1) * FILE_S
            if due > time.time():
                time.sleep(due - time.time())
            _write(in_dir / f"part-{k:05d}.json", data, stage)
            renamed[k] = time.time()

    gen_thread = threading.Thread(target=generator, name="tweet-generator")
    w0, w1 = a + LEAD_IN_S, a + LEAD_IN_S + window_s
    n_lines = HISTORY + n_files * PER_FILE
    if started:
        # CPU and memory cover every trigger that takes generated files,
        # lead-in included: more triggers, steadier figures
        cpu0 = meter.cpu_s()
        meter.reset_peak()
        gen_thread.start()
        gen_thread.join()
        _wait(lambda: all(sum(p["numInputRows"] for p in q.recentProgress) >= n_lines for q in qs),
              60, qs)
        cpu1 = meter.cpu_s()
        peak = meter.peak_rss_bytes
    for q in qs:
        q.stop()
    progress = _progress(qs)
    failed = _failed(qs) + (not started)
    for k, b in enumerate(blocks):
        ledger.add(k, b, created[k], anchor_ms)
    res = Result(failed=failed, attempted=sum(len(p) for p in progress.values()) + failed)
    if not started:
        return res

    points = rec.points()
    valid = [b.kind != MALFORMED for b in blocks]
    cum = history.valid() + np.cumsum([int(v.sum()) for v in valid])
    # a file never counted is charged up to the end of the run (and the
    # final-total check fails)
    reached = _deliveries(points, cum)
    delivered = np.minimum(reached, time.time())
    in_window = [k for k in range(n_files) if a + k * FILE_S >= w0 - 1e-6 and a + (k + 1) * FILE_S <= w1 + 1e-6]
    fresh = np.concatenate([delivered[k] - created[k][valid[k]] / 1000 for k in in_window])
    n_window = len(fresh)
    # window tweets delivered by the end of the run
    on_time = sum(int(valid[k].sum()) for k in in_window if np.isfinite(reached[k]))
    cpu_per_k = (cpu1 - cpu0) / ((cum[-1] - history.valid()) / 1000)
    late_ms = 1000 * (renamed - (a + (np.arange(n_files) + 1) * FILE_S))

    res.e2e = {
        "setup_s": setup_s,
        "latency_p50_s": percentile(fresh, 0.5),
    }
    res.report = {
        "freshness_p50_s": percentile(fresh, 0.5),
        "freshness_p95_s": percentile(fresh, 0.95),
        "freshness_samples": n_window,
        "window_latency_p50_s": _window_latency(ledger, points, w0, w1),
        "tweets_per_s": on_time / window_s,
        "cpu_s_per_ktweet": cpu_per_k,
        "peak_rss_mb": peak / 2**20,
        "setup_s": setup_s,
        "generator_late_ms": {
            "p50": percentile(late_ms, 0.5), "p99": percentile(late_ms, 0.99),
            "max": float(np.max(late_ms)),
        },
    }
    res.wrong = check.check_tweets(ledger.table(), str(in_dir / "*.json"), points, progress)
    if ctx.tracer is not None:
        lay = stream_layers(progress, rec, w0, w1)
        # files renamed in by the window's end but not yet in a total
        lay["sources.lag_files_end"] = int((renamed <= w1).sum() - (delivered <= w1).sum())
        lay["sources.parse_dropped_rows"] = n_lines - cum[-1]
        lay |= function_layers(ctx, [in_dir / f"part-{k:05d}.json" for k in in_window])
        lay["trace.overhead_s"] = ctx.tracer.own_s
        res.layers = lay
    return res


def _window_latency(ledger: Ledger, points, w0: float, w1: float) -> float:
    """Median over the 1 s TweetPerSecondCountFlink windows that end in
    (w0, w1]: the window's end → the first shipped point counting every
    tweet of the window created by then. Tweets backdated into the window
    later are left out: with backdating of up to a minute, a window's
    count is never final within a run."""
    import duckdb

    con = duckdb.connect()
    con.register("ledger", ledger.table())
    need = dict(
        con.execute(
            f"""SELECT ts_ms // 1000 AS s, count(*) FROM ledger
                WHERE kind NOT IN ({MALFORMED}, {FAR_LATE}) AND created_ms <= (ts_ms // 1000 + 1) * 1000
                GROUP BY 1 HAVING s + 1 > {w0} AND s + 1 <= {w1}"""
        ).fetchall()
    )
    con.close()
    done = {}
    for m, _tags, count, ts_s, shipped in points:
        if m == "TweetPerSecondCountFlink" and count >= need.get(ts_s, math.inf):
            done.setdefault(ts_s, shipped - (ts_s + 1))
    return percentile(list(done.values()), 0.5)


def backlog(ctx) -> Result:
    rec = SinkRecorder()

    def generate(d: Path):
        g = TweetGenerator(ctx.seed)
        write_backlog(d / "warm", g, WARM_FILES, WARM_PER_FILE, WARM_SPAN_S)
        return d, write_backlog(d / "backlog", g, BACKLOG_FILES, BACKLOG_PER_FILE, BACKLOG_SPAN_S)

    def warm_up(inputs) -> None:
        d = inputs[0]
        _t0, _wall, qs = drain(ctx.spark, d / "warm" / "in", d / "warm" / "ck", rec.factory)
        if _failed(qs):
            raise RuntimeError("warm-up drain failed")

    (d, ledger), setup_s = ctx.setup(generate, warm_up)
    spark, meter = ctx.spark, ctx.meter
    rec.tracer = ctx.tracer
    if ctx.tracer is not None:
        spark.streams.addListener(ProgressSpans(ctx.tracer))
    table = ledger.table()
    kinds = np.array(ledger.cols["kind"]).reshape(BACKLOG_FILES, BACKLOG_PER_FILE)
    cum = np.cumsum((kinds != MALFORMED).sum(axis=1))
    n = BACKLOG_FILES * BACKLOG_PER_FILE

    walls, lat_p50, failed, attempted = [], [], 0, 0
    meter.reset_peak()
    cpu0 = meter.cpu_s()
    w0 = time.time()
    end = w0 + ctx.seconds
    i = 0
    while True:
        rec.calls.clear()
        t0, wall, qs = drain(spark, d / "backlog" / "in", d / f"ck{i}", rec.factory)
        i += 1
        walls.append(wall)
        progress = _progress(qs)
        failed += _failed(qs)
        attempted += sum(len(p) for p in progress.values()) + _failed(qs)
        points = rec.points()
        delivered = _deliveries(points, cum) - t0
        per_file = np.diff(np.concatenate([[0], cum]))
        lat_p50.append(percentile(np.repeat(delivered, per_file), 0.5))
        if time.time() >= end:
            break
    w1 = time.time()
    cpu = meter.cpu_s() - cpu0
    peak = meter.peak_rss_bytes
    wall = percentile(walls, 0.5)
    res = Result(failed=failed, attempted=attempted)
    res.e2e = {
        "setup_s": setup_s,
        "latency_p50_s": percentile(lat_p50, 0.5),
    }
    res.report = {
        "backlog_tweets_per_s": n / wall,
        "drain_s": walls,
        "catch_up_p50_s": res.e2e["latency_p50_s"],
        "catch_up_p50_s_by_drain": lat_p50,
        "cpu_s_per_ktweet": cpu / (n * len(walls) / 1000),
        "peak_rss_mb": peak / 2**20,
        "setup_s": setup_s,
    }
    # the last drain's output against the reference
    res.wrong = check.check_tweets(table, str(d / "backlog" / "in" / "*.json"), points, progress)
    if ctx.tracer is not None:
        lay = stream_layers(progress, rec, t0, w1)
        lay["sources.parse_dropped_rows"] = n - int(cum[-1])
        lay |= function_layers(ctx, sorted((d / "backlog" / "in").glob("*.json")))
        lay["trace.overhead_s"] = ctx.tracer.own_s
        res.layers = lay
    return res
