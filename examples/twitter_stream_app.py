"""The reference job, end-to-end on Spark: Kafka → four pipelines →
InfluxDB.

This is the production entrypoint a user of
gunjanvishwakarma/flink-streaming-twitter would run instead of
`PrcoessTweetFromKafkaAndWriteToInfluxDatabase.main` (Main.java:40-178):
same topic, same four analytics, same measurement names, same 5 s refresh
cadence and 300 s disorder tolerance, written to an InfluxDB /write
endpoint as line protocol.

Usage (requires a reachable Kafka broker set + InfluxDB; neither exists
in the test container, where the same pipelines are exercised via file
replay in tests/test_streaming.py):

    spark-submit \
        --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2 \
        examples/twitter_stream_app.py \
        --brokers host1:9092,host2:9092 \
        --influx-url http://influx:8086/write?db=twittergraph

The reference pins parallelism to 1 (Main.java:54); here Spark
parallelizes freely — on a cluster, submit with your executor topology
and the same code runs unchanged (see SCALE.md for the conf deltas).
"""

from __future__ import annotations

import argparse

from flink_streaming_twitter_spark.session import build_session
from flink_streaming_twitter_spark.sources.kafka import DEFAULT_TOPIC, kafka_tweet_stream, parse_tweets
from flink_streaming_twitter_spark.streaming.runner import WATERMARK, start_query
from flink_streaming_twitter_spark.streaming.sinks import (
    influx_lines_foreach_batch,
    to_influx_points,
)


def build_queries(
    tweets,
    sink_factory,
    checkpoint: str,
    available_now: bool = False,
) -> list:
    """Assemble and START the reference's four concurrent pipelines off
    one tweet-shaped stream (columns: text, lang, ts) — the fan-out of
    Main.java:85/104/148/159. ``sink_factory(measurement, ts_col, tags,
    fields)`` returns the foreachBatch callable for that measurement
    (production: InfluxDB line protocol; the smoke test collects the
    points instead). ``available_now=True`` swaps the 5 s refresh
    trigger for a bounded drain so a file replay can exercise the exact
    production wiring deterministically. Returns the four
    StreamingQuery handles."""
    # hashtag extraction feeds A and B (TokenizeTweetTextFlatMap,
    # Main.java:180-200)
    from pyspark.sql import functions as F

    from flink_streaming_twitter_spark.functions.text import hashtags
    from flink_streaming_twitter_spark.operators.windows import (
        sliding_window_counts,
        trending_two_stage,
        tumbling_counts,
    )

    tagged = tweets.select(
        F.explode(hashtags(F.col("text"))).alias("hashtag"), F.col("ts")
    )
    tags = tagged.withWatermark("ts", WATERMARK)
    tweets = tweets.withWatermark("ts", WATERMARK)

    queries = []

    # Q-A TrendingHashTagFlink2 (Main.java:85-102): chained two-stage form
    qa = trending_two_stage(tags, "ts", "hashtag", "30 seconds", "5 seconds", 1, 5)
    queries.append(
        start_query(
            qa.select(
                F.timestamp_seconds("sample_w_start").alias("w_end"),
                F.col("top_hashtag").alias("hashtag"),
                F.col("top_cnt").alias("cnt"),
            ),
            name="trending_two_stage",
            output_mode="append",
            foreach_batch=sink_factory(
                "TrendingHashTagFlink2", "w_end", {"hashtag": "hashtag"}, {"count": "cnt"}
            ),
            checkpoint_dir=f"{checkpoint}/qa",
            available_now=available_now,
        )
    )

    # Q-B TrendingHashTagFlink1 (Main.java:104-146): stage-1 counts in
    # update mode; per-trigger top-1 inside foreachBatch
    qb_counts = sliding_window_counts(tags, "ts", "hashtag", "30 seconds", "5 seconds")
    inner_sink = sink_factory(
        "TrendingHashTagFlink1", "w_end", {"hashtag": "top_hashtag"}, {"count": "top_cnt"}
    )

    def qb_batch(batch_df, batch_id: int) -> None:
        from flink_streaming_twitter_spark.operators.topk import per_window_top1

        top = per_window_top1(batch_df, ["w_start", "w_end"], "hashtag").withColumn(
            "w_end", F.timestamp_seconds("w_end")
        )
        inner_sink(top, batch_id)

    queries.append(
        start_query(
            qb_counts,
            name="trending_single",
            output_mode="update",
            foreach_batch=qb_batch,
            checkpoint_dir=f"{checkpoint}/qb",
            available_now=available_now,
        )
    )

    # Q-C TotalTweetCountFlink (Main.java:148-157): ungrouped running
    # count, stamped at trigger time like the reference's wall-clock stamp.
    # A no-data micro-batch (the watermark moved, no new tweets) emits the
    # unchanged total again under a new stamp. That repeat is the
    # reference's own behaviour: ContinuousProcessingTimeTrigger.of(5 s)
    # on Q-C's global window (Main.java:154) re-fires the unchanged total
    # every 5 s, while Spark repeats it only on watermark-driven no-data
    # batches, so less often.
    qc = tweets.agg(F.count(F.lit(1)).alias("total")).withColumn("ts", F.current_timestamp())
    queries.append(
        start_query(
            qc,
            name="running_total",
            output_mode="update",
            foreach_batch=sink_factory("TotalTweetCountFlink", "ts", {}, {"count": "total"}),
            checkpoint_dir=f"{checkpoint}/qc",
            available_now=available_now,
        )
    )

    # Q-D TweetPerSecondCountFlink (Main.java:159-175): 1 s tumbling counts
    qd = (
        tumbling_counts(tweets, "ts", "1 second")
        .select("w_start", "cnt")
        .withColumn("w_start_ts", F.timestamp_seconds("w_start"))
    )
    queries.append(
        start_query(
            qd,
            name="tweets_per_second",
            output_mode="update",
            foreach_batch=sink_factory(
                "TweetPerSecondCountFlink", "w_start_ts", {}, {"count": "cnt"}
            ),
            checkpoint_dir=f"{checkpoint}/qd",
            available_now=available_now,
        )
    )

    return queries


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--brokers", required=True, help="Kafka bootstrap servers")
    ap.add_argument("--topic", default=DEFAULT_TOPIC)  # Main.java:61
    ap.add_argument("--influx-url", required=True, help="InfluxDB /write URL")
    ap.add_argument("--checkpoint", default="/tmp/twitter-stream-checkpoints")
    args = ap.parse_args()

    spark = build_session(app_name="twitter-streaming")  # AQE, UTC, shuffle sizing
    raw = kafka_tweet_stream(spark, args.brokers, args.topic)
    tweets = parse_tweets(raw)  # watermark added per-pipeline

    def sink_factory(measurement: str, ts_col: str, tags: dict, fields: dict):
        # one POST per trigger: the four measurements are tiny
        # top-1/count result streams
        def on_batch(batch_df, batch_id: int) -> None:
            pts = to_influx_points(batch_df, measurement, ts_col, tags, fields)
            influx_lines_foreach_batch(url=args.influx_url)(pts, batch_id)

        return on_batch

    build_queries(tweets, sink_factory, args.checkpoint)
    # four concurrent queries off one source lineage (the reference's
    # fan-out, Main.java:85/104/148/159); block until any fails/stops
    spark.streams.awaitAnyTermination()


if __name__ == "__main__":
    main()
