"""Kafka source + tweet JSON parsing.

Reference behavior being reproduced (SURVEY.md §2.1/§2.2):

- S1: ``FlinkKafkaConsumer<String>("tweeter-topic", SimpleStringSchema,
  props)`` with 3 bootstrap brokers and group ``flink`` (Main.java:57-61).
- P1: ``MapToTweet`` — Jackson parse projecting the ~9 KB status JSON down
  to (text, createdAt, lang); parse failure → null element, silently
  dropped downstream (Main.java:202-219, Tweet.java:10).
- P2: event time := ``timestamp_ms`` with a 300 s bounded-out-of-orderness
  watermark (Main.java:66-73).

Spark-first mapping: Kafka batch/stream scan → ``from_json`` (PERMISSIVE:
bad record → null fields) → null filter → ``timestamp_millis``; the
pipelines add ``withWatermark``. The whole parse path is columnar and
codegen-fused; no per-record Python runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_TOPIC = "tweeter-topic"

# Input stream record (Tweet.java:14-21). The JSON property carrying
# event time is `createdAt` although the POJO field is `timestamp_ms`; it
# holds epoch milliseconds (Tweet.java:17-18, used as epoch ms at
# Main.java:71). Unknown properties are ignored (Tweet.java:10).
TWEET_JSON_SCHEMA = T.StructType(
    [
        T.StructField("text", T.StringType()),
        T.StructField("createdAt", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)


def kafka_options(
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    starting_offsets: str = "latest",
) -> dict[str, str]:
    """The Kafka reader options as data, split out so the wiring is
    unit-testable without a broker or the kafka connector jar (neither
    exists in the test container): the consumer config the reference
    builds imperatively (Main.java:57-61 — bootstrap list, topic
    subscription) expressed as Spark source options."""
    return {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }


def kafka_tweet_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str = DEFAULT_TOPIC,
    starting_offsets: str = "latest",
) -> DataFrame:
    """readStream from Kafka, value decoded to UTF-8 string (the
    SimpleStringSchema analog, Main.java:61)."""
    return (
        spark.readStream.format("kafka")
        .options(**kafka_options(bootstrap_servers, topic, starting_offsets))
        .load()
        .select(F.col("value").cast("string").alias("raw_json"))
    )


def parse_tweets(raw: DataFrame, raw_col: str = "raw_json") -> DataFrame:
    """JSON string column → (text, ts TIMESTAMP, lang), dropping unparseable
    records exactly like the reference drops null elements.

    PERMISSIVE ``from_json`` gives null fields on malformed input
    (Main.java:209-218 equivalent); records without a usable event time are
    dropped because every downstream pipeline keys on event time. No
    watermark is set here: each pipeline sets its own
    (streaming/runner.WATERMARK).
    """
    parsed = raw.select(F.from_json(F.col(raw_col), TWEET_JSON_SCHEMA).alias("t")).select(
        F.col("t.text").alias("text"),
        F.timestamp_millis(F.col("t.createdAt")).alias("ts"),
        F.col("t.lang").alias("lang"),
    )
    return parsed.filter(F.col("text").isNotNull() & F.col("ts").isNotNull())
