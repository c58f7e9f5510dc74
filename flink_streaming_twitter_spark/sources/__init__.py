from .files import load_table
from .kafka import kafka_tweet_stream, parse_tweets

__all__ = [
    "load_table",
    "kafka_tweet_stream",
    "parse_tweets",
]
