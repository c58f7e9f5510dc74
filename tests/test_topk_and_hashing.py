"""Deterministic argmax tie-break (A3/A4 deviation, SURVEY.md §7) and
engine-portable hashing primitives."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from flink_streaming_twitter_spark.functions.hashing import (
    MERSENNE_31,
    md5_int31,
    md5_int60,
    minhash_params,
)
from flink_streaming_twitter_spark.operators.topk import per_window_top1, top_k


def test_top1_tiebreak_is_greatest_key(spark):
    df = spark.createDataFrame(
        [(1, "#a", 5), (1, "#b", 5), (1, "#c", 3), (2, "#z", 1)], ["w", "hashtag", "cnt"]
    )
    out = {r.w: (r.top_hashtag, r.top_cnt) for r in per_window_top1(df, ["w"], "hashtag").collect()}
    # ties on cnt → lexicographically greatest key, deterministically
    assert out == {1: ("#b", 5), 2: ("#z", 1)}


def test_top_k_orders_and_limits(spark):
    df = spark.createDataFrame([("a", 3), ("b", 5), ("c", 5), ("d", 1)], ["tok", "cnt"])
    out = [(r.tok, r.cnt) for r in top_k(df, "cnt", 3, "tok").collect()]
    assert out == [("b", 5), ("c", 5), ("a", 3)]


def test_md5_int_matches_python_derivation(spark):
    df = spark.createDataFrame([("hello world",)], ["s"])
    [r] = df.select(
        md5_int60(F.col("s")).alias("h60"), md5_int31(F.col("s")).alias("h31")
    ).collect()
    expected60 = int(hashlib.md5(b"hello world").hexdigest()[:15], 16)
    assert r.h60 == expected60
    assert r.h31 == expected60 % (1 << 31)


def test_minhash_params_are_stable_and_bounded():
    p16 = minhash_params(16)
    assert len(p16) == 16 and p16 == minhash_params(16)
    for a, b in p16:
        assert 1 <= a < MERSENNE_31 and 0 <= b < MERSENNE_31
