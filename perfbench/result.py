"""What a workload returns, and the names shared by the workloads."""

from __future__ import annotations

from dataclasses import dataclass, field

# query names build_queries assigns, and the measurement each one feeds
QUERIES = {
    "trending_two_stage": "TrendingHashTagFlink2",
    "trending_single": "TrendingHashTagFlink1",
    "running_total": "TotalTweetCountFlink",
    "tweets_per_second": "TweetPerSecondCountFlink",
}


# units of the workload-specific end-to-end figures in the report line
REPORT_UNITS = {
    "setup_s": "s",
    "warm_up_s": "s",
    "freshness_p50_s": "s",
    "freshness_p95_s": "s",
    "window_latency_p50_s": "s",
    "tweets_per_s": "1/s",
    "cpu_s_per_ktweet": "s",
    "backlog_tweets_per_s": "1/s",
    "catch_up_p50_s": "s",
    "corpus_docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "near_dup_recall": "ratio",
    "false_drop_share": "ratio",
    "peak_rss_mb": "MB",
    "wrong_results": "count",
    "ops_failed_share": "ratio",
}


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    wrong: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0


def percentile(values, q: float) -> float:
    """q-quantile by linear interpolation between order statistics; 0
    for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)
