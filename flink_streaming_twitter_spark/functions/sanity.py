"""Ingest-time sanity bounds for finite-but-extreme values.

The round-10 non-finite contract (functions/numeric.py) routes NaN/±inf
readings away from every aggregate; the round-11 extreme-boundary probe
(SCALE.md, "Extreme-magnitude / extreme-time probe") mapped the NEXT
regime out: values that are finite but so large they break the engines
ANYWAY — a 1e300 "measurement" (one overflowed parse short of inf)
overflows DuckDB's STDDEV_SAMP and every DECIMAL hash-stability cast
while Spark keeps computing; a single year-9999 event time advances a
stream's watermark ~8000 years and permanently evicts every later
arrival (pinned by
test_far_future_event_poisons_watermark_and_evicts_stream_tail). The
probe's deploy answer — bound magnitudes and event times AT INGEST,
quarantining the rest exactly like the non-finite and NULL-ts classes —
lives here as first-class helpers, oracle-checked through the
``q_value_stats_sane`` / ``q_value_by_window_sane`` entries
(plans/sanity.py) and bound on an extreme corpus by
tests/test_extreme_corpus_audit.py.

The bounds are module constants consumed by BOTH the Spark plan
builders and the DuckDB oracle SQL (plans/sanity.py interpolates them),
so the two engines can never drift — the same no-drift discipline as
plans/params.py. They live HERE rather than in params.py because they
are properties of the sanity contract, not of any query's shape (and
params.py sits in nearly every entry's import closure, so touching it
mid-round would mark the whole surface rotation-affected for a
two-constant addition).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# |measurement| must stay strictly below this to be usable. 1e12 is the
# DECIMAL(18,6) representability ceiling (12 integral digits + 6 dp) —
# the hash-stability device every money/measure aggregate in this repo
# runs through — so "sane" = "the measurement domain the engine's exact
# arithmetic is sized for". It also sits comfortably inside the two
# boundaries the probe mapped: second-moment double overflow (~1e150,
# where x**2 leaves double range) and the |x|>=~1e10 regime where a
# double's ulp exceeds 6-dp resolution and cross-engine 6-dp hash
# agreement on independently-ordered sums stops being meaningful. In a
# real deployment the bound is a per-measure schema property; this is
# the engine-wide default.
MEASUREMENT_MAGNITUDE_BOUND = 1e12

# Event times outside [lo, hi) are clock garbage: pre-epoch times are
# parse accidents, and any future time past the horizon poisons the
# watermark (one corrupt clock evicts the whole stream tail — the probe's
# 4 red streaming rows). A deployment would use [now - retention,
# now + allowed_skew]; the oracle-checked entries need DETERMINISTIC
# bounds (the driver replays the same corpus), so the engine-wide
# defaults are fixed calendar bounds that every legitimate gate-corpus
# timestamp sits far inside.
EVENT_TIME_LO = "1970-01-01 00:00:00"
EVENT_TIME_HI = "2100-01-01 00:00:00"


def sane_measurement(col: Column) -> Column:
    """``col`` if finite AND |col| < MEASUREMENT_MAGNITUDE_BOUND, else
    NULL (NULL stays NULL).

    Strict subset of finite_or_null (functions/numeric.py): everything
    that helper nullifies is also insane here (|±inf| >= any finite
    bound; NaN is matched explicitly because NaN comparisons are false,
    not NULL, under both engines' float semantics). The DuckDB twin is
    ``CASE WHEN isfinite(x) AND abs(x) < bound THEN x END``.
    """
    return F.when(
        F.isnan(col) | (F.abs(col) >= F.lit(MEASUREMENT_MAGNITUDE_BOUND)), F.lit(None)
    ).otherwise(col)


def sane_event_time(col: Column) -> Column:
    """``col`` if EVENT_TIME_LO <= col < EVENT_TIME_HI, else NULL (NULL
    stays NULL).

    Nullifying (rather than filtering) composes with the established
    NULL-ts contract: window()/session_window() drop NULL event times on
    the Spark side and every windowed oracle pins ``ts IS NOT NULL``, so
    an insane timestamp flows down the exact same quarantine track as an
    undated event — and in streaming the guard runs BEFORE the watermark
    assigner, which is the whole point (a year-9999 event must never
    reach withWatermark). The DuckDB twin is
    ``CASE WHEN ts >= TIMESTAMP 'lo' AND ts < TIMESTAMP 'hi' THEN ts END``.
    """
    return F.when(
        (col >= F.lit(EVENT_TIME_LO).cast("timestamp"))
        & (col < F.lit(EVENT_TIME_HI).cast("timestamp")),
        col,
    )
