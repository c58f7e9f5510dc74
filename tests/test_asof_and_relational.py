"""As-of join semantics (strictly prior, ties, no-match) — the
union+window formulation in operators/asof.py."""

from __future__ import annotations

from flink_streaming_twitter_spark.operators.asof import asof_join_backward


def _frames(spark):
    left = spark.createDataFrame(
        [(1, 10.0, "l0"), (1, 20.0, "l1"), (1, 15.0, "l2"), (2, 5.0, "l3")],
        ["u", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, 10.0, 100.0), (1, 15.0, 150.0), (2, 99.0, 990.0)], ["u", "rts", "val"]
    )
    return left, right


def test_strict_backward_excludes_equal_timestamps(spark):
    left, right = _frames(spark)
    out = {
        r.tag: r.prior
        for r in asof_join_backward(
            left, right, ["u"], "ts", "rts", "val", out_col="prior"
        ).collect()
    }
    # l0 at ts=10: right row at 10 is NOT strictly prior -> NULL
    assert out == {"l0": None, "l1": 150.0, "l2": 100.0, "l3": None}


def test_null_timestamps_take_part_in_no_asof_relation(spark):
    """The NULL-time contract (round 10, caught by the gate-SF
    NULL-corpus audit): an undated LEFT row is kept but matches nothing
    — even when its key has abundant observation history (the case
    where DuckDB's sort-based native ASOF would have matched the LATEST
    observation, treating the NULL probe as +inf) — and an undated
    RIGHT row is never an observation, even for left rows that have no
    other prior (where the union+window formulation would otherwise
    have sorted it first and carried it)."""
    left = spark.createDataFrame(
        [(1, None, "undated_probe"), (1, 5.0, "earliest"), (2, 50.0, "dated")],
        "u long, ts double, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10.0, 100.0), (1, 20.0, 200.0), (2, None, 990.0)],
        "u long, rts double, val double",
    )
    out = {
        r.tag: r.prior
        for r in asof_join_backward(
            left, right, ["u"], "ts", "rts", "val", out_col="prior"
        ).collect()
    }
    # undated_probe: key 1 has two dated observations; still no match.
    # earliest: predates every observation -> no match.
    # dated (key 2): its ONLY observation is undated -> no match (the
    # pre-fix formulation carried 990.0 here).
    assert out == {"undated_probe": None, "earliest": None, "dated": None}


def test_approx_distinct_within_rsd_of_exact(spark, sf_dir):
    from flink_streaming_twitter_spark.plans.relational import (
        q_approx_distinct_users,
        q_distinct_users,
    )

    exact = {r.event_type: r.n_users for r in q_distinct_users(spark, sf_dir).collect()}
    rows = {r.event_type: r for r in q_approx_distinct_users(spark, sf_dir).collect()}
    assert rows.keys() == exact.keys()
    for et, n in exact.items():
        # the query now carries its own bound verdict (bounded oracle);
        # cross-check the exact column and that the bound held
        assert rows[et].exact_users == n
        assert rows[et].hll_ok


def test_null_valued_observation_is_matched_not_skipped(spark):
    """A right row whose value is NULL is still the latest observation:
    the join must yield NULL for left rows after it (DuckDB ASOF JOIN
    semantics — the oracle's independent algorithm), not resurrect the
    older non-null reading. Before the struct-carry fix, the bare-value
    last(ignorenulls) conflated a null-valued observation with the
    interleaved left rows and returned 100.0 for l1."""
    from pyspark.sql import types as T

    left = spark.createDataFrame(
        [(1, 5.0, "l0"), (1, 20.0, "l1"), (1, 12.0, "l2")], ["u", "ts", "tag"]
    )
    right = spark.createDataFrame(
        [(1, 10.0, 100.0), (1, 15.0, None)],
        T.StructType(
            [
                T.StructField("u", T.LongType()),
                T.StructField("rts", T.DoubleType()),
                T.StructField("val", T.DoubleType()),
            ]
        ),
    )
    out = {
        r.tag: r.prior
        for r in asof_join_backward(
            left, right, ["u"], "ts", "rts", "val", out_col="prior"
        ).collect()
    }
    # l0: nothing prior; l2: latest prior is the 100.0 reading;
    # l1: latest prior (ts=15) is the NULL reading — NULL, not 100.0
    assert out == {"l0": None, "l1": None, "l2": 100.0}
    # tie at one timestamp between a NULL and a non-null reading: the
    # non-null wins the tie-break (NULL sorts below all values)
    right2 = spark.createDataFrame(
        [(1, 10.0, None), (1, 10.0, 7.0)],
        right.schema,
    )
    [r] = asof_join_backward(
        left.filter("tag = 'l1'"), right2, ["u"], "ts", "rts", "val",
        out_col="prior",
    ).collect()
    assert r.prior == 7.0


def test_non_finite_measurements_are_no_measurements(spark):
    """The round-10 non-finite contract (functions/numeric.py): NaN/±inf
    readings are nullified at the measure-ingestion point, so moments
    are computed over finite readings only while count(*) keeps counting
    rows — without it Spark propagates (avg=inf, stddev=NaN) and the
    DuckDB oracle crashes outright (decimal cast of NaN, STDDEV_SAMP
    overflow on inf; round-10 edge-corpus audit)."""
    from flink_streaming_twitter_spark.functions.numeric import finite_or_null
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1.0,), (3.0,), (float("nan"),), (float("inf"),), (float("-inf"),), (None,)],
        "value double",
    )
    row = df.select(finite_or_null(F.col("value")).alias("v")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_finite"),
        F.avg("v").alias("avg"),
        F.min("v").alias("v_min"),
        F.max("v").alias("v_max"),
    ).first()
    assert row.n_rows == 6 and row.n_finite == 2
    assert row.avg == 2.0 and row.v_min == 1.0 and row.v_max == 3.0


def test_tie_among_right_rows_picks_greatest_value(spark):
    left = spark.createDataFrame([(1, 20.0, "x")], ["u", "ts", "tag"])
    right = spark.createDataFrame([(1, 10.0, 1.0), (1, 10.0, 2.0)], ["u", "rts", "val"])
    [r] = asof_join_backward(
        left, right, ["u"], "ts", "rts", "val", out_col="prior"
    ).collect()
    assert r.prior == 2.0  # deterministic tie-break: larger value wins


def test_approx_percentiles_ordered_and_near_exact(spark, sf_dir):
    """Sketch percentiles: exact columns agree with the exact twin and
    the sketch's in-plan bracket bound held for every group."""
    from flink_streaming_twitter_spark.plans.analytics import (
        q_approx_percentiles,
        q_price_percentiles,
    )

    approx = {r.o_orderpriority: r for r in q_approx_percentiles(spark, sf_dir).collect()}
    exact = {r.o_orderpriority: r for r in q_price_percentiles(spark, sf_dir).collect()}
    assert approx.keys() == exact.keys() and approx
    for k, a in approx.items():
        assert a.p50_exact <= a.p90_exact <= a.p99_exact
        assert a.sketch_ok
        for q in ("p50", "p90", "p99"):
            assert getattr(a, f"{q}_exact") == getattr(exact[k], q)
