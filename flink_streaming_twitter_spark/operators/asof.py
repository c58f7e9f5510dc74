"""As-of (point-in-time) join — an operator Spark lacks natively,
composed from union + window (SURVEY.md extension surface; the classic
time-series/feature-store primitive).

Algorithm (the scalable formulation): tag right rows, UNION with left,
one shuffle+sort per key via a window, then ``last(value, ignorenulls)``
carries the latest right-side value forward onto each left row. Cost is
a single hash exchange on the key plus an in-partition sort — the same
shape as any windowed analytic, no range-explosion, no skew beyond the
key distribution (hot keys → AQE; or split the window by coarse time
bucket for pathological keys).

The DuckDB oracle intentionally uses DuckDB's *native* ASOF JOIN — an
independent algorithm validating the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    left_ts: str,
    right_ts: str,
    value_col: str,
    out_col: str = "asof_value",
) -> DataFrame:
    """For each left row, the ``value_col`` of the latest right row with
    right_ts strictly before left_ts, matching on key_cols.

    Left rows with no prior right row get NULL. Ties among right rows at
    identical timestamps are broken by the larger value_col
    (deterministic; NULL values sort below all non-NULL).

    A right row whose VALUE is NULL is still an observation: it
    participates in the as-of match and yields NULL (the latest reading
    was null), exactly like DuckDB's native ASOF JOIN. The carry
    therefore wraps the value in a one-field struct — the struct is
    non-NULL for every right row, so ``last(ignorenulls)`` skips only
    the interleaved left rows, never a null-valued observation. (The
    naive carry on the bare value column conflated the two: a NULL
    right value was indistinguishable from a left row and the join
    resurrected the older non-null reading.)

    NULL-TIME contract (round 10, caught by the gate-SF NULL-corpus
    audit): a row with a NULL timestamp takes part in NO as-of
    relation, on either side. A left row with unknown time has no
    well-defined "prior" — it is kept and yields the no-match NULL
    (pinned by EXPLICIT ``asc_nulls_first`` ordering, not the engine
    default: such rows sort before every observation, so the
    ``..-1`` frame is empty). A right row with unknown time can never
    be "the latest prior reading" — it is filtered before the union
    (without the filter it would sort first and be carried onto every
    left row with no real prior observation). SQL inequality semantics
    agree (NULL > x is never true), but DuckDB's sort-based native
    ASOF treats a NULL PROBE key as +inf and matches it to the LATEST
    observation — so the oracle must route undated probes around its
    ASOF operator; see the q_asof_last_error oracle.
    """
    # marker orders right rows relative to left rows at equal timestamps:
    # right (2) sorts AFTER left (1), so the ..-1 frame excludes a right
    # row at the left row's own timestamp
    vtype = right.schema[value_col].dataType
    lhs = left.select(
        *key_cols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_m"),
        F.lit(None).cast(vtype).alias("_v"),
        F.lit(None).cast(f"struct<v:{vtype.simpleString()}>").alias("_vs"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_row"),
    )
    rhs = right.filter(F.col(right_ts).isNotNull()).select(
        *key_cols,
        F.col(right_ts).alias("_ts"),
        F.lit(2).alias("_m"),
        F.col(value_col).alias("_v"),
        F.struct(F.col(value_col).alias("v")).alias("_vs"),
        F.lit(None).cast(lhs.schema["_row"].dataType).alias("_row"),
    )
    unioned = lhs.unionByName(rhs)
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(
            F.col("_ts").asc_nulls_first(),
            F.col("_m").asc(),
            F.col("_v").asc_nulls_first(),
        )
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = unioned.withColumn("_carry", F.last("_vs", ignorenulls=True).over(w))
    return (
        carried.filter(F.col("_m") == 1)
        .select("_row.*", F.col("_carry.v").alias(out_col))
    )
