"""Top-1 / top-k selection (SURVEY.md §2.6 A3/A4).

The reference's only ordering semantics is argmax: ``maxBy(1)``
(Main.java:100) and a manual HashMap argmax pass (Main.java:129-141), both
with nondeterministic tie behavior (first-seen / HashMap order). We fix a
deterministic tie-break — highest count wins, ties broken by the
lexicographically greatest key — because it lets the per-group argmax be a
single ``max(struct(cnt, key))`` hash aggregate: no sort, no window
function, partial+final aggregation over the shuffle, which is the plan
shape that survives 100 TB. (A row_number() formulation would sort every
group; max(struct) does constant work per row.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def per_window_top1(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
) -> DataFrame:
    """Per group, the (key, cnt) with the max ``cnt``; ties → greatest key.

    Output columns: *group_cols, top_<key_col>, top_cnt.
    """
    best = F.max(F.struct(F.col("cnt"), F.col(key_col))).alias("best")
    return (
        df.groupBy(*group_cols)
        .agg(best)
        .select(
            *group_cols,
            F.col(f"best.{key_col}").alias(f"top_{key_col}"),
            F.col("best.cnt").alias("top_cnt"),
        )
    )


def top_k(
    df: DataFrame,
    order_col: str,
    k: int,
    tiebreak_col: str,
) -> DataFrame:
    """Global deterministic top-k: ORDER BY order_col DESC, tiebreak ASC
    LIMIT k.

    Catalyst rewrites sort+limit into TakeOrderedAndProject — each
    partition keeps a k-row heap and the driver merges; no global sort is
    materialized, so this is safe at any scale for small k.
    """
    return df.orderBy(F.col(order_col).desc(), F.col(tiebreak_col).asc()).limit(k)
