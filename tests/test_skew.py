"""AQE's runtime skew-join split, the engine's first-line skew defense."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_aqe_skew_join_splits_hot_partition_at_runtime(spark):
    """AQE's skew-join split is the engine's first-line skew defense — but it was
    configured and argued, never runtime-verified. Pin it: a sort-merge
    join whose left side is 90% one key must come out of adaptive
    execution with the join marked ``skew=true`` (the hot partition was
    split into sub-partitions) and still produce exactly the right
    rows. Thresholds are lowered so the ~1.4 MB hot partition qualifies
    at test scale; the payload is md5 (incompressible) because skew
    detection reads COMPRESSED map-output sizes."""
    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "100KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "100KB")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        # no broadcast: the split applies to shuffle joins only
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

        left = spark.range(80_000).select(
            F.when(F.col("id") < 72_000, F.lit(0))
            .otherwise((F.col("id") % 8) + 1)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(9).select(F.col("id").alias("k"), F.col("id").alias("rv"))
        j = left.join(right, "k")
        # collect() executes THIS DataFrame's plan, finalizing its
        # AdaptiveSparkPlan (count() would execute a different query and
        # leave j's own plan unfinalized)
        rows = j.collect()
        assert len(rows) == 80_000  # every left row matched exactly once
        assert sum(1 for r in rows if r.k == 0) == 72_000

        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE did not split the hot partition"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
