"""Plan-shape regression guard: the scale-critical physical-plan
properties SCALE.md documents must keep holding as queries evolve.

Checks run at sf0.001 (plan shape, not data) over EVERY queries() entry:
- no CartesianProduct anywhere (the only nested-loop joins allowed are
  broadcast ones, which the similarity operators use deliberately);
- row-at-a-time Python UDFs never appear (BatchEvalPython); Arrow-batched
  pandas plans (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)
  are the only sanctioned Python surfaces;
plus targeted assertions: pushdown reaching the q6 scan, broadcast
dimensions in q5, semi/anti join operators for q4/inactive-customers.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    return {name: _plan(fn(spark, sf_dir)) for name, fn in entry_mod.queries().items()}


def test_no_cartesian_products(plans):
    offenders = [n for n, p in plans.items() if "CartesianProduct" in p]
    assert not offenders, offenders


def test_no_row_at_a_time_python_udfs(plans):
    offenders = [n for n, p in plans.items() if "BatchEvalPython" in p]
    assert not offenders, offenders


def test_q6_filters_reach_parquet_scan(plans):
    p = plans["tpch_q6_forecast_revenue"]
    pushed = p.split("PushedFilters:")[1].split("\n")[0]
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, pushed


def test_q5_dimensions_broadcast(plans):
    p = plans["tpch_q5_local_supplier_volume"]
    # supplier/customer/nation/region must all broadcast (explicit hints);
    # whether orders x lineitem broadcasts too is size-dependent at toy SF
    assert p.count("BroadcastHashJoin") >= 4


def test_semi_and_anti_joins_planned_as_such(plans):
    assert "LeftSemi" in plans["tpch_q4_order_priority"]
    assert "LeftAnti" in plans["q_inactive_customers"]


def test_topk_uses_take_ordered(plans):
    assert "TakeOrderedAndProject" in plans["tpch_q3_shipping_priority"]
    assert "TakeOrderedAndProject" in plans["top_customers"]


def test_corpus_pipeline_shuffles_digests_not_text(plans):
    """q_corpus_pipeline's scale contract: exactly two exchanges (dedup
    + final agg), and no document-text column in any exchange's input —
    the dedup shuffle must carry the 32-hex digest, never the body."""
    import re

    p = plans["q_corpus_pipeline"]
    blocks = re.findall(r"\(\d+\) Exchange\n(Input[^\n]*)", p)
    assert len(blocks) == 2, p
    for inputs in blocks:
        assert "norm_text" not in inputs, inputs


def test_quota_cap_limits_before_exchange(plans):
    """cap_per_key must plan a partial WindowGroupLimit upstream of the
    exchange — the property that bounds shuffle volume under domain
    skew (SCALE.md corpus-management section)."""
    p = plans["q_cap_per_source"]
    assert "WindowGroupLimit" in p and "Partial" in p, p


def test_salted_quota_cap_plans_two_phases(plans):
    """cap_per_key_salted's scale contract (SCALE.md skew benchmark):
    phase 1 ranks per (key, salt) and phase 2 re-ranks survivors per
    key — the plan must show TWO window stages, each with its partial
    WindowGroupLimit, and the phase-1 exchange must partition on the
    salt as well as the key (that spread IS the skew fix)."""
    import re

    p = plans["q_cap_per_source_salted"]
    assert p.count("WindowGroupLimit") >= 2, p
    assert "Partial" in p, p
    # at least one hashpartitioning clause carries the internal salt
    parts = re.findall(r"hashpartitioning\(([^)]*)\)", p)
    assert any("__salt" in frag and "source" in frag for frag in parts), parts


def _lambda_bodies(plan: str) -> list[str]:
    """The balanced-parenthesis argument text of every
    ``lambdafunction(...)`` in a formatted plan (nested ones included)."""
    bodies, start = [], plan.find("lambdafunction(")
    while start != -1:
        i, depth = start + len("lambdafunction("), 1
        while depth and i < len(plan):
            depth += {"(": 1, ")": -1}.get(plan[i], 0)
            i += 1
        bodies.append(plan[start:i])
        start = plan.find("lambdafunction(", start + 1)
    return bodies


def test_no_regex_inside_higher_order_lambdas(plans):
    """A regex captured by a higher-order-function lambda re-runs once
    per array element: word shingles built from ``tokens(text)`` inside
    ``transform`` tokenized the whole document once per shingle. The
    token array must be projected once, outside the lambda."""
    offenders = sorted(
        name
        for name, p in plans.items()
        if any("regexp_extract_all" in body for body in _lambda_bodies(p))
    )
    assert not offenders, offenders


def test_aqe_converts_smj_to_broadcast_at_runtime(spark):
    """The third AQE feature the session enables (runtime join re-plan)
    — pinned end-to-end with the two-threshold design Spark ships for
    exactly this: the STATIC threshold is dropped to 1 KB so planning
    picks SortMergeJoin, while the ADAPTIVE threshold
    (spark.sql.adaptive.autoBroadcastJoinThreshold — applied to runtime
    map-output sizes) stays 10 MB, so the filtered right side (50 rows
    at runtime; 200 k statically) converts the join to
    BroadcastHashJoin mid-query, with correct results. This is the
    mechanism that saves the dimension-join shuffle at 100 TB whenever
    a filter or aggregate collapses a side below the broadcast
    threshold in ways static stats cannot see."""
    from pyspark.sql import functions as F

    saved = {}
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ):
        saved[k] = spark.conf.get(k, None)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "10MB")
        left = spark.range(50_000).select(
            (F.col("id") % 100).alias("k"), F.col("id").alias("lv")
        )
        right = (
            spark.range(200_000)
            .select((F.col("id") % 100).alias("k"), F.col("id").alias("rv"))
            .filter(F.col("rv") % 4001 == 0)  # 50 rows at runtime
        )
        j = left.join(right, "k")

        initial = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=false" in initial
        assert "SortMergeJoin" in initial and "BroadcastHashJoin" not in initial

        rows = j.collect()
        # 50 right rows, k = i % 100 for i in 0..49 -> 50 distinct keys,
        # 500 left rows per key
        assert len(rows) == 25_000

        final = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        # the adaptive toString appends the initial plan after the final
        # one — judge only the final section
        final_section = final.split("== Initial Plan ==")[0]
        assert "BroadcastHashJoin" in final_section
        assert "SortMergeJoin" not in final_section
    finally:
        for k, v in saved.items():
            if v is None:
                try:
                    spark.conf.unset(k)
                except Exception:
                    pass
            else:
                spark.conf.set(k, v)


def test_bucket_cap_plans_broadcast_anti_join(spark, sf_dir):
    """The default LSH bucket-cap filter must stay a BROADCAST anti-join
    against the (near-empty) oversized-key set. The win is STRUCTURAL,
    not a local-SF speedup (the r8 quiet draw measured anti/semi/uncapped
    equal within noise at sf0.1 — SCALE.md "cap filter cost"): the
    anti-join's build side is the oversized-key set, near-empty at any
    corpus size, while a semi-join builds over the full bucket-key set,
    which grows with the corpus and eventually stops broadcasting — and
    a shuffled anti-join would re-shuffle the whole banded table. Pinned
    on the capped candidate-pair plan: exactly one LeftAnti join,
    planned broadcast, and no SortMergeJoin variant of it."""
    from flink_streaming_twitter_spark.operators import dedup as D
    from flink_streaming_twitter_spark.plans import params as P
    from flink_streaming_twitter_spark.sources.files import load_table

    docs = load_table(spark, sf_dir, "documents")
    sigs = D.minhash_signatures(
        D.doc_shingle_sets(docs, k=P.SHINGLE_K), P.MINHASH_PERMS
    )
    plan = _plan(
D.lsh_candidate_pairs(sigs, P.MINHASH_PERMS, P.MINHASH_BANDS))
    assert "BroadcastHashJoin LeftAnti" in plan, plan
    assert "SortMergeJoin LeftAnti" not in plan
    assert "ShuffledHashJoin LeftAnti" not in plan
