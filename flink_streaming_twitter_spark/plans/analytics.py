"""Join/aggregation analytics over the TPC-H-ish star schema.

The reference contains no joins at all (SURVEY.md §2.7) — this module is
the engine's join/sort/agg breadth, built the way the plans must look at
100 TB:

- dimension sides of joins carry an explicit ``broadcast()`` hint
  (region/nation/customer are small at any SF; relying on stats-based
  auto-broadcast is fragile when stats are stale);
- money arithmetic runs in DECIMAL so partial/final aggregation order can
  never change the answer (bit-exact vs the DuckDB oracle), cast to DOUBLE
  only at output;
- top-k is ORDER BY+LIMIT, which Catalyst executes as
  TakeOrderedAndProject (per-partition heaps, no global sort);
- all date filters are pushed-down-able parquet predicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.files import load_table

D182 = "decimal(18,2)"
D184 = "decimal(18,4)"


def _dec(col: str) -> F.Column:
    return F.col(col).cast(D182)


def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy grouped aggregation, the canonical
    partial→final hash-agg benchmark. Only 6 of 11 lineitem columns are
    read — column pruning reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01").cast("timestamp")
    )
    disc_price = (_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount"))).cast(D184)
    charge = disc_price * (F.lit(1).cast(D182) + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("d_sum_qty"),
            F.sum(_dec("l_extendedprice")).alias("d_sum_base"),
            F.sum(disc_price).alias("d_sum_disc"),
            F.sum(charge).alias("d_sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("d_sum_qty").cast("double").alias("sum_qty"),
            F.col("d_sum_base").cast("double").alias("sum_base_price"),
            F.col("d_sum_disc").cast("double").alias("sum_disc_price"),
            F.col("d_sum_charge").cast("double").alias("sum_charge"),
            (F.col("d_sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
            (F.col("d_sum_base").cast("double") / F.col("count_order")).alias("avg_price"),
            F.col("count_order"),
        )
    )


def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective fact-fact join with a broadcast dimension
    filter, grouped revenue, deterministic top-10.

    customer(BUILDING) is broadcast into orders; orders⋈lineitem shuffles
    on orderkey (both sides pre-filtered by pushed-down date predicates —
    at 100 TB the shuffle carries only the qualifying slice)."""
    cutoff = F.lit("1998-06-30").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = F.sum(
        (_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount"))).cast(D184)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("d_revenue"))
        .select(
            "l_orderkey",
            F.col("d_revenue").cast("double").alias("revenue"),
            F.col("o_orderdate").cast("long").alias("o_orderdate_s"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table snowflake join, revenue per nation.

    The whole dimension arm region→nation→(customer,supplier) is broadcast;
    only orders⋈lineitem shuffles. The c_nationkey = s_nationkey condition
    makes 'local' volume — the reference for correct join reordering."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.sum(
        (_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount"))).cast(D184)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.alias("d_revenue"))
        .select("n_name", F.col("d_revenue").cast("double").alias("revenue"))
    )


def top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 customers by lifetime order value: fact aggregated FIRST
    (shuffle carries one row per customer), then the 10 survivors join the
    dimension — aggregate-before-join is the 100 TB-safe order."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(_dec("o_totalprice")).alias("d_total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_custkey",
            F.col("d_total").cast("double").alias("total_spent"),
            "n_orders",
        )
        .orderBy(F.col("total_spent").desc(), F.col("o_custkey").asc())
        .limit(10)
    )
    return spend.join(F.broadcast(cust), spend.o_custkey == cust.c_custkey).select(
        F.col("o_custkey").alias("c_custkey"), "c_name", "total_spent", "n_orders"
    )


def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter + ungrouped aggregate — the predicate-
    pushdown showcase. All three filters (date range, discount band,
    quantity cap) reach the parquet scan as PushedFilters; only 4 columns
    are read. At 100 TB with date-partitioned files this prunes partitions
    before opening them."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.03)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum((_dec("l_extendedprice") * _dec("l_discount")).cast(D184))
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → LEFT SEMI join. Orders in a quarter that
    had at least one line item shipped after the order date (late-ship
    proxy for the missing l_commitdate), counted by priority. The semi
    join shuffles only (orderkey) pairs and short-circuits on first
    match — at 100 TB this is strictly cheaper than join+distinct."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer over a
    quarter, nation attached, top 20. Aggregate runs on (custkey) BEFORE
    the dimension joins; customer/nation broadcast."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = F.sum(
        (_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount"))).cast(D184)
    )
    per_cust = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(revenue.alias("d_revenue"))
    )
    return (
        per_cust.join(F.broadcast(cust), per_cust.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("n_name"),
            F.col("d_revenue").cast("double").alias("revenue"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join: customers with NO orders after a cutoff, counted
    per market segment. The anti join shuffles only keys and drops a
    customer on first match — the scalable NOT EXISTS plan."""
    cust = load_table(spark, sf_dir, "customer")
    recent = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    inactive = cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
    return inactive.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_inactive"))


def q_cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE(priority, status): all 4 grouping combinations in one shuffle
    (Catalyst Expand), with money in DECIMAL until output."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(_dec("o_totalprice")).alias("d_total"),
            F.grouping_id().alias("gid"),
        )
        .select(
            F.coalesce(F.col("o_orderpriority"), F.lit("ALL")).alias("o_orderpriority"),
            F.coalesce(F.col("o_orderstatus"), F.lit("ALL")).alias("o_orderstatus"),
            "gid",
            "n",
            F.col("d_total").cast("double").alias("total_price"),
        )
    )


def q_order_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows beyond ranking: per-customer order sequence with
    LAG (value delta vs previous order) and a running cumulative spend
    (rows unbounded preceding). One shuffle on custkey serves both.

    The sequence ordering is EXPLICITLY nulls-last on both sides: Spark
    defaults ASC to NULLS FIRST while DuckDB defaults to NULLS LAST, so
    an undated order would silently shift every lag/running value in
    the partition depending on engine (caught by the round-9 relational
    NULL-corpus audit — 314 misaligned rows from ONE NULL date).
    Undated orders sort to the end of their customer's sequence,
    identically everywhere."""
    orders = load_table(spark, sf_dir, "orders")
    seq = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_last(), F.col("o_orderkey").asc()
    )
    run = seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("long").alias("order_date_s"),
        F.col("o_totalprice"),
        F.round(
            F.col("o_totalprice") - F.lag("o_totalprice", 1, 0.0).over(seq), 2
        ).alias("delta_vs_prev"),
        F.sum(_dec("o_totalprice")).over(run).cast("double").alias("running_spend"),
    )


def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT percentiles (linear interpolation) of order value per
    priority — `F.percentile`, not approx_percentile, so the DuckDB
    quantile_cont oracle matches to the rounding digit. Exact percentile
    sorts within each group; at 100 TB switch to approx_percentile
    (t-digest sketch, mergeable partials) and accept the rows-only
    check, as q_approx_distinct_users does for cardinality."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", 0.99), 4).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch form of q_price_percentiles: ``approx_percentile``
    builds mergeable per-partition digests (accuracy 10000 ⇒ rank error
    ≤ 0.01%), so the shuffle carries one fixed-size sketch per group per
    map task instead of sorting every group member — the 100 TB
    percentile path.

    Sketch outputs aren't SQL-portable, so this emits a BOUNDED oracle:
    the exact quantiles (DuckDB-reproducible, same as
    q_price_percentiles) plus ``sketch_ok`` — each approx quantile lies
    within the exact [q−0.01, q+0.01] quantile bracket, a rank-error
    bound 100× looser than the sketch's guarantee. The oracle emits the
    same exact columns with ``TRUE``, so the driver hash certifies the
    sketch bound instead of recording `no_oracle`. In production only
    the sketch runs; the exact percentiles exist to power the check."""
    orders = load_table(spark, sf_dir, "orders")

    def bracket(q: float) -> F.Column:
        ap = F.approx_percentile("o_totalprice", q, 10000)
        lo = F.percentile("o_totalprice", max(q - 0.01, 0.0))
        hi = F.percentile("o_totalprice", min(q + 0.01, 1.0))
        return (ap >= lo) & (ap <= hi)

    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", 0.5), 4).alias("p50_exact"),
        F.round(F.percentile("o_totalprice", 0.9), 4).alias("p90_exact"),
        F.round(F.percentile("o_totalprice", 0.99), 4).alias("p99_exact"),
        F.count(F.lit(1)).alias("n"),
        # coalesce: a group whose every o_totalprice is NULL has no
        # quantiles to bracket — percentile and approx_percentile both
        # return NULL, the comparison goes NULL, and the flag must read
        # vacuously TRUE (the oracle emits literal TRUE), not NULL
        # (round-9 relational NULL-corpus audit)
        F.coalesce(
            bracket(0.5) & bracket(0.9) & bracket(0.99), F.lit(True)
        ).alias("sketch_ok"),
    )


def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join preserving order-less customers,
    two-level aggregation (orders per customer → customers per count).
    The left join keeps NULL-extended rows so zero-order customers land
    in the c_count=0 bucket — the classic histogram-with-empty-groups
    pattern."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count(F.col("o_orderkey")).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: revenue 'view' + scalar-subquery max — suppliers
    whose quarter revenue equals the maximum. The max is a broadcast
    one-row aggregate joined back, never a driver-side collect.

    The view lineage IS executed twice (the max arm and the output arm;
    AQE re-plans them independently so ReuseExchange never fires —
    plans/r14/tpch_q15_top_supplier_before.txt @ a8b586f shows both Exchange
    arms). Round 14 measured persisting it: 1.69 → 2.12 s min-over-4
    interleaved A/B at sf0.1 — SLOWER, because the duplicated arm is
    only a date-pruned scan + hash aggregate while the cache pays a
    materialization barrier and blocks codegen fusion into the
    broadcast. Left unpersisted deliberately; on a cluster where the
    quarter's fact pass dominates, materialize the view once
    (checkpoint/table) instead of paying the scan twice."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                (_dec("l_extendedprice") * (F.lit(1).cast(D182) - _dec("l_discount"))).cast(D184)
            ).alias("d_rev")
        )
        .select("l_suppkey", F.col("d_rev").cast("double").alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(F.broadcast(max_rev), revenue.total_revenue == max_rev.mx)
        .join(F.broadcast(supp), revenue.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated aggregate subquery — lineitems with
    quantity below 20% of their part's average quantity. Decorrelated the
    scalable way: compute per-part averages once (one aggregation),
    broadcast-join back, filter — never a per-row subquery execution.

    The li⋈broadcast(part) prefilter pass runs TWICE (avg arm + main
    arm). Round 15 MEASURED the persist-the-prefilter alternative the
    r14 checklist had only argued by analogy to q11/q15
    (tools/ab_q17_persist.py @ b13460d, interleaved 6-pass A/B at sf0.1,
    fingerprint-identical outputs): base min 1.246 s vs persisted
    1.271 s, medians 1.6 vs 1.8 — the duplicated arm (pruned scan +
    broadcast join) stays cheaper than the cache's materialization
    barrier, so the shipped form keeps the re-scan. At 100 TB the same
    trade holds WHEN the brand filter is selective (the duplicated work
    is proportional to the filtered slice); materialize `pre` once if a
    deploy corpus makes the prefilter pass itself the dominant cost."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    avg_qty = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_partkey")
        .agg(F.avg("l_quantity").alias("avg_qty"))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            # exact DECIMAL sum, then divide in DOUBLE: DECIMAL/DECIMAL
            # division scale+rounding rules differ between engines by an
            # ulp; double division of the identical exact sum does not
            F.round(F.sum(_dec("l_extendedprice")).cast("double") / 7.0, 2).alias(
                "avg_yearly"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate (orders whose
    total quantity exceeds a threshold) — planned as aggregate → semi
    join, top-20 by price."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 100)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("long").alias("o_orderdate_s"),
            "o_totalprice",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
    )


def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-subquery average + NOT EXISTS — customers
    with above-average positive balance and no orders, counted per
    segment. The global average is a broadcast one-row aggregate; the NOT
    EXISTS is a left-anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(_dec("c_acctbal")), 2).cast("double").alias("totacctbal"),
        )
    )


def q_trailing_30d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame analytic window: per order, the customer's rolling
    30-day spend (RANGE BETWEEN 30 days PRECEDING AND CURRENT ROW over
    epoch seconds) — the time-based frame family, distinct from the ROWS
    frames in q_order_deltas. One shuffle on custkey; frame evaluation is
    a per-partition sliding sum."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "od_s", F.col("o_orderdate").cast("long")
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("od_s")
        .rangeBetween(-30 * 86400, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("od_s").alias("order_date_s"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("spend_30d"),
    )


def q_grouping_sets_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form cube/rollup specialize:
    hand-picked aggregation levels ((priority,status), (status), ())
    computed in ONE pass over orders with a single shuffle (Catalyst
    Expand + hash agg), vs three scans + a union by hand. gid
    disambiguates levels where a grouping column is NULL."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderstatus"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("total_value"),
        )
    )


def q_order_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-ranking windows (ntile / percent_rank / cume_dist)
    per priority class over order value, orderkey as the total-order
    tiebreak so every engine ranks identically. One shuffle on the
    partition key serves all three functions (same window frame)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice"),
        F.ntile(4).over(w).alias("value_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


ANALYTICS_QUERIES = {
    "q_grouping_sets_sales": q_grouping_sets_sales,
    "q_order_rank_distribution": q_order_rank_distribution,
    "tpch_q1_pricing_summary": tpch_q1_pricing_summary,
    "q_price_percentiles": q_price_percentiles,
    "q_approx_percentiles": q_approx_percentiles,
    "tpch_q3_shipping_priority": tpch_q3_shipping_priority,
    "tpch_q4_order_priority": tpch_q4_order_priority,
    "tpch_q5_local_supplier_volume": tpch_q5_local_supplier_volume,
    "tpch_q6_forecast_revenue": tpch_q6_forecast_revenue,
    "tpch_q10_returned_items": tpch_q10_returned_items,
    "tpch_q13_customer_distribution": tpch_q13_customer_distribution,
    "tpch_q15_top_supplier": tpch_q15_top_supplier,
    "tpch_q17_small_quantity_revenue": tpch_q17_small_quantity_revenue,
    "tpch_q18_large_orders": tpch_q18_large_orders,
    "tpch_q22_global_sales_opportunity": tpch_q22_global_sales_opportunity,
    "top_customers": top_customers,
    "q_inactive_customers": q_inactive_customers,
    "q_cube_order_stats": q_cube_order_stats,
    "q_order_deltas": q_order_deltas,
    "q_trailing_30d_spend": q_trailing_30d_spend,
}

ANALYTICS_ORACLES = {
    "q_grouping_sets_sales": """
SELECT o_orderpriority, o_orderstatus,
       grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
-- empty-input contract: see the q_rollup_counts oracle (plans/relational.py)
HAVING count(*) > 0
""",
    "q_order_rank_distribution": """
SELECT o_orderkey, o_orderpriority, o_totalprice,
       ntile(4) OVER w AS value_quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
""",
    "tpch_q1_pricing_summary": """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
""",
    "tpch_q3_shipping_priority": """
SELECT l_orderkey,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_s,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
""",
    "tpch_q5_local_supplier_volume": """
SELECT n_name,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    "top_customers": """
WITH spend AS (
  SELECT o_custkey,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
         count(*) AS n_orders
  FROM orders GROUP BY o_custkey
  ORDER BY total_spent DESC, o_custkey ASC
  LIMIT 10
)
SELECT o_custkey AS c_custkey, c_name, total_spent, n_orders
FROM spend JOIN customer ON o_custkey = c_custkey
""",
    "tpch_q6_forecast_revenue": """
SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_discount >= 0.03 AND l_discount <= 0.07
  AND l_quantity < 24
""",
    "tpch_q4_order_priority": """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
  )
GROUP BY o_orderpriority
""",
    "tpch_q10_returned_items": """
WITH per_cust AS (
  SELECT o_custkey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS d_revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate < TIMESTAMP '1997-04-01'
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_name, CAST(d_revenue AS DOUBLE) AS revenue
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
""",
    "q_inactive_customers": """
SELECT c_mktsegment, count(*) AS n_inactive
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
)
GROUP BY c_mktsegment
""",
    "q_cube_order_stats": """
SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
       grouping(o_orderpriority) * 2 + grouping(o_orderstatus) AS gid,
       count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE(o_orderpriority, o_orderstatus)
-- empty-input contract: see the q_rollup_counts oracle (plans/relational.py)
HAVING count(*) > 0
""",
    "tpch_q13_customer_distribution": """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
    "tpch_q15_top_supplier": """
WITH revenue AS (
  SELECT l_suppkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
""",
    "tpch_q17_small_quantity_revenue": """
WITH pq AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#1'
  GROUP BY l_partkey
)
SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7, 2) AS avg_yearly,
       count(*) AS n_items
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN pq USING (l_partkey)
WHERE p_brand = 'Brand#1' AND l_quantity < 0.2 * avg_qty
""",
    "tpch_q18_large_orders": """
SELECT c_name, c_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_s,
       o_totalprice
FROM orders
JOIN customer ON o_custkey = c_custkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 100
)
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 20
""",
    "tpch_q22_global_sales_opportunity": """
SELECT c_mktsegment,
       count(*) AS numcust,
       CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE) AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
""",
    "q_price_percentiles": """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       count(*) AS n
FROM orders
GROUP BY o_orderpriority
""",
    # bounded oracle for the sketch twin: exact quantiles in SQL, TRUE
    # for the bound flag — hash matches iff every approx_percentile fell
    # inside its exact ±0.01-rank bracket Spark-side
    "q_approx_percentiles": """
SELECT o_orderpriority,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50_exact,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90_exact,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99_exact,
       count(*) AS n,
       TRUE AS sketch_ok
FROM orders
GROUP BY o_orderpriority
""",
    "q_trailing_30d_spend": """
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_date_s,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
                  RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
FROM orders
""",
    "q_order_deltas": """
SELECT o_custkey, o_orderkey,
       CAST(epoch(o_orderdate) AS BIGINT) AS order_date_s,
       o_totalprice,
       round(o_totalprice - lag(o_totalprice, 1, 0.0)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC), 2) AS delta_vs_prev,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS LAST, o_orderkey ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
FROM orders
""",
}
