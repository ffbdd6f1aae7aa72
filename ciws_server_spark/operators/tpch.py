"""Relational analytics core: scans, joins, aggregation, windows,
set ops, pivot — the general query surface the engine must answer
(SURVEY.md §2.3-§2.7 notes these are required for the correctness gate
even though the reference delegates them to its storage backend).

Every query is declared through the DataFrame API so Catalyst owns the
physical plan. Scale notes per query:

* Dimension tables (region/nation, and supplier/part at any realistic
  SF) are broadcast explicitly — no shuffle for the small side.
* Fact-fact joins (orders⋈lineitem) are equi-joins on the natural key;
  AQE picks sort-merge + coalesces post-shuffle partitions; at 100 TB
  the tables would be bucketed by orderkey to make this co-located.
* All hash-compared double aggregates go through exact DECIMAL sums
  (functions.scalar) so results are execution-order independent.

Oracle SQL for each query lives in ORACLES (DuckDB dialect, same
aliases, same decimal-exact arithmetic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import (
    MONEY,
    davg,
    dsum,
    dsum_raw,
    fixed_point,
    money,
    unscale,
)
from ..tables import conf_bytes, table

# Exact-decimal revenue expression used across Q3/Q5/window queries.
# Built lazily (function, not module constant): constructing a Column
# requires an active SparkContext, and this module must import cleanly
# before any session exists (the driver enumerates queries() first).
def _revenue() -> F.Column:
    return money("l_extendedprice") * (F.lit(1).cast(MONEY) - money("l_discount"))


_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(30,6)) * "
    "(CAST(1 AS DECIMAL(30,6)) - CAST(l_discount AS DECIMAL(30,6)))"
)


#: Overflow-safety bound for q1's long fast path. Stage-1 partials sum
#: charge_e6 (≤ ~1.1e11/row) per (group, input partition); int64 wraps
#: past ~8e7 max-value rows in ONE partition. A 128 MB parquet split of
#: this table is ~2e6 rows (×40 headroom); 2 GiB splits still leave
#: ×2.5. Beyond that — someone raised spark.sql.files.maxPartitionBytes
#: for a fat-scan workload — the non-ANSI long sum would wrap SILENTLY,
#: so q1 falls back to the exact DECIMAL form instead of guessing.
_Q1_LONG_SAFE_PARTITION_BYTES = 2 << 30


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: big scan → groupBy(2 low-card keys) → 8 aggs.

    Hot loop runs on LONG fixed-point, not DECIMAL: the money columns
    have fixed ≤2dp scale, so ``fixed_point`` converts each to an exact
    long (cents / e4 / e6) and the per-row aggregation is primitive
    long arithmetic inside whole-stage codegen. Spark's DECIMAL sum
    allocates a Decimal object per row and q1 was the one
    compute-dominated query >2× the DuckDB oracle at sf10 (5.79×,
    round-7 RATIO_SF10.json); this form is bit-identical (pinned by
    tests/test_q1_fixed_point.py) and measured 4.99s → 1.43s at 60M
    rows — at the parquet-scan floor.

    Scale-safety (the reason for the two-stage agg): a single global
    long sum of ``charge_e6`` (≤ ~1.1e11/row) would overflow int64 past
    ~8e7 max-value rows per group. Stage 1 groups by
    (keys, spark_partition_id): each partial covers one input partition
    (a 128 MB parquet split ≈ 2e6 rows — ×40 headroom), and partial
    aggregation means the shuffle carries ≤ |groups|×|partitions| tiny
    rows. Stage 2 sums the partials as DECIMAL(38,0) — exact at any
    scale, cost proportional to partition count, not data.

    disc = ep(2dp)·(1-d)(2dp) is exactly 4dp; charge = disc·(1+tax)(2dp)
    exactly 6dp — so e4/e6 fixed-point is exact, and ``unscale`` emits
    the same nearest-double the DECIMAL reference produces.

    Runtime guard: the per-partition row bound above assumes parquet
    splits sized by spark.sql.files.maxPartitionBytes. If the session
    raised it past ``_Q1_LONG_SAFE_PARTITION_BYTES`` the long partials
    could wrap silently (non-ANSI mode), so this falls back to the
    bit-identical DECIMAL form — correct at any split size, just
    slower. (A cached/coalesced upstream could also fatten partitions,
    but this operator scans parquet directly, so the conf governs.)
    """
    if (
        conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        > _Q1_LONG_SAFE_PARTITION_BYTES
    ):
        return q1_pricing_summary_decimal(spark, sf_dir)
    l = table(spark, sf_dir, "lineitem")
    qty = fixed_point("l_quantity", 0)
    ep_c = fixed_point("l_extendedprice", 2)
    d_c = fixed_point("l_discount", 2)
    dm = F.lit(100) - d_c
    tp = F.lit(100) + fixed_point("l_tax", 2)
    disc_e4 = ep_c * dm
    charge_e6 = disc_e4 * tp
    partial = (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy(
            "l_returnflag", "l_linestatus", F.spark_partition_id().alias("_p")
        )
        .agg(
            F.sum(qty).alias("s_qty"),
            F.sum(ep_c).alias("s_ep"),
            F.sum(disc_e4).alias("s_disc"),
            F.sum(charge_e6).alias("s_charge"),
            F.sum(d_c).alias("s_d"),
            F.count(F.lit(1)).alias("s_n"),
        )
    )

    def dec(c: str) -> F.Column:
        return F.sum(F.col(c).cast("decimal(38,0)"))

    n = F.sum("s_n")

    def emit(sum_col: F.Column, scale: int) -> F.Column:
        return F.round(unscale(sum_col, scale), 2)

    def avg(sum_col: F.Column, scale: int) -> F.Column:
        return F.round(unscale(sum_col, scale) / n.cast("double"), 6)

    return (
        partial.groupBy("l_returnflag", "l_linestatus")
        .agg(
            emit(dec("s_qty"), 0).alias("sum_qty"),
            emit(dec("s_ep"), 2).alias("sum_base_price"),
            emit(dec("s_disc"), 4).alias("sum_disc_price"),
            emit(dec("s_charge"), 6).alias("sum_charge"),
            avg(dec("s_qty"), 0).alias("avg_qty"),
            avg(dec("s_ep"), 2).alias("avg_price"),
            avg(dec("s_d"), 2).alias("avg_disc"),
            n.alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q1_pricing_summary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference DECIMAL form of q1 — the exactness spec the fast
    fixed-point form above is pinned against (tests/test_q1_fixed_point
    asserts bit-identity at sf0.01 and sf0.1). Not registered; kept as
    the readable semantic definition and the fallback for data whose
    money columns exceed the fixed-scale contract."""
    l = table(spark, sf_dir, "lineitem")
    disc = _revenue()
    charge = disc * (F.lit(1).cast(MONEY) + money("l_tax"))
    return (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(disc).cast("double"), 2).alias("sum_disc_price"),
            F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, agg, deterministic top-10.

    Revenue sums in long FIXED-POINT (q1's playbook, adopted r14 after
    a bit-identical interleaved sf10 A/B: 2.19s vs 2.60s median for
    the DECIMAL(30,6) form, tmp/Q3Q5_AB_R14.json). Unlike q1, the
    long path is scale-safe at ANY sf with no partition-size guard:
    sums are per ORDER (a handful of lineitems, rev_e4 ≤ ~1e9 each),
    so no partial can approach 2^53, and the final ``unscale`` shift
    is exact decimal. A per-order PRE-aggregation before the orders
    join was also A/B'd: 36% faster at sf1 but SLOWER at sf10 (2.77s
    vs 2.60s — the added l_orderkey shuffle outgrows the post-join
    groupBy it removes); pinned negative in the same artifact."""
    cust = table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    rev_e4 = fixed_point("l_extendedprice", 2) * (
        F.lit(100) - fixed_point("l_discount", 2)
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(unscale(F.sum(rev_e4), 4), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: snowflake join with broadcast dims.

    Join order is selective-first: the supplier⋈nation⋈region chain
    (pre-joined driver-side into one small broadcast — suppliers in the
    target region are ~1/|regions| of the table) probes lineitem BEFORE
    the orders shuffle join, so the only fact-fact exchange carries the
    region-local ~20% of lineitem instead of all of it. At 100 TB that
    is the difference between shuffling 20 TB and 100 TB; locally it is
    a ~15% warm win (interleaved sf10 A/B: 3.4-4.3s vs 4.2-4.7s — the
    residual is the lineitem scan + orders exchange, per the §17
    scan-floor note in BENCH_NOTES). Customer prunes to two int
    columns; AQE converts its join to broadcast from runtime shuffle
    stats, which stays correct when customer outgrows any threshold.

    r14 A/B (tmp/Q3Q5_AB_R14.json): the q1/q3-style long fixed-point
    revenue swap was bit-identical but a WASH here (2.19s vs 2.21s
    median at sf10) — q5's cost is the lineitem scan plus the orders
    exchange, not the decimal multiply, so the DECIMAL form stays
    (pinned negative, same artifact).
    """
    region = table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = table(spark, sf_dir, "nation")
    supp_asia = F.broadcast(
        table(spark, sf_dir, "supplier")
        .join(nation, F.col("s_nationkey") == nation.n_nationkey)
        .join(region, nation.n_regionkey == F.col("r_regionkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(supp_asia, li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            cust,
            (orders.o_custkey == cust.c_custkey)
            & (cust.c_nationkey == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.round(F.sum(_revenue()).cast("double"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window (deterministic tiebreak)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round(F.col("o_totalprice").cast("double"), 2).alias("totalprice"),
            "rk",
        )
        .orderBy("c_mktsegment", "rk")
    )


def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (grand total + per-flag + per-flag/status).

    Two-stage like cube_order_stats: a raw ``rollup()`` feeds every
    lineitem row through a 3-way Expand (180M expanded rows at sf10
    through a per-row DECIMAL sum — measured 4.13s). Stage 1 is a
    fine-grained groupBy (flag, status, partition id) LONG partial
    sum; stage 2 rollups the ≤ |flags|×|statuses|×|partitions| tiny
    partials with an exact DECIMAL(38,0) re-sum. Bit-identity vs the
    single-stage DECIMAL form pinned in tests/test_q1_fixed_point.py.
    l_quantity is scale-0 (≤50/row): a 2 GiB split holds ~4e7 rows →
    partials ≤ 2e9, ×4e9 int64 headroom; guard kept for symmetry.
    """
    if (
        conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        > _Q1_LONG_SAFE_PARTITION_BYTES
    ):
        return rollup_pricing_decimal(spark, sf_dir)
    l = table(spark, sf_dir, "lineitem")
    partial = (
        l.groupBy(
            "l_returnflag", "l_linestatus",
            F.spark_partition_id().alias("_p"),
        )
        .agg(
            F.sum(fixed_point("l_quantity", 0)).alias("s_qty"),
            F.count(F.lit(1)).alias("s_n"),
        )
    )
    return (
        partial.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(
                unscale(F.sum(F.col("s_qty").cast("decimal(38,0)")), 0), 2
            ).alias("sum_qty"),
            F.sum("s_n").alias("n"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def rollup_pricing_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference DECIMAL form of rollup_pricing — exactness spec and
    oversized-split fallback. Not registered."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.rollup("l_returnflag", "l_linestatus")
        .agg(dsum("l_quantity").alias("sum_qty"), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


def distinct_agg_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) per group + plain count."""
    cust = table(spark, sf_dir, "customer")
    return (
        cust.groupBy("c_mktsegment")
        .agg(
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("sum_bal"),
        )
        .orderBy("c_mktsegment")
    )


def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers having ≥1 order, per nation."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_nationkey")
    )


def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no orders."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
    )


def join_anti_customers_no_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join against a date-restricted order subset.

    ``join_anti_customers_without_orders`` is vacuous on the fixture
    (every customer has >=1 order, so Spark and the oracle agree on the
    empty set and the anti-join's row-production path is never value
    verified). This variant restricts the right side to orders placed
    on/after 1998-01-01, so a known customer cohort (8 at sf0.01)
    survives the anti-join and the driver hash-verifies real rows.
    Scale note: the filter lands on the orders scan (pushed down), and
    the anti-join itself stays a hash shuffle on the customer key —
    the same plan shape as the unrestricted form.
    """
    cust = table(spark, sf_dir, "customer")
    recent = table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .select("c_custkey", "c_nationkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


def join_outer_supplier_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join where the right side is sparse (10 suppliers)."""
    nation = table(spark, sf_dir, "nation")
    supplier = table(spark, sf_dir, "supplier")
    return (
        nation.join(supplier, nation.n_nationkey == supplier.s_nationkey, "left")
        .groupBy("n_nationkey", "n_name")
        .agg(
            F.count("s_suppkey").alias("n_suppliers"),
            dsum(F.coalesce(money("s_acctbal"), F.lit(0).cast(MONEY))).alias(
                "sum_bal"
            ),
        )
        .orderBy("n_nationkey")
    )


def setop_nations_without_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) set operation."""
    cust_nk = (
        table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    )
    supp_nk = (
        table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    )
    return cust_nk.exceptAll(supp_nk).distinct().orderBy("nationkey")


def setop_nations_with_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set operation."""
    cust_nk = (
        table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    )
    supp_nk = (
        table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    )
    return cust_nk.intersect(supp_nk).orderBy("nationkey")


def window_running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per supplier with a full ordering.

    The accumulator is LONG fixed-point (revenue at e4 — exact, since
    ep(2dp)·(1-d)(2dp) is exactly 4dp), the same trick as q1: the
    DECIMAL running sum paid a per-row Decimal allocation in the
    window frame's incremental add, measured 7.96s → 4.21s at 60M
    rows with a bit-identical full-column hash
    (tests/test_q1_fixed_point.py pins the same identity at sf0.01).

    Rounding to cents happens in the integer domain —
    floor((s+50)/100) is DECIMAL ROUND-half-up of an exact 4dp
    non-negative value — and the final cents/100.0 double division is
    the nearest double of the exact rational while cents < 2^53
    (running revenue < $9·10^13 per supplier; per-supplier volume is
    bounded by construction — TPC-H-shaped data holds ~600 rows per
    supplier at ANY total scale, so this never tightens at 100 TB).
    Prefix sums are order-deterministic because integer addition is
    associative-exact — stronger than the DECIMAL argument, same
    result.
    """
    l = table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this data — full
    # ties in the ROWS frame make the first prefix of a tie group
    # engine/run-dependent. Price+discount complete a total order
    # (verified: zero residual tied groups at sf0.1).
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rev_e4 = fixed_point("l_extendedprice", 2) * (
        F.lit(100) - fixed_point("l_discount", 2)
    )
    run_e4 = F.sum(rev_e4).over(w)
    cents = F.floor((run_e4 + F.lit(50)).cast("double") / F.lit(100.0))
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        (cents / F.lit(100.0)).alias("running_revenue"),
    )


def window_running_revenue_decimal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reference DECIMAL form — the exactness spec the fixed-point
    window above is pinned against (tests/test_q1_fixed_point.py)."""
    l = table(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_discount",
        )
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return l.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        # Round in the exact DECIMAL domain, then cast: double-domain
        # ROUND differs between engines at half-even boundaries.
        F.round(F.sum(_revenue()).over(w), 2).cast("double").alias("running_revenue"),
    )


def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/lag over per-nation account balances."""
    cust = table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_nationkey",
        "c_custkey",
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.lag("c_acctbal", 1).over(w).cast("double"), 2).alias("prev_bal"),
    ).where(F.col("rnk") <= 5)


def pivot_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order counts per status × priority."""
    orders = table(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
    )
    renames = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_unspecified",
        "5-LOW": "n_low",
    }
    for old, new in renames.items():
        piv = piv.withColumnRenamed(old, new)
    cols = ["o_orderstatus"] + [
        F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
        for c in renames.values()
    ]
    return piv.select("o_orderstatus", *cols[1:]).orderBy("o_orderstatus")


def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (median / p90)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.min("o_totalprice").cast("double"), 2).alias("lo"),
            F.round(F.max("o_totalprice").cast("double"), 2).alias("hi"),
        )
        .orderBy("o_orderpriority")
    )


def conditional_agg_order_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN conditional aggregation + HAVING."""
    orders = table(spark, sf_dir, "orders")
    is_urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    grouped = (
        orders.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(is_urgent, 1).otherwise(0)).cast("long").alias("n_urgent"),
            F.round(
                F.sum(F.when(is_urgent, money("o_totalprice")).otherwise(None)).cast(
                    "double"
                ),
                2,
            ).alias("urgent_value"),
        )
        .where(F.col("n_orders") > 10)
        .orderBy("order_year")
    )
    return grouped


def scalar_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §2.8 scalar surface in one projection over part.

    regexp_extract / upper / lower / substring / concat_ws / translate /
    length / split — all codegen'd built-ins.
    """
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).cast("long").alias("brand_num"),
        F.upper(F.col("p_name")).alias("name_upper"),
        F.lower(F.col("p_type")).alias("type_lower"),
        F.substring(F.col("p_name"), 1, 5).alias("name_prefix"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.translate(F.col("p_type"), " ", "_").alias("type_snake"),
        F.length(F.col("p_name")).cast("long").alias("name_len"),
        F.array_size(F.split(F.col("p_type"), " ")).cast("long").alias("type_words"),
        F.col("p_name").startswith("a").alias("starts_a"),
        F.col("p_type").endswith("d").alias("ends_d"),
    )


def date_functions_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time surface: year/month/trunc/epoch arithmetic.

    Money sum runs on the q1-style two-stage long partials: a month of
    orders at 100 TB approaches the single-long-sum overflow bound for
    o_totalprice cents (~1.5e11 max-value rows), so stage 1 sums cents
    per (month, input partition) — codegen'd, ×40 headroom per 128 MB
    split, same oversized-split guard → DECIMAL fallback — and stage 2
    re-sums exactly as DECIMAL(38,0). COUNT and MAX decompose
    trivially. Emitted doubles are dsum-identical (exact decimal
    downshift; pinned by tests/test_q1_fixed_point.py)."""
    if (
        conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        > _Q1_LONG_SAFE_PARTITION_BYTES
    ):
        return date_functions_orders_decimal(spark, sf_dir)
    orders = table(spark, sf_dir, "orders")
    partial = orders.groupBy(
        F.year("o_orderdate").cast("long").alias("y"),
        F.month("o_orderdate").cast("long").alias("m"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.spark_partition_id().alias("_p"),
    ).agg(
        F.count(F.lit(1)).alias("s_n"),
        F.sum(fixed_point("o_totalprice", 2)).alias("s_total"),
        F.max(
            F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
        ).alias("s_maxep"),
    )
    return (
        partial.groupBy("y", "m", "month_start")
        .agg(
            F.sum("s_n").alias("n"),
            F.round(
                unscale(F.sum(F.col("s_total").cast("decimal(38,0)")), 2), 2
            ).alias("total"),
            F.max("s_maxep").alias("max_epoch"),
        )
        .orderBy("y", "m")
    )


def date_functions_orders_decimal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-stage DECIMAL reference form of date_functions_orders —
    exactness spec + oversized-split fallback."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").cast("long").alias("y"),
            F.month("o_orderdate").cast("long").alias("m"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
            F.max(
                F.unix_timestamp(
                    F.col("o_orderdate").cast("timestamp")
                )
            ).alias("max_epoch"),
        )
        .orderBy("y", "m")
    )


def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over status × priority (all 4 grouping sets).

    Two-stage: the CUBE runs over pre-grouped partials, not raw rows.
    A raw ``cube()`` feeds every input row through a 4-way Expand, so
    at sf10 the DECIMAL sum sees 60M expanded rows (measured 2.33s,
    18× the DuckDB oracle — the same per-row Decimal trap as q1).
    Stage 1 is a plain fine-grained groupBy (status, priority,
    partition id) summing LONG cents inside whole-stage codegen — the
    shuffle carries ≤ |status|×|priority|×|partitions| tiny rows
    (~480 at sf10). Stage 2 cubes THOSE: the Expand multiplies
    hundreds of rows, and the exact DECIMAL(38,0) re-sum costs
    proportional to partition count, not data.

    Equivalence: SUM and COUNT decompose over any partition of the
    input, and a data-NULL group key groups identically in stage 1 and
    in a raw CUBE (both engines merge data-nulls with subtotal rows
    the same way — no GROUPING() disambiguation in this query's
    contract). Bit-identity vs the single-stage DECIMAL form is pinned
    by tests/test_bench_contract.py.

    Overflow guard (same bound as q1): cents/row ≤ ~6e7; a 2 GiB
    orders split is ~2e7 rows → partials ≤ ~1.2e15, ×7600 headroom.
    Past the guarded split size, fall back to the DECIMAL form.
    """
    if (
        conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        > _Q1_LONG_SAFE_PARTITION_BYTES
    ):
        return cube_order_stats_decimal(spark, sf_dir)
    orders = table(spark, sf_dir, "orders")
    partial = (
        orders.groupBy(
            "o_orderstatus", "o_orderpriority",
            F.spark_partition_id().alias("_p"),
        )
        .agg(
            F.count(F.lit(1)).alias("s_n"),
            F.sum(fixed_point("o_totalprice", 2)).alias("s_total"),
        )
    )
    return (
        partial.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.sum("s_n").alias("n"),
            F.round(
                unscale(F.sum(F.col("s_total").cast("decimal(38,0)")), 2), 2
            ).alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def cube_order_stats_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference DECIMAL form of cube_order_stats — the exactness spec
    the two-stage form is pinned against, and its fallback for
    oversized splits. Not registered."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("o_totalprice").alias("total"),
        )
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


def subquery_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-aggregate shape: customers above their nation's mean
    balance. Decorrelated by hand into an aggregate + broadcast join —
    the plan Catalyst's own decorrelation produces, stated explicitly.
    """
    cust = table(spark, sf_dir, "customer")
    # exact decimal sum → double division: engines' decimal-division
    # scale/rounding rules differ, double arithmetic is identical
    nation_avg = cust.groupBy("c_nationkey").agg(
        (
            F.sum(money("c_acctbal")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(nation_avg), "c_nationkey")
        .where(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_above"),
            F.round(F.max("c_acctbal").cast("double"), 2).alias("max_bal"),
        )
        .orderBy("c_nationkey")
    )


def subquery_exists_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape via Catalyst's OWN decorrelation: the correlated
    EXISTS predicate is handed to spark.sql as written and
    RewritePredicateSubquery turns it into a left-semi join (verified
    in the plan audit) — the complement of the hand-decorrelated
    ``subquery_above_avg_balance`` and the DataFrame-API semi join.
    Semantics adapted to the synthetic schema (no commit/receipt
    dates): orders with at least one line item shipped more than 60
    days after the order date, counted per priority.
    """
    orders = f"{sf_dir}/orders.parquet"
    lineitem = f"{sf_dir}/lineitem.parquet"
    return spark.sql(
        f"""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM parquet.`{orders}` o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND EXISTS (
              SELECT 1 FROM parquet.`{lineitem}` l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS
          )
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """
    )


def subquery_scalar_brand_premium(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery (TPC-H Q17 shape) through spark.sql:
    parts priced over 1.03× their brand's mean (the synthetic prices are uniform in [900, 1000], so a few-percent premium is the selective band) retail price. Catalyst
    decorrelates the per-brand aggregate into a join against a grouped
    aggregate. Mean = exact decimal sum cast to double over count, so
    both engines compute bit-identical values regardless of row order.
    """
    part = f"{sf_dir}/part.parquet"
    return spark.sql(
        f"""
        SELECT p_brand, COUNT(*) AS n_premium,
               ROUND(MIN(CAST(p_retailprice AS DOUBLE)), 2) AS min_premium_price
        FROM parquet.`{part}` p
        WHERE CAST(p_retailprice AS DOUBLE) > (
            SELECT 1.03 * CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(30,6)))
                              AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE)
            FROM parquet.`{part}` p2
            WHERE p2.p_brand = p.p_brand
        )
        GROUP BY p_brand
        ORDER BY p_brand
        """
    )


def union_all_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + dedup-count across two key populations."""
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), F.lit("customer").alias("side")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey"), F.lit("supplier").alias("side")
    )
    return (
        cust.unionByName(supp)
        .groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("side").alias("n_sides"),
        )
        .orderBy("nationkey")
    )


def salted_high_cardinality_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase SALTED aggregation — the hot-key pattern at 100 TB.

    `l_returnflag` has ~3 values: a plain groupBy sends every row for a
    flag to ONE reducer. Phase 1 aggregates (flag, salt) — fan-out
    bounded by salt count, map-side combine still applies; phase 2
    merges the per-salt partials. Result identical to a direct groupBy
    (the oracle computes the direct form), plan has no single hot
    reducer. AQE skew handling covers joins; explicit salting is the
    aggregation-side equivalent, shown here as a first-class pattern.
    """
    l = table(spark, sf_dir, "lineitem")
    n_salts = 16
    salted = l.withColumn(
        "salt", (F.xxhash64("l_orderkey", "l_linenumber") % n_salts).cast("int")
    )
    partial = salted.groupBy("l_returnflag", "salt").agg(
        F.sum(money("l_quantity")).alias("part_qty"),
        F.count(F.lit(1)).alias("part_n"),
    )
    return (
        partial.groupBy("l_returnflag")
        .agg(
            F.round(F.sum("part_qty").cast("double"), 2).alias("sum_qty"),
            F.sum("part_n").alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 16,
    how: str = "inner",
    salt_cols: list[str] | None = None,
) -> DataFrame:
    """SALTED fact⋈dim equi-join — the join-side hot-key pattern.

    When one join key carries a disproportionate share of fact rows, a
    plain shuffle join sends that key's entire fact side to ONE task.
    Salting splits it: each fact row gets a salt, the dim side is
    replicated ``n_salts`` times, and the join runs on (key, salt) —
    the hot key's rows now spread over ``n_salts`` tasks. Dim
    replication cost is |dim| × n_salts, the right trade whenever
    |dim| ≪ |fact| (the same regime where the broadcast join stops
    fitting memory but skew still bites). AQE's skew-join split covers
    many cases at runtime; explicit salting is the static form for
    when the optimizer can't see the skew (e.g. a first-shuffle
    straight off a scan).

    Salt source: pass ``salt_cols`` naming uniqueness-bearing columns
    for a fully deterministic content hash (stable under replay). By
    default the salt is ``xxhash64(key, monotonically_increasing_id())``
    — position-seeded, so even a hot key of *byte-identical* rows
    (null keys, default values — the common real-world skew) spreads
    across salts; a pure content hash would send all duplicates to ONE
    salt and leave the hot partition intact. The id is stable per
    (partition, row-position) of a deterministic scan, so task retries
    re-derive the same salt.

    Row-identical to the plain join for ``how`` ∈ {'inner', 'left',
    'left_semi'} only (asserted in tests/test_scale_evidence.py):
    right/full/anti would see the replicated dim's unmatched copies.
    """
    allowed = ("inner", "left", "left_semi")
    if how not in allowed:
        raise ValueError(
            f"salted_join supports how in {allowed} (got {how!r}): "
            "right/full/anti joins would duplicate or wrongly suppress "
            "unmatched rows of the n_salts-replicated dim side"
        )
    if salt_cols:
        salt_src = F.xxhash64(*salt_cols)
    else:
        salt_src = F.xxhash64(F.col(key), F.monotonically_increasing_id())
    salted_fact = fact.withColumn(
        "_salt", F.pmod(salt_src, F.lit(n_salts)).cast("int")
    )
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    return (
        salted_fact.join(salted_dim, [key, "_salt"], how).drop("_salt")
    )


def crypto_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 crypto surface: md5 + sha256 (reference auth plane uses
    sha256 over joined strings, auth.py:71-75; exposed in-engine)."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.md5("p_name").alias("name_md5"),
        F.sha2(F.col("p_name"), 256).alias("name_sha256"),
        F.sha2(F.concat_ws(":", "p_brand", "p_type"), 256).alias("keyed_sha256"),
    )


def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS through the spark.sql() entry path (text SQL over
    a parquet-backed view — the engine's second query front door).

    Same two-stage shape as ``cube_order_stats``/``rollup_pricing``,
    expressed entirely in SQL to keep this query's front-door role:
    the inner SELECT pre-groups by (keys, spark_partition_id) summing
    LONG cents inside whole-stage codegen (the CASE-±0.5-then-CAST is
    the SQL spelling of ``fixed_point``; ROUND-on-double and DECIMAL
    sums both allocate a BigDecimal per row), and the GROUPING SETS
    Expand multiplies only those few hundred partial rows. The outer
    DECIMAL(38,0)·0.01 downshift is exact decimal arithmetic — the
    same nearest-double the single-stage DECIMAL form emits
    (bit-identity pinned by tests/test_bench_contract.py). Measured
    1.14s → ~0.6s at sf1, orders-scan-floor bound.
    """
    if (
        conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 << 20)
        > _Q1_LONG_SAFE_PARTITION_BYTES
    ):
        return grouping_sets_orders_decimal(spark, sf_dir)
    path = f"{sf_dir}/orders.parquet"
    return spark.sql(
        f"""
        WITH partials AS (
          SELECT o_orderstatus, o_orderpriority,
                 spark_partition_id() AS _p,
                 COUNT(*) AS s_n,
                 SUM(CAST(o_totalprice * 100.0E0 +
                          (CASE WHEN o_totalprice * 100.0E0 < 0
                                THEN -0.5E0 ELSE 0.5E0 END) AS BIGINT))
                   AS s_total
          FROM parquet.`{path}`
          GROUP BY o_orderstatus, o_orderpriority, _p
        )
        SELECT o_orderstatus, o_orderpriority,
               SUM(s_n) AS n,
               ROUND(CAST(SUM(CAST(s_total AS DECIMAL(38,0))) *
                          CAST(0.01 AS DECIMAL(3,2)) AS DOUBLE), 2)
                 AS total
        FROM partials
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


def grouping_sets_orders_decimal(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Single-stage DECIMAL reference form of grouping_sets_orders —
    the exactness spec for the two-stage SQL above and its fallback
    past the oversized-split guard."""
    path = f"{sf_dir}/orders.parquet"
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2)
                 AS total
        FROM parquet.`{path}`
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        """
    )


QUERIES = {
    "q1_pricing_summary": q1_pricing_summary,
    "crypto_hashes": crypto_hashes,
    "grouping_sets_orders": grouping_sets_orders,
    "q3_shipping_priority": q3_shipping_priority,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "topk_orders_per_segment": topk_orders_per_segment,
    "rollup_pricing": rollup_pricing,
    "distinct_agg_customers": distinct_agg_customers,
    "join_semi_customers_with_orders": join_semi_customers_with_orders,
    "join_anti_customers_without_orders": join_anti_customers_without_orders,
    "join_anti_customers_no_recent_orders": join_anti_customers_no_recent_orders,
    "join_outer_supplier_coverage": join_outer_supplier_coverage,
    "setop_nations_without_suppliers": setop_nations_without_suppliers,
    "setop_nations_with_both": setop_nations_with_both,
    "window_running_revenue": window_running_revenue,
    "window_rank_customers": window_rank_customers,
    "pivot_order_priority": pivot_order_priority,
    "percentile_prices": percentile_prices,
    "conditional_agg_order_mix": conditional_agg_order_mix,
    "scalar_string_functions": scalar_string_functions,
    "date_functions_orders": date_functions_orders,
    "cube_order_stats": cube_order_stats,
    "subquery_above_avg_balance": subquery_above_avg_balance,
    "subquery_exists_late_ship": subquery_exists_late_ship,
    "subquery_scalar_brand_premium": subquery_scalar_brand_premium,
    "union_all_keys": union_all_keys,
    "salted_high_cardinality_agg": salted_high_cardinality_agg,
}

#: Locally oracle-checked, not driver-registered: the driver verifies
#: at most 50 queries. Round-7 rotation: every remaining
#: never-driver-verified query rotates IN (window_rank,
#: conditional_agg, union_all, salted_agg, plus the new non-vacuous
#: anti-join) and the longest-stable queries (driver-green 5 rounds:
#: q1/q3/q5, grouping sets, topk, the vacuous anti-join) yield their
#: slots. Everything here stays oracle-checked locally by
#: tests/test_extra_oracle.py with the identical
#: row/schema/value-hash comparison.
EXTRA = {
    # r14 rotation (diff-driven + stalest-50, VERDICT r13 ask #4):
    # the registered set forces every query whose code path changed
    # in r13/r14 (q22's rewritten anti-join plan, the q1/q18 A/B
    # targets, this round's q3/q5 A/B targets) and fills the rest
    # with the stalest driver-grade records (mostly the r10 tier and
    # the r2-era similarity rows). Overlap with the r13 set: 2
    # queries (q3/q5, forced). Everything rotated out stays
    # oracle-checked every run by tests/test_extra_oracle.py and
    # tools/check_correctness.py.
    "conditional_agg_order_mix",
    "distinct_agg_customers",
    "grouping_sets_orders",
    "join_anti_customers_no_recent_orders",
    "join_anti_customers_without_orders",
    "join_outer_supplier_coverage",
    "join_semi_customers_with_orders",
    "percentile_prices",
    "pivot_order_priority",
    "rollup_pricing",
    "salted_high_cardinality_agg",
    "scalar_string_functions",
    "setop_nations_with_both",
    "setop_nations_without_suppliers",
    "subquery_above_avg_balance",
    "subquery_exists_late_ship",
    "subquery_scalar_brand_premium",
    "topk_orders_per_segment",
    "union_all_keys",
    "window_rank_customers",
}

_DEC1 = "CAST(1 AS DECIMAL(30,6))"

ORACLES = {
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_base_price,
               ROUND(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 2) AS sum_disc_price,
               ROUND(CAST(SUM({_REVENUE_SQL} * ({_DEC1} + CAST(l_tax AS DECIMAL(30,6)))) AS DOUBLE), 2) AS sum_charge,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE), 6) AS avg_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE), 6) AS avg_price,
               ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / CAST(COUNT(l_discount) AS DOUBLE), 6) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               ROUND(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate  > TIMESTAMP '1998-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name,
               ROUND(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "topk_orders_per_segment": """
        SELECT c_mktsegment, o_orderkey,
               ROUND(CAST(o_totalprice AS DOUBLE), 2) AS totalprice, rk
        FROM (
          SELECT c_mktsegment, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
          FROM orders JOIN customer ON o_custkey = c_custkey
        )
        WHERE rk <= 3
        ORDER BY c_mktsegment, rk
    """,
    "rollup_pricing": """
        SELECT l_returnflag, l_linestatus,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
    "distinct_agg_customers": """
        SELECT c_mktsegment,
               CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
               COUNT(*) AS n_customers,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_bal
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    "join_semi_customers_with_orders": """
        SELECT c_nationkey, COUNT(*) AS n_customers
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_nationkey
        ORDER BY c_nationkey
    """,
    "join_anti_customers_without_orders": """
        SELECT c_custkey, c_nationkey, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
    """,
    "join_anti_customers_no_recent_orders": """
        SELECT c_custkey, c_nationkey, c_mktsegment
        FROM customer
        WHERE NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '1998-01-01'
        )
        ORDER BY c_custkey
    """,
    "join_outer_supplier_coverage": """
        SELECT n_nationkey, n_name,
               CAST(COUNT(s_suppkey) AS BIGINT) AS n_suppliers,
               ROUND(CAST(SUM(COALESCE(CAST(s_acctbal AS DECIMAL(30,6)),
                                       CAST(0 AS DECIMAL(30,6)))) AS DOUBLE), 2) AS sum_bal
        FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
        GROUP BY n_nationkey, n_name
        ORDER BY n_nationkey
    """,
    "setop_nations_without_suppliers": """
        SELECT DISTINCT nationkey FROM (
          SELECT c_nationkey AS nationkey FROM customer
          EXCEPT ALL
          SELECT s_nationkey AS nationkey FROM supplier
        )
        ORDER BY nationkey
    """,
    "setop_nations_with_both": """
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey AS nationkey FROM supplier
        ORDER BY nationkey
    """,
    "window_running_revenue": f"""
        SELECT l_suppkey, l_orderkey, l_linenumber,
               CAST(ROUND(SUM({_REVENUE_SQL}) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber,
                            l_extendedprice, l_discount
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 2) AS DOUBLE) AS running_revenue
        FROM lineitem
    """,
    "window_rank_customers": """
        SELECT * FROM (
          SELECT c_nationkey, c_custkey,
                 ROUND(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
                 RANK() OVER w AS rnk,
                 DENSE_RANK() OVER w AS drnk,
                 ROUND(CAST(LAG(c_acctbal, 1) OVER w AS DOUBLE), 2) AS prev_bal
          FROM customer
          WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey ASC)
        )
        WHERE rnk <= 5
    """,
    "pivot_order_priority": """
        SELECT o_orderstatus,
               CAST(COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
               CAST(COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS n_high,
               CAST(COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS n_medium,
               CAST(COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS n_unspecified,
               CAST(COUNT(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS n_low
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    "percentile_prices": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
               ROUND(CAST(MIN(o_totalprice) AS DOUBLE), 2) AS lo,
               ROUND(CAST(MAX(o_totalprice) AS DOUBLE), 2) AS hi
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "conditional_agg_order_mix": """
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS order_year,
               COUNT(*) AS n_orders,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
               ROUND(CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                             THEN CAST(o_totalprice AS DECIMAL(30,6)) END) AS DOUBLE), 2) AS urgent_value
        FROM orders
        GROUP BY 1
        HAVING COUNT(*) > 10
        ORDER BY order_year
    """,
    "scalar_string_functions": r"""
        SELECT p_partkey,
               CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS BIGINT) AS brand_num,
               UPPER(p_name) AS name_upper,
               LOWER(p_type) AS type_lower,
               SUBSTRING(p_name, 1, 5) AS name_prefix,
               p_brand || '|' || p_type AS brand_type,
               translate(p_type, ' ', '_') AS type_snake,
               CAST(LENGTH(p_name) AS BIGINT) AS name_len,
               CAST(LEN(string_split(p_type, ' ')) AS BIGINT) AS type_words,
               (p_name LIKE 'a%') AS starts_a,
               (p_type LIKE '%d') AS ends_d
        FROM part
        ORDER BY p_partkey
    """,
    "date_functions_orders": """
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS y,
               CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS m,
               date_trunc('month', o_orderdate) AS month_start,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS total,
               CAST(FLOOR(epoch(MAX(o_orderdate))) AS BIGINT) AS max_epoch
        FROM orders
        GROUP BY 1, 2, 3
        ORDER BY y, m
    """,
}

ORACLES["crypto_hashes"] = """
    SELECT p_partkey,
           md5(p_name) AS name_md5,
           sha256(p_name) AS name_sha256,
           sha256(p_brand || ':' || p_type) AS keyed_sha256
    FROM part
    ORDER BY p_partkey
"""

ORACLES["grouping_sets_orders"] = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2)
             AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""

ORACLES["cube_order_stats"] = """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE), 2) AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
"""

ORACLES["subquery_above_avg_balance"] = """
    SELECT c_nationkey,
           COUNT(*) AS n_above,
           ROUND(CAST(MAX(c_acctbal) AS DOUBLE), 2) AS max_bal
    FROM customer c
    WHERE CAST(c_acctbal AS DOUBLE) >
          (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE)
           FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""

ORACLES["subquery_exists_late_ship"] = """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""

ORACLES["subquery_scalar_brand_premium"] = """
    SELECT p_brand, COUNT(*) AS n_premium,
           ROUND(MIN(CAST(p_retailprice AS DOUBLE)), 2) AS min_premium_price
    FROM part p
    WHERE CAST(p_retailprice AS DOUBLE) > (
        SELECT 1.03 * CAST(SUM(CAST(p2.p_retailprice AS DECIMAL(30,6)))
                           AS DOUBLE)
                    / CAST(COUNT(*) AS DOUBLE)
        FROM part p2
        WHERE p2.p_brand = p.p_brand
    )
    GROUP BY p_brand
    ORDER BY p_brand
"""

ORACLES["union_all_keys"] = """
    SELECT nationkey, COUNT(*) AS n_total,
           CAST(COUNT(DISTINCT side) AS BIGINT) AS n_sides
    FROM (
      SELECT c_nationkey AS nationkey, 'customer' AS side FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey, 'supplier' AS side FROM supplier
    )
    GROUP BY nationkey
    ORDER BY nationkey
"""

ORACLES["salted_high_cardinality_agg"] = """
    SELECT l_returnflag,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE), 2) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
"""

#: Queries timed by bench.py.
HEADLINE = {
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_orders_per_segment",
    "window_running_revenue",
    # round 3: the previously-unbenched registered tpch surface
    "crypto_hashes",
    "grouping_sets_orders",
    "cube_order_stats",
    "percentile_prices",
    "pivot_order_priority",
    "date_functions_orders",
}
