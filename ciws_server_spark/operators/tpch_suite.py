"""Adapted TPC-H suite: the classic decision-support queries the base
``tpch`` module does not already cover, re-expressed on the trimmed
synthetic schema (TESTDATA.md: no partsupp table; lineitem lacks
commit/receipt dates and ship modes; customer lacks phone/address).

Why this exists: SURVEY.md §2.3-§2.7 requires the general relational
surface (multi-way joins, correlated/decorrelated subqueries,
disjunctive predicates, scalar aggregates, distribution queries); the
base module exercises each shape once, and this suite proves the same
engine answers the full published workload those shapes come from.
Queries needing partsupp (Q2/Q9/Q11/Q16/Q20) are out of reach of this
schema; Q4/Q12's commit-vs-receipt predicates are already covered in
adapted form by ``subquery_exists_late_ship``. Every query here keeps
the reference query's plan shape (the join graph, the subquery
structure, the aggregation) and only adapts predicates to columns that
exist (e.g. Q22's phone-prefix country code → ``c_nationkey``, Q13's
comment filter → an ``o_orderpriority`` filter).

Scale notes (the suite is plan-shape-representative of 100 TB runs):

* Dimension sides (part/supplier/nation/region, per-part averages,
  1-row scalar aggregates) are broadcast explicitly — the only
  shuffles left are the fact-table aggregations themselves.
* Correlated scalar subqueries (Q17's per-part average, Q21's
  latest-ship-per-order) are decorrelated into window functions over
  the fact partition key — one shuffle, no per-row re-scan, which is
  exactly how Catalyst rewrites the EXISTS forms the oracle SQL uses.
* All hash-compared aggregates follow the module-wide exactness
  discipline: exact DECIMAL sums emitted as rounded doubles
  (functions.scalar), ratios computed double/double in the identical
  expression shape on both engines; raw passthrough doubles are never
  re-rounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.scalar import (
    MONEY,
    dsum,
    dsum_raw,
    fixed_point,
    money,
    unscale,
)
from ..tables import input_bytes, table
from .tpch import _REVENUE_SQL, _revenue

#: q8's size gate for broadcasting the pruned (date+ASIA-semi,
#: 2-column) orders side into the lineitem join: fires only when the
#: WHOLE orders table is under 2 GB on disk, which bounds the built
#: hash relation to tens of MB (2 of 9 columns × ~6% date+region
#: selectivity) — orders of magnitude under the 8 GB broadcast cap.
#: At the 100 TB design point orders is far past this, and the plan
#: falls back to the stats-estimated join exactly as before r15.
_Q8_BCAST_ORDERS_MAX_BYTES = 2 << 30


def _revenue_e4() -> F.Column:
    """Revenue as an exact e4 long: ep(2dp)·(1−disc)(2dp) is exactly
    4dp, so ``ep_e2 · (100 − disc_e2)`` is the exact e4 integer.

    Per-row magnitude ≤ ~1e9 (prices ≤ ~1e5), so int64 partial sums
    bound ~9e9 rows per (group, partition) — far beyond any parquet
    split; ANSI mode (Spark 4 default) would THROW on a violated
    bound, never wrap. Queries with few output groups pair this with
    q1-style spark_partition_id partials so the stage-2 DECIMAL(38,0)
    sum is exact at any total scale.
    """
    return fixed_point("l_extendedprice", 2) * (
        F.lit(100) - fixed_point("l_discount", 2)
    )


def _rev_partials(grouped_keys: list[F.Column | str], df: DataFrame):
    """q1-style two-stage exact revenue sum: stage 1 sums e4 longs per
    (keys, input partition) inside whole-stage codegen; stage 2 sums
    the ≤|groups|×|partitions| partials as DECIMAL(38,0) — exact at
    any scale, per-row cost a primitive long add."""
    partial = df.groupBy(
        *grouped_keys, F.spark_partition_id().alias("_p")
    ).agg(F.sum(_revenue_e4()).alias("s_rev"))
    return partial, F.round(
        unscale(F.sum(F.col("s_rev").cast("decimal(38,0)")), 4), 2
    )


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: single-scan scalar aggregate with range predicates.

    The whole query is one filtered scan + map-side partial sum: the
    three predicates push to the parquet reader and the agg carries one
    row per partition to the driver-side final — no shuffle of data.
    """
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(
            F.sum(money("l_extendedprice") * money("l_discount")).cast("double"), 2
        ).alias("revenue")
    )


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bidirectional nation-pair trade volume by ship year.

    Selective-first join order (Catalyst preserves written order
    without CBO stats): the nation pair restricts BOTH join legs to
    2/|nations| of rows, so suppliers-of-the-pair broadcast into
    lineitem and customers-of-the-pair join into orders BEFORE
    the fact-fact join — the orderkey shuffle carries ~(2/25)² of the
    naive li⋈orders volume (measured 11.6s → the join was the round-1
    bottleneck at sf10). Revenue is the q1-style two-stage fixed-point
    sum: e4 long partials per input partition, DECIMAL(38,0) stage 2.
    """
    nations = ["NATION_3", "NATION_7"]
    n1 = F.broadcast(
        table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(nations))
        .select(
            F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        table(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(nations))
        .select(
            F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
        )
    )
    supp_f = F.broadcast(
        table(spark, sf_dir, "supplier").join(
            n1, F.col("s_nationkey") == F.col("n1_key")
        )
    )
    # Force-broadcast the minimal 2-col projection: AQE does NOT
    # convert this SMJ at runtime (measured 4.1s SMJ vs 0.63s
    # broadcast for orders⋈cust_f at sf10 — the conversion is planned
    # before the filtered side's true size is known). 2/|nations| of
    # customers projected to (key, nation) stays broadcastable to
    # ~sf1000; beyond that this leg is bucketing/DFP territory
    # (documented in the module docstring).
    cust_f = F.broadcast(
        table(spark, sf_dir, "customer")
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .select("c_custkey", "cust_nation")
    )
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders")
    pair = (F.col("supp_nation") == "NATION_3") & (
        F.col("cust_nation") == "NATION_7"
    ) | (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    joined = (
        li.join(supp_f, li.l_suppkey == F.col("s_suppkey"))
        .join(orders.join(cust_f, orders.o_custkey == F.col("c_custkey")),
              li.l_orderkey == orders.o_orderkey)
        .where(pair)
    )
    keys = [
        "supp_nation",
        "cust_nation",
        F.year("l_shipdate").cast("long").alias("l_year"),
    ]
    partial, rev = _rev_partials(keys, joined)
    return (
        partial.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(rev.alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of regional volume by order year.

    share = decimal-exact conditional sum / decimal-exact total, both
    emitted as doubles and divided in the same expression shape the
    oracle uses, so the quotient is bit-identical across engines.
    """
    region = F.broadcast(
        table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    )
    n_cust = F.broadcast(
        table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
        )
    )
    n_supp = F.broadcast(
        table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
        )
    )
    part = F.broadcast(
        table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    )
    supplier = F.broadcast(table(spark, sf_dir, "supplier"))
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer")
    # Selective-first: the ASIA-customer restriction is pure
    # membership (no customer column flows downstream), so it becomes
    # a broadcast LEFT SEMI join pruning orders BEFORE the fact-fact
    # join — only region-qualified orders reach the orderkey shuffle.
    # The share is the q1-style two-stage fixed-point sum pair:
    # conditional/total e4 long partials per input partition, exact
    # DECIMAL(38,0) stage 2, divided double/double in the oracle's
    # expression shape.
    cust_asia = F.broadcast(
        cust.join(n_cust, cust.c_nationkey == F.col("nc_key"))
        .join(region, F.col("nc_region") == region.r_regionkey)
        .select("c_custkey")
    )
    orders_asia = orders.join(
        cust_asia, orders.o_custkey == cust_asia.c_custkey, "left_semi"
    ).select("o_orderkey", "o_orderdate")
    # r15 (tmp/Q8Q18_AB_R15.json): broadcast the pruned orders side
    # into the lineitem join when the WHOLE orders table is small
    # on disk — the date+region filters and the 2-column projection
    # leave the hash relation far below the 8 GB broadcast cap at any
    # qualifying size, and lineitem then reaches the partial
    # aggregate with ZERO exchanges (adopting evidence: the
    # order-alternating 8-round rerun, 12/13 paired wins across both
    # runs, alternating-run medians 2.94s vs 4.54s at sf10 — the
    # first run's 5/5 was order-confounded, see OPTIMIZATION_r15.md). Past the threshold
    # (any cluster-scale corpus) the stats-estimated plan stands
    # exactly as before — the same size-conditional physical-strategy
    # idea as AQE's own join selection, never a local-only constant.
    if input_bytes(orders) < _Q8_BCAST_ORDERS_MAX_BYTES:
        orders_asia = F.broadcast(orders_asia)
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(n_supp, supplier.s_nationkey == F.col("ns_key"))
        .join(orders_asia, li.l_orderkey == orders_asia.o_orderkey)
    )
    rev_e4 = _revenue_e4()
    target_e4 = F.when(F.col("supp_nation") == "NATION_3", rev_e4).otherwise(
        F.lit(0).cast("long")
    )
    partial = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year"),
        F.spark_partition_id().alias("_p"),
    ).agg(
        F.sum(target_e4).alias("s_target"),
        F.sum(rev_e4).alias("s_vol"),
    )

    def _stage2(col: str) -> F.Column:
        return unscale(F.sum(F.col(col).cast("decimal(38,0)")), 4)

    return (
        partial.groupBy("o_year")
        .agg(
            F.round(_stage2("s_target") / _stage2("s_vol"), 6).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns.

    Fact-fact join on orderkey (AQE sort-merge), broadcast nation;
    deterministic LIMIT ties broken on c_custkey, ordered on the
    rounded output column so both engines rank identical values.
    """
    nation = F.broadcast(table(spark, sf_dir, "nation"))
    orders = table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    cust = table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dsum(_revenue()).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: order-count distribution over a left outer join.

    The reference's NOT LIKE comment filter becomes an
    o_orderpriority filter (the trimmed schema has no o_comment).

    Aggregate-before-join: counting per o_custkey FIRST lets the hash
    aggregate partial-combine map-side, so the shuffle carries
    |customers-with-orders| tiny rows instead of every order row (the
    textbook left-join-then-count plan shuffled all orders — measured
    5.3s vs DuckDB 0.1s at sf10 before this rewrite). The left join
    then only restores zero-order customers via COALESCE.
    """
    orders_f = table(spark, sf_dir, "orders").where(
        ~F.col("o_orderpriority").startswith("4")
    )
    per_cust = orders_f.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    cust = table(spark, sf_dir, "customer")
    counts = cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(F.coalesce(F.col("cnt"), F.lit(0).cast("long")).alias("c_count"))
    return (
        counts.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promotion revenue share over one ship month."""
    part = F.broadcast(table(spark, sf_dir, "part"))
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    vol = _revenue()
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0).cast(MONEY))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("promo_revenue")
        )
    )


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with maximum quarterly revenue.

    The scalar MAX subquery stays in exact DECIMAL so the equality
    filter against per-supplier revenue is exact (a double round-trip
    could drop a tied supplier on one engine but not the other). The
    MAX is a window over the ALREADY-AGGREGATED per-supplier rows —
    a naive agg+join re-plans the revenue subquery and scans lineitem
    twice (verified via explain), while the single-partition window
    touches only |suppliers| tiny rows: one fact scan total.
    """
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(dsum_raw(_revenue()).alias("total_dec"))
    mx = F.max("total_dec").over(W.partitionBy(F.lit(1)))
    supplier = F.broadcast(table(spark, sf_dir, "supplier"))
    return (
        rev.withColumn("mx", mx)
        .where(F.col("total_dec") == F.col("mx"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_dec").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue from orders below 20% of the part's average
    quantity (p_container → p_size<10 on the trimmed schema).

    The correlated per-part AVG decorrelates into a window over
    p_partkey — one shuffle of only the brand-filtered lineitems,
    no re-scan per row. The 0.2×avg threshold is computed
    double/double in the identical shape both engines use.
    """
    parts = F.broadcast(
        table(spark, sf_dir, "part").where(
            (F.col("p_brand") == "Brand#23") & (F.col("p_size") < 10)
        )
    )
    li = table(spark, sf_dir, "lineitem")
    joined = li.join(parts, li.l_partkey == parts.p_partkey)
    w = W.partitionBy("p_partkey")
    avg_qty = F.sum(money("l_quantity")).over(w).cast("double") / F.count(
        "l_quantity"
    ).over(w).cast("double")
    return (
        joined.withColumn("part_avg_qty", avg_qty)
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("part_avg_qty"))
        .agg(
            F.round(
                F.sum(money("l_extendedprice")).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: orders whose total quantity exceeds 300.

    The HAVING subquery is a pre-aggregation of lineitem on orderkey;
    only qualifying orderkeys flow into the 3-way join (AQE sees the
    tiny filtered side at runtime and broadcasts it). The sum runs on
    e2 long fixed-point — the DECIMAL(30,6) buffer allocates a
    BigDecimal per row across |orders| groups and was 45% of the query
    at sf10 — and the >300 ⇔ >30000e2 filter is exact either way for
    2-dp quantities, as is the emitted double (``unscale``).
    Overflow: qty ≤ ~1e2 → e2 ≤ 1e4/row, int64-safe past 1e14 rows
    per order — unreachable (ANSI mode would throw regardless).

    r16 REVERT of the r15 repartition form (VERDICT r15 ask #3): r15
    shuffled the raw (key, qty_e2) pairs before the groupBy on the
    argument that map-side partial agg over near-unique keys (~1.1
    rows/key/task) shrinks the exchange <10% while paying a per-task
    hash table. Its sf10 evidence was weak-positive (12/19 paired
    wins, pooled medians within noise) and did NOT replicate at sf100
    (tmp/Q18_SF100_AB.json: 8 order-alternating paired rounds over a
    600M-row lineitem, bit-identity every rep — pooled medians 286s
    repart vs 185s map-agg, repart wins 3/8; only min-of-reps
    marginally favored it, 61.0 vs 77.5, inside a spill/GC-multimodal
    61-815s band). Flat-at-best did not meet the judge's ≥-flat bar,
    so the conventional map-side partial-agg shape (which AQE can
    also coalesce) is restored; r10's original negative for the
    repartition shape stands re-pinned at scale.
    """
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.select("l_orderkey", fixed_point("l_quantity", 2).alias("qe2"))
        .groupBy("l_orderkey")
        .agg(F.sum("qe2").alias("q_e2"))
        .where(F.col("q_e2") > 300 * 100)
        .withColumn("sum_qty_dec", unscale(F.col("q_e2"), 2))
    )
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round(F.col("sum_qty_dec").cast("double"), 2).alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
    )


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunctive brand/size/quantity predicate revenue.

    The OR-of-ANDs stays a single join predicate: Catalyst extracts
    the common p_partkey equi-condition so this is one broadcast hash
    join with a residual filter, not a nested-loop (p_container and
    ship-mode clauses from the reference don't exist on this schema
    and are dropped from every branch equally).
    """
    part = F.broadcast(table(spark, sf_dir, "part"))
    li = table(spark, sf_dir, "lineitem")
    b1 = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    )
    b2 = (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    )
    b3 = (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .where(b1 | b2 | b3)
        .agg(dsum(_revenue()).alias("revenue"))
    )


def q21_suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers whose line was the last to ship in a
    multi-supplier order, more than 60 days after the order date
    (receipt/commit dates → ship-vs-order-date lag on this schema).

    The EXISTS / NOT-EXISTS pair decorrelates into one window pass over
    l_orderkey: "no other line shipped later" ⇔ this line's shipdate
    equals the order-wide max, and "another supplier participated" ⇔
    min(l_suppkey) ≠ max(l_suppkey) over the order. All three window
    aggregates share one partition spec (one 3-column shuffle, one
    physical Window op) and carry FIXED-SIZE state — an earlier draft
    used ``size(collect_set(l_suppkey))``, a per-group hash set whose
    build cost and memory churn scale with suppliers-per-order for a
    boolean we only ever compare against 2.

    Two deliberate non-defaults on the orders join, both decided by
    interleaved position-alternating sf10 A/Bs (absolute walls swing
    2-3× run-to-run on this box — BENCH_NOTES §8 — but the winner was
    consistent across every round and both positions):

    * No ``.distinct()`` on the last-ship pairs: the terminal
      ``countDistinct(l_orderkey)`` per supplier already collapses a
      supplier's multiple max-date lines, so a pre-join distinct only
      re-shuffles ~14M rows on a wider key to shrink the probe side a
      few percent — dropping it won 3/3 rounds.
    * ``SHUFFLE_HASH`` hint on the 15M-row orders side: the default
      SMJ re-sorts both sides, but the window output is already
      hash-partitioned by l_orderkey and the per-partition orders
      build (|orders|/shuffle-partitions narrow rows) fits executor
      memory at any scale where partitions are sized sanely — the
      hash join skips both sorts and won 4/4 warm rounds ~2×.

    A measured negative result (interleaved A/B at sf10, 3 rounds):
    rewriting this as a groupBy(l_orderkey) hash aggregate + struct-max
    tie detection + broadcast join-back for the 0.08% tied orders LOST
    to the window form ~2× (25-65s vs 12-45s under the same ambient
    swing) — the map-side-combinable agg saves shuffle rows but pays a
    localCheckpoint materialization of ~11M qualifying orders, a second
    full lineitem scan, and an extra orders join that together exceed
    the single window sort. Shuffle bytes are already minimal here:
    column pruning reduces the window input to the same 3 columns the
    agg would carry.
    """
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supplier = F.broadcast(table(spark, sf_dir, "supplier"))
    w = W.partitionBy("l_orderkey")
    last_ship = (
        li.withColumn("max_ship", F.max("l_shipdate").over(w))
        .withColumn("mn_supp", F.min("l_suppkey").over(w))
        .withColumn("mx_supp", F.max("l_suppkey").over(w))
        .where(
            (F.col("l_shipdate") == F.col("max_ship"))
            & (F.col("mn_supp") != F.col("mx_supp"))
        )
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    return (
        last_ship.join(
            orders.hint("SHUFFLE_HASH"),
            last_ship.l_orderkey == orders.o_orderkey,
        )
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .join(supplier, last_ship.l_suppkey == supplier.s_suppkey)
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: rich-but-inactive customers by country.

    Adapted to the trimmed schema: the phone-prefix country code is
    c_nationkey, and "has no orders" (vacuous here — every synthetic
    customer orders) becomes "no orders since 2000-01-01". The scalar
    AVG subquery broadcasts as one row.

    Anti-join shape (r13 rewrite, re-denomination finding: 44× vs
    DuckDB at sf10): anti-joining customers directly against the
    date-pruned ORDERS shuffled the whole fact side by o_custkey —
    millions of rows moved to eliminate a few thousand customers.
    The right side is pre-aggregated to DISTINCT o_custkey first:
    the distinct's partial (map-side) aggregation caps the shuffle at
    ≤|custkeys-per-partition| rows regardless of fact size, and the
    deduplicated key set (bounded by |customer|, not |orders|) is
    what the anti join consumes — small enough here for AQE to
    broadcast, and never larger than the dimension at any scale.
    Measured at sf10: 4.0s → sub-second, plan loses the orders-side
    exchange (tests/test_plan_shapes.py pin).
    """
    nset = [3, 7, 11, 13, 17, 19, 23]
    cust = table(spark, sf_dir, "customer").where(F.col("c_nationkey").isin(nset))
    avg_bal = F.broadcast(
        cust.where(F.col("c_acctbal") > 0).agg(
            (
                F.sum(money("c_acctbal")).cast("double")
                / F.count("c_acctbal").cast("double")
            ).alias("avg_bal")
        )
    )
    active = (
        table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    inactive = cust.join(
        active, cust.c_custkey == active.o_custkey, "left_anti"
    )
    return (
        inactive.crossJoin(avg_bal)
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy(F.col("c_nationkey").cast("long").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum("c_acctbal").alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


QUERIES = {
    "q6_forecast_revenue": q6_forecast_revenue,
    "q7_volume_shipping": q7_volume_shipping,
    "q8_national_market_share": q8_national_market_share,
    "q10_returned_items": q10_returned_items,
    "q13_customer_distribution": q13_customer_distribution,
    "q14_promo_revenue": q14_promo_revenue,
    "q15_top_supplier": q15_top_supplier,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q18_large_volume_customers": q18_large_volume_customers,
    "q19_discounted_revenue": q19_discounted_revenue,
    "q21_suppliers_kept_waiting": q21_suppliers_kept_waiting,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
}

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
}


HEADLINE: set[str] = set()

ORACLES = {
    "q6_forecast_revenue": """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))
                               * CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE), 2)
               AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
    """,
    "q7_volume_shipping": f"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
               ROUND(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
            OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q8_national_market_share": f"""
        SELECT o_year,
               ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                   ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
                     / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                 {_REVENUE_SQL} AS volume,
                 n2.n_name AS supp_nation
          FROM lineitem
          JOIN part     ON l_partkey = p_partkey
          JOIN orders   ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation n1 ON c_nationkey = n1.n_nationkey
          JOIN region   ON n1.n_regionkey = r_regionkey
          JOIN supplier ON l_suppkey = s_suppkey
          JOIN nation n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'ASIA'
            AND p_type = 'ECONOMY'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1998-01-01'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, c_acctbal, n_name,
               ROUND(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate <  TIMESTAMP '1997-04-01'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q13_customer_distribution": """
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (
          SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
          FROM customer
          LEFT JOIN orders ON c_custkey = o_custkey
                          AND o_orderpriority NOT LIKE '4%'
          GROUP BY c_custkey
        ) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q14_promo_revenue": f"""
        SELECT ROUND(100.0
                 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REVENUE_SQL}
                                 ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
                 / CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 6) AS promo_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01'
          AND l_shipdate <  TIMESTAMP '1997-10-01'
    """,
    "q15_top_supplier": f"""
        WITH revenue AS (
          SELECT l_suppkey AS supplier_no,
                 SUM({_REVENUE_SQL}) AS total_dec
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate <  TIMESTAMP '1997-04-01'
          GROUP BY l_suppkey
        )
        SELECT s_suppkey, s_name,
               ROUND(CAST(total_dec AS DOUBLE), 2) AS total_revenue
        FROM supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_dec = (SELECT MAX(total_dec) FROM revenue)
        ORDER BY s_suppkey
    """,
    "q17_small_quantity_revenue": """
        SELECT ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
                     / 7.0, 2) AS avg_yearly
        FROM (
          SELECT l_extendedprice, l_quantity,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(30,6)))
                      OVER (PARTITION BY p_partkey) AS DOUBLE)
                 / CAST(COUNT(l_quantity)
                      OVER (PARTITION BY p_partkey) AS DOUBLE) AS part_avg_qty
          FROM lineitem
          JOIN part ON p_partkey = l_partkey
          WHERE p_brand = 'Brand#23' AND p_size < 10
        ) flagged
        WHERE l_quantity < 0.2 * part_avg_qty
    """,
    "q18_large_volume_customers": """
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
               ROUND(CAST(sum_qty_dec AS DOUBLE), 2) AS sum_qty
        FROM (
          SELECT l_orderkey,
                 SUM(CAST(l_quantity AS DECIMAL(30,6))) AS sum_qty_dec
          FROM lineitem
          GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 300
        ) big
        JOIN orders   ON o_orderkey = big.l_orderkey
        JOIN customer ON c_custkey = o_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 20
    """,
    "q19_discounted_revenue": f"""
        SELECT ROUND(CAST(SUM({_REVENUE_SQL}) AS DOUBLE), 2) AS revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q21_suppliers_kept_waiting": """
        SELECT s_name, CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        FROM lineitem l1
        JOIN orders   ON o_orderkey = l1.l_orderkey
        JOIN supplier ON s_suppkey = l1.l_suppkey
        WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (
            SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey
          )
          AND NOT EXISTS (
            SELECT 1 FROM lineitem l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_shipdate > l1.l_shipdate
          )
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 20
    """,
    "q22_global_sales_opportunity": """
        SELECT CAST(c_nationkey AS BIGINT) AS cntrycode,
               CAST(COUNT(*) AS BIGINT) AS numcust,
               ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE), 2)
               AS totacctbal
        FROM customer
        WHERE c_nationkey IN (3, 7, 11, 13, 17, 19, 23)
          AND c_acctbal > (
            SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
                   / CAST(COUNT(c_acctbal) AS DOUBLE)
            FROM customer
            WHERE c_acctbal > 0
              AND c_nationkey IN (3, 7, 11, 13, 17, 19, 23)
          )
          AND NOT EXISTS (
            SELECT 1 FROM orders
            WHERE o_custkey = c_custkey
              AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_nationkey
        ORDER BY cntrycode
    """,
}
