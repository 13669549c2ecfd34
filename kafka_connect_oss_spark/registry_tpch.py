"""TPC-H-adapted decision-support suite over the driver's reduced star schema.

The reference engine has no join/agg analytics (SURVEY.md §2 — its "GROUP BY"
is partition routing), so this module, like registry_relational, defines the
engine's batch-analytics surface. These are the classic TPC-H query shapes
(exists/anti-join, star joins, ratio-of-sums, group-top-k, correlated
averages, dominant-key windows) re-fitted to the driver's schema: there is no
partsupp table and no commitdate/receiptdate/shipmode/container/phone
columns, so Q2/Q11/Q16/Q20 stand partsupp in with the observed supply
relation (lineitem grouped by (partkey, suppkey)) and
Q4/Q12/Q17/Q19/Q21/Q22 use documented stand-in predicates that preserve
the query's plan shape (Q21's lateness = Q12's ship-lag>60d stand-in).

Scale discipline (the part that must survive 100 TB):
* true dims (nation, region) and *filtered* dims (brand/type-restricted
  part subsets, negative-balance suppliers, singleton aggregates) are
  broadcast — their filtered size is bounded regardless of SF;
* unfiltered part/customer/orders joins are plain equi-joins: at 100 TB
  those relations scale with the fact table, so the plan must shuffle-join
  on the key and rely on AQE for skew/size decisions;
* every money/measure sum is exact integer cents (same discipline as
  registry_relational) so results are bit-identical to the DuckDB oracle at
  any parallelism, and ratio outputs are a single BIGINT->DOUBLE division
  (IEEE-exact in both engines);
* top-k always pairs the sort key with a unique tiebreak column so LIMIT is
  deterministic, and compiles to TakeOrderedAndProject (no global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from kafka_connect_oss_spark.registry import _cents, register
from kafka_connect_oss_spark.sources.batch import load_table

# revenue in integer "cents x discount-percent" units: BIGINT, exact
_REV = f"{_cents('l_extendedprice')} * (100 - {_cents('l_discount')})"


def _ts(s: str):
    return F.lit(s).cast("timestamp")


def _rev_col() -> F.Column:
    return F.expr(_REV)


# --------------------------------------------------------------------------
# Q4: order priority checking — EXISTS-style semi join
# --------------------------------------------------------------------------

@register(
    "q4_order_priority",
    """SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority""",
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (commitdate<receiptdate replaced by ship-lag>30d:
    schema has no commit/receipt dates). EXISTS compiles to a left-semi
    join, so each order contributes once no matter how many late lines;
    the semi join shuffles only (orderkey, two dates)."""
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= _ts("1996-07-01")) &
                     (F.col("o_orderdate") < _ts("1996-10-01")))
              .select("o_orderkey", "o_orderdate", "o_orderpriority"))
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) &
        (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi")
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count"))


# --------------------------------------------------------------------------
# Q6: forecast revenue change — pure scan-filter-agg
# --------------------------------------------------------------------------

@register(
    "q6_forecast_revenue",
    f"""SELECT CAST(SUM({_cents('l_extendedprice')} * {_cents('l_discount')}) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND {_cents('l_discount')} BETWEEN 5 AND 7
      AND l_quantity < 24""",
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the canonical pushdown probe — every predicate reaches the
    parquet scan (shipdate range is also the partition-pruning column in a
    date-partitioned 100 TB layout), and the agg is a 2-column partial sum.
    Discount band compared in exact integer cents, not float equality."""
    li = load_table(spark, sf_dir, "lineitem")
    return (li.where((F.col("l_shipdate") >= _ts("1996-01-01")) &
                     (F.col("l_shipdate") < _ts("1997-01-01")) &
                     F.expr(f"{_cents('l_discount')} BETWEEN 5 AND 7") &
                     (F.col("l_quantity") < 24))
            .agg((F.sum(F.expr(f"{_cents('l_extendedprice')} * "
                               f"{_cents('l_discount')}"))
                  .cast("double") / 10000.0).alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


# --------------------------------------------------------------------------
# Q7: volume shipping between two geographies (region-level adaptation)
# --------------------------------------------------------------------------

@register(
    "q7_volume_shipping",
    f"""SELECT rs.r_name AS supp_region, rc.r_name AS cust_region,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) / 10000.0 AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ns ON s_nationkey = ns.n_nationkey
    JOIN region rs ON ns.n_regionkey = rs.r_regionkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation nc ON c_nationkey = nc.n_nationkey
    JOIN region rc ON nc.n_regionkey = rc.r_regionkey
    WHERE ((rs.r_name = 'ASIA' AND rc.r_name = 'EUROPE')
        OR (rs.r_name = 'EUROPE' AND rc.r_name = 'ASIA'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape at region granularity (nation pairs are too sparse in
    the synthetic data). Supplier geo-dim is broadcast (bounded: one row per
    supplier in the two regions); the customer side scales with the fact
    table, so orders->customer is a plain shuffle join AQE can re-plan."""
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= _ts("1996-01-01")) &
                 (F.col("l_shipdate") < _ts("1998-01-01")))
          .select("l_orderkey", "l_suppkey", "l_shipdate",
                  "l_extendedprice", "l_discount"))
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    sup_geo = (load_table(spark, sf_dir, "supplier")
               .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
               .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
               .where(F.col("r_name").isin("ASIA", "EUROPE"))
               .select("s_suppkey", F.col("r_name").alias("supp_region")))
    cust_geo = (load_table(spark, sf_dir, "customer")
                .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
                .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
                .where(F.col("r_name").isin("ASIA", "EUROPE"))
                .select("c_custkey", F.col("r_name").alias("cust_region")))
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    joined = (li.join(F.broadcast(sup_geo), li.l_suppkey == sup_geo.s_suppkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust_geo, orders.o_custkey == cust_geo.c_custkey)
              .where(((F.col("supp_region") == "ASIA") & (F.col("cust_region") == "EUROPE")) |
                     ((F.col("supp_region") == "EUROPE") & (F.col("cust_region") == "ASIA"))))
    return (joined
            .groupBy("supp_region", "cust_region",
                     F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg((F.sum(_rev_col()).cast("double") / 10000.0).alias("revenue")))


# --------------------------------------------------------------------------
# Q8: market share of a part type within a region's customers
# --------------------------------------------------------------------------

@register(
    "q8_market_share",
    f"""SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV}) AS DOUBLE) AS promo_share
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1""",
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: conditional-sum / total-sum per year. Both sums ride
    one aggregation pass (no second scan); share is a single BIGINT->DOUBLE
    division, IEEE-identical in both engines. The part join carries only
    (partkey, is-promo flag); projecting the flag before the join keeps the
    shuffled row narrow at 100 TB."""
    part = (load_table(spark, sf_dir, "part")
            .select("p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")))
    nat = load_table(spark, sf_dir, "nation")
    reg = (load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA"))
    cust = (load_table(spark, sf_dir, "customer")
            .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
            .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
            .select("c_custkey"))
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= _ts("1996-01-01")) &
                     (F.col("o_orderdate") < _ts("1998-01-01")))
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount")
    joined = (li.join(part, li.l_partkey == part.p_partkey)
              .join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey))
    rev = _rev_col()
    return (joined
            .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
            .agg((F.sum(F.when(F.col("is_promo"), rev).otherwise(F.lit(0))).cast("double")
                  / F.sum(rev).cast("double")).alias("promo_share")))


# --------------------------------------------------------------------------
# Q9: product type profit by nation and year
# --------------------------------------------------------------------------

@register(
    "q9_product_profit",
    f"""SELECT n_name AS nation,
           CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM({_REV}) AS DOUBLE) / 10000.0 AS profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%widget%'
    GROUP BY 1, 2""",
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (no partsupp/supplycost in this schema, so profit is
    discounted revenue). The LIKE-filtered part subset is broadcast — its
    size is a fixed fraction of the part dim, small relative to the fact
    side at every SF; supplier->nation is a two-level broadcast chain."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_name").like("%widget%"))
            .select("p_partkey"))
    nat = load_table(spark, sf_dir, "nation")
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
           .select("s_suppkey", "n_name"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
            .groupBy(F.col("n_name").alias("nation"),
                     F.year("l_shipdate").cast("bigint").alias("l_year"))
            .agg((F.sum(_rev_col()).cast("double") / 10000.0).alias("profit")))


# --------------------------------------------------------------------------
# Q10: returned item reporting — top 20 customers by lost revenue
# --------------------------------------------------------------------------

@register(
    "q10_returned_items",
    f"""SELECT c_custkey, c_name,
           CAST(SUM({_REV}) AS DOUBLE) / 10000.0 AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: selective fact filters -> shuffle join on custkey -> agg ->
    top-k. customer attributes ride the grouping key (classic Q10 plan);
    LIMIT pairs the exact-cents revenue with the unique custkey tiebreak so
    the top-20 is deterministic, and compiles to TakeOrderedAndProject."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    orders = (load_table(spark, sf_dir, "orders")
              .where((F.col("o_orderdate") >= _ts("1996-10-01")) &
                     (F.col("o_orderdate") < _ts("1997-01-01")))
              .select("o_orderkey", "o_custkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    joined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey)
              .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey))
    agg = (joined.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
           .agg((F.sum(_rev_col()).cast("double") / 10000.0).alias("revenue")))
    return (agg.select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
            .orderBy(F.col("revenue").desc(), "c_custkey").limit(20))


# --------------------------------------------------------------------------
# Q12: late shipments by priority class (shipmode stand-in)
# --------------------------------------------------------------------------

@register(
    "q12_late_shipment_priority",
    """SELECT CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY 1""",
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (no shipmode column: groups by ship year, keeps the
    original's priority-class conditional counts). The >60-day lag predicate
    is a join-time condition so non-late lines never leave the join."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    joined = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey) &
        (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (joined
            .groupBy(F.year("l_shipdate").cast("bigint").alias("ship_year"))
            .agg(F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
                 F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count")))


# --------------------------------------------------------------------------
# Q13: customer order-count distribution (left join histogram)
# --------------------------------------------------------------------------

@register(
    "q13_customer_distribution",
    """WITH c_orders AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY c_custkey)
    SELECT c_count, COUNT(*) AS custdist
    FROM c_orders GROUP BY c_count""",
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: two-level aggregation with a filtered LEFT join (the
    priority filter stands in for the original's comment NOT LIKE) so
    zero-order customers land in the c_count=0 bucket. The second agg's
    input is one row per customer — tiny relative to the join."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") != "4-NOT SPECIFIED")
              .select("o_orderkey", "o_custkey"))
    per_cust = (cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --------------------------------------------------------------------------
# Q14: promotion effect — ratio of conditional to total revenue
# --------------------------------------------------------------------------

@register(
    "q14_promo_revenue",
    f"""SELECT CAST(100 * SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0 END) AS DOUBLE)
             / CAST(SUM({_REV}) AS DOUBLE) AS promo_revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: single-pass conditional ratio. The month filter hits the
    scan; part contributes only the is-promo flag. The percentage is
    (100 * BIGINT) -> DOUBLE divided by BIGINT -> DOUBLE: both factors exact,
    one IEEE division, bit-identical to the oracle."""
    part = (load_table(spark, sf_dir, "part")
            .select("p_partkey", (F.col("p_type") == "PROMO").alias("is_promo")))
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= _ts("1996-09-01")) &
                 (F.col("l_shipdate") < _ts("1996-10-01")))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    rev = _rev_col()
    return (li.join(part, li.l_partkey == part.p_partkey)
            .agg(((F.sum(F.when(F.col("is_promo"), rev).otherwise(F.lit(0))) * 100)
                  .cast("double") / F.sum(rev).cast("double")).alias("promo_revenue"),
                 F.count(F.lit(1)).alias("n_items")))


# --------------------------------------------------------------------------
# Q15: top supplier by quarterly revenue (max-equality via singleton join)
# --------------------------------------------------------------------------

_Q15_REV = f"""SELECT l_suppkey, SUM({_REV}) AS rev_c
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey"""


@register(
    "q15_top_supplier",
    f"""WITH rev AS ({_Q15_REV})
    SELECT s_suppkey, s_name, CAST(rev_c AS DOUBLE) / 10000.0 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE rev_c = (SELECT MAX(rev_c) FROM rev)""",
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: revenue view + max-equality selection. Revenue is exact
    integer cents so `= MAX(...)` is a safe equality (no float ties); the
    singleton max is broadcast back against the per-supplier aggregate —
    no collect(). The supplier-bounded aggregate is STAGED (r13): both
    consumers (the scalar max and the equality join) previously planned
    their own copy of the scan+aggregate subtree, and unlike q11's
    same-key branches AQE never collapsed it to a ReusedExchange
    (verified on the final plan: 0 reuses, lineitem scanned twice) —
    staging pins lineitem to ONE scan at any SF."""
    from kafka_connect_oss_spark.operators.lifecycle import stage_local

    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= _ts("1996-01-01")) &
                 (F.col("l_shipdate") < _ts("1996-04-01")))
          .select("l_suppkey", "l_extendedprice", "l_discount"))
    rev = stage_local(
        li.groupBy("l_suppkey").agg(F.sum(_rev_col()).alias("rev_c")))
    top = rev.agg(F.max("rev_c").alias("max_c"))
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (rev.join(F.broadcast(top), rev.rev_c == top.max_c)
            .join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name",
                    (F.col("rev_c").cast("double") / 10000.0).alias("total_revenue")))


# --------------------------------------------------------------------------
# Q16: supplier-part relationship (distinct suppliers per part class)
# --------------------------------------------------------------------------

@register(
    "q16_parts_supplier_relationship",
    """SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO' AND p_size IN (1, 4, 7)
      AND NOT EXISTS (SELECT 1 FROM supplier
                      WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size""",
)
def q16_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp replaced by observed lineitem supply pairs;
    the complaint-supplier exclusion becomes a negative-balance exclusion).
    The excluded-supplier list is broadcast for the anti join; the distinct
    count dedups (class, suppkey) pairs before the final agg."""
    part = (load_table(spark, sf_dir, "part")
            .where((F.col("p_brand") != "Brand#45") &
                   (F.col("p_type") != "PROMO") &
                   F.col("p_size").isin(1, 4, 7))
            .select("p_partkey", "p_brand", "p_type", "p_size"))
    bad_sup = (load_table(spark, sf_dir, "supplier")
               .where(F.col("s_acctbal") < 0).select("s_suppkey"))
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
            .join(F.broadcast(bad_sup), li.l_suppkey == bad_sup.s_suppkey,
                  "left_anti")
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt")))


# --------------------------------------------------------------------------
# Q17: small-quantity-order revenue (correlated per-part average)
# --------------------------------------------------------------------------

@register(
    "q17_small_quantity_revenue",
    f"""WITH pavg AS (
        SELECT l_partkey AS avg_partkey,
               SUM({_cents('l_quantity')}) AS sq, COUNT(*) AS n
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#23'
        GROUP BY l_partkey)
    SELECT CAST(SUM({_cents('l_extendedprice')}) AS DOUBLE) / 700.0 AS avg_yearly,
           COUNT(*) AS n_small
    FROM lineitem JOIN pavg ON l_partkey = avg_partkey
    WHERE 5 * {_cents('l_quantity')} * n < sq""",
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: lineitems below 20% of their part's average quantity
    (container filter dropped: no container column). The correlated average
    is exact integer algebra — qty < 0.2*avg(qty) rewritten as
    5*qty*n < sum(qty), no float division before the comparison.

    r13 rewrite to the q2/q20 window pattern: the per-part (sum, count)
    rides a window over the brand-pruned rows' own partkey Exchange —
    the previous agg-then-broadcast-join shape scanned lineitem TWICE
    (AQE's reuse was partial: final plan still showed 2 scans) and
    broadcast an aggregate bounded by the brand's PART COUNT, a
    ~100 MB+ broadcast at 100 TB scale. Now: ONE scan, one Exchange of
    the pruned rows, no large broadcast."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand") == "Brand#23").select("p_partkey"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey,
                       "semi")
    w = Window.partitionBy("l_partkey")
    small = (brand_li
             .withColumn("sq", F.sum(F.expr(_cents("l_quantity"))).over(w))
             .withColumn("n", F.count(F.lit(1)).over(w))
             .where(F.expr(f"5 * {_cents('l_quantity')} * n < sq")))
    return small.agg(
        (F.sum(F.expr(_cents("l_extendedprice"))).cast("double") / 700.0)
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small"))


# --------------------------------------------------------------------------
# Q18: large volume customers (HAVING on fact-side aggregate -> top-k)
# --------------------------------------------------------------------------

@register(
    "q18_large_volume_customers",
    f"""WITH big AS (
        SELECT l_orderkey, SUM({_cents('l_quantity')}) AS sum_qty_c
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM({_cents('l_quantity')}) > 25000)
    SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice,
           CAST(sum_qty_c AS DOUBLE) / 100.0 AS sum_qty
    FROM big JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (threshold 250 units, ~p99 of this data's order sizes).
    The HAVING aggregate runs fact-side first, shrinking lineitem to the
    rare big orders before any join; orders/customer join only the
    survivors. Top-k is TakeOrderedAndProject with orderkey tiebreak."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum(F.expr(_cents("l_quantity"))).alias("sum_qty_c"))
           .where(F.col("sum_qty_c") > 25000))
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = (big.join(orders, big.l_orderkey == orders.o_orderkey)
              .join(cust, orders.o_custkey == cust.c_custkey))
    return (joined.select(
        "c_custkey", "c_name", "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        "o_totalprice",
        (F.col("sum_qty_c").cast("double") / 100.0).alias("sum_qty"))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(100))


# --------------------------------------------------------------------------
# Q19: discounted revenue over disjunctive brand/quantity/size bands
# --------------------------------------------------------------------------

@register(
    "q19_discounted_revenue",
    f"""SELECT CAST(SUM({_REV}) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 20 AND p_size BETWEEN 1 AND 8)
       OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 5 AND 30 AND p_size BETWEEN 1 AND 12)
       OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 10 AND 40 AND p_size BETWEEN 1 AND 15)""",
)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (container/shipinstruct arms dropped; quantity/size
    bands widened to this data's ranges). The three-brand part subset is
    broadcast and the disjunction is evaluated post-join — mirroring the
    classic plan where the OR cannot push below the join but the brand
    pre-filter can."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34"))
            .select("p_partkey", "p_brand", "p_size"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    joined = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    arm = ((((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 20) & F.col("p_size").between(1, 8))) |
           (((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(5, 30) & F.col("p_size").between(1, 12))) |
           (((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(10, 40) & F.col("p_size").between(1, 15))))
    return (joined.where(arm)
            .agg((F.sum(_rev_col()).cast("double") / 10000.0).alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


# --------------------------------------------------------------------------
# Q20: dominant supplier per part (window-style share-of-total)
# --------------------------------------------------------------------------

@register(
    "q20_dominant_suppliers",
    f"""WITH pq AS (
        SELECT l_partkey, l_suppkey, SUM({_cents('l_quantity')}) AS sq
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type = 'PROMO'
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_partkey, l_suppkey),
    pt AS (SELECT l_partkey AS t_partkey, SUM(sq) AS tq FROM pq GROUP BY l_partkey)
    SELECT DISTINCT s_suppkey, s_name, n_name
    FROM pq JOIN pt ON l_partkey = t_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
    WHERE 2 * sq > tq""",
)
def q20_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (no partsupp: 'available quantity' becomes observed
    shipped quantity; selects suppliers shipping >50% of a PROMO part's 1996
    volume). The per-part total is a window SUM over the (part, supplier)
    aggregate — the q2 pattern: a pq-join-pt self-join would scan and
    aggregate lineitem twice in the static plan and re-shuffle pq a second
    time; the window reuses the aggregate's own partkey Exchange, so
    lineitem is scanned ONCE (pinned) and the share test stays exact
    integer arithmetic."""
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_type") == "PROMO").select("p_partkey"))
    li = (load_table(spark, sf_dir, "lineitem")
          .where((F.col("l_shipdate") >= _ts("1996-01-01")) &
                 (F.col("l_shipdate") < _ts("1997-01-01")))
          .select("l_partkey", "l_suppkey", "l_quantity"))
    pq = (li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
          .groupBy("l_partkey", "l_suppkey")
          .agg(F.sum(F.expr(_cents("l_quantity"))).alias("sq")))
    w = Window.partitionBy("l_partkey")
    nat = load_table(spark, sf_dir, "nation")
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
           .select("s_suppkey", "s_name", "n_name"))
    return (pq.withColumn("tq", F.sum("sq").over(w))
            .where(2 * F.col("sq") > F.col("tq"))
            .join(F.broadcast(sup), pq.l_suppkey == sup.s_suppkey)
            .select("s_suppkey", "s_name", "n_name")
            .distinct())


# --------------------------------------------------------------------------
# Q21: suppliers who kept waiting orders — the EXISTS/NOT-EXISTS anti-join
# --------------------------------------------------------------------------

@register(
    "q21_waiting_suppliers",
    """SELECT s_name, COUNT(*) AS numwait
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    JOIN lineitem l1 ON l1.l_suppkey = s_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE r_name = 'ASIA'
      AND o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name LIMIT 100""",
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — waiting suppliers: late lines (stand-in: shipped
    >60 days after order date, same lateness predicate as Q12; schema has
    no commit/receipt dates) in finalized multi-supplier orders where this
    supplier was the ONLY late one; region-filtered supplier dim (single
    nation is too sparse in the synthetic data — Q7's region adaptation).

    Spark-first rewrite: the classic plan self-joins lineitem three times
    (l1 x EXISTS l2 x NOT EXISTS l3). Here the EXISTS / NOT-EXISTS pair
    collapses into ONE per-order aggregate over a single lineitem scan —
    n_supp > 1 <=> EXISTS other-supplier line; n_late_supp = 1 <=> NOT
    EXISTS other late supplier (and the waiting supplier is that one late
    supplier) — so lineitem is scanned once and shuffled once on the
    8-byte orderkey instead of three scans + two joins. numwait counts
    l1 rows (the supplier's late lines in qualifying orders), exactly the
    classic semantics. The region-filtered supplier dim is broadcast
    (bounded fraction of a dim); top-k is TakeOrderedAndProject with
    s_name as the unique group key/tiebreak.

    r17 (guide §2.3 — aggregate before you shuffle): the two
    countDistincts planned as an Expand that TRIPLED every joined line
    into the first shuffle (one replica per distinct-aggregate group
    id). The same numbers fall out of a two-level aggregate — per
    (order, supplier) first (count(*) = distinct suppliers,
    max(late) = supplier lateness, the late-line count rides along),
    then per order — so the heavy shuffle carries each (order,
    supplier) pair once, map-side-combined, and the Expand node is
    gone (plans/r17/q21_waiting_suppliers_{before,after}.txt). Values
    identical: suppliers are distinct after the first grouping, so
    count(*) == countDistinct(suppkey), a supplier is late iff any of
    its lines is, and summing per-supplier late-line counts is the
    order's late-line count."""
    orders = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderstatus") == "F")
              .select("o_orderkey", "o_orderdate"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    lined = (li.join(orders, li.l_orderkey == orders.o_orderkey)
             .select("l_orderkey", "l_suppkey",
                     (F.col("l_shipdate") >
                      F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
                     .alias("late")))
    per_supp = (lined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("supp_late"),
        F.sum(F.when(F.col("late"), 1).otherwise(0))
        .alias("supp_late_lines")))
    per_order = (per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.count(F.when(F.col("supp_late"), F.lit(1))).alias("n_late_supp"),
        F.max(F.when(F.col("supp_late"), F.col("l_suppkey")))
        .alias("late_supp"),
        F.sum("supp_late_lines").alias("n_late_lines")))
    waiting = per_order.where((F.col("n_supp") > 1) &
                              (F.col("n_late_supp") == 1))
    nat = load_table(spark, sf_dir, "nation")
    reg = (load_table(spark, sf_dir, "region")
           .where(F.col("r_name") == "ASIA"))
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
           .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
           .select("s_suppkey", "s_name"))
    return (waiting.join(F.broadcast(sup),
                         waiting.late_supp == sup.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("n_late_lines").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name").limit(100))


# --------------------------------------------------------------------------
# Q22: dormant high-balance customers (anti join + scalar-aggregate filter)
# --------------------------------------------------------------------------

@register(
    "q22_dormant_customers",
    f"""WITH pool AS (
        SELECT c_custkey, c_nationkey, {_cents('c_acctbal')} AS bal_c
        FROM customer WHERE c_nationkey IN (1, 3, 5, 7)),
    stat AS (SELECT SUM(bal_c) AS s, COUNT(*) AS n FROM pool WHERE bal_c > 0)
    SELECT c_nationkey, COUNT(*) AS numcust,
           CAST(SUM(bal_c) AS DOUBLE) / 100.0 AS totacctbal
    FROM pool, stat
    WHERE CAST(bal_c AS HUGEINT) * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_nationkey""",
)
def q22_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (phone prefixes -> nation keys; 'no orders' -> 'no
    orders since 2000', since every synthetic customer has some order).
    The above-average test is exact: bal > avg(bal) rewritten as
    bal*n > sum(bal), evaluated in DECIMAL(38,0) on the Spark side and
    HUGEINT on the oracle side (the q11 discipline: Spark BIGINT*BIGINT
    wraps silently once cents x customer-count crosses ~9e18 — a
    100 TB-corpus magnitude — while DuckDB raises Out of Range there
    rather than widening, so the oracle needs its own explicit HUGEINT
    cast; r13 ADVICE 1). The scalar aggregate is a broadcast singleton;
    the dormancy test is a left-anti join against date-filtered
    orders."""
    pool = (load_table(spark, sf_dir, "customer")
            .where(F.col("c_nationkey").isin(1, 3, 5, 7))
            .select("c_custkey", "c_nationkey",
                    F.expr(_cents("c_acctbal")).alias("bal_c")))
    stat = (pool.where(F.col("bal_c") > 0)
            .agg(F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n")))
    recent = (load_table(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") >= _ts("2000-01-01"))
              .select("o_custkey"))
    dec = "decimal(38,0)"
    return (pool.crossJoin(F.broadcast(stat))
            .where(F.col("bal_c").cast(dec) * F.col("n")
                   > F.col("s").cast(dec))
            .join(recent, pool.c_custkey == recent.o_custkey, "left_anti")
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 (F.sum("bal_c").cast("double") / 100.0).alias("totacctbal")))


#: Q2 stand-in part filter (p_size spans 1..50 uniformly in the synthetic
#: data; five sizes keep ~10% of parts at every SF — same role as Q2's
#: "p_size = 15 AND p_type LIKE '%BRASS'")
_Q2_SIZES = (5, 15, 25, 35, 45)
_Q2_REGION = "EUROPE"

#: Q11 stand-in nation group (synthetic nations are NATION_0..24; four
#: nations ~= 16% of suppliers — Q11's single GERMANY is 4% of a 25-nation
#: uniform, but one synthetic nation is empty at sf0.001 where the
#: parity tests run, so a small group keeps every SF non-degenerate)
_Q11_NATIONS = ("NATION_3", "NATION_7", "NATION_11", "NATION_19")

_Q2_ORACLE = f"""WITH supply AS (
    SELECT l_partkey, l_suppkey,
           MIN({_cents('l_extendedprice')}) AS supplycost_cents
    FROM lineitem GROUP BY l_partkey, l_suppkey),
eu AS (
    SELECT s_suppkey, s_name, s_acctbal, n_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
                  JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = '{_Q2_REGION}'),
sr AS (
    SELECT l_partkey, supplycost_cents, s_name, s_acctbal, n_name,
           MIN(supplycost_cents) OVER (PARTITION BY l_partkey) AS min_cost
    FROM supply JOIN eu ON l_suppkey = s_suppkey)
SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, p_type,
       supplycost_cents
FROM sr JOIN part ON l_partkey = p_partkey
WHERE supplycost_cents = min_cost AND p_size IN {_Q2_SIZES}
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"""


@register("q2_min_cost_supplier", _Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — min-cost supplier per part within a region
    (reference has no analytics; this is the engine's batch-analytics
    surface, see the module docstring). partsupp's supplycost
    is stood in by the cheapest observed shipment charge per (part,
    supplier): MIN(cents(l_extendedprice)) over lineitem.

    Plan shape (the part that must survive 100 TB): both the region
    filter and the part filter COMMUTE with the per-(part, supplier)
    MIN — dropping a supplier or a part never changes a retained pair's
    own minimum — so they prune the fact scan BEFORE the aggregate as
    broadcast semi joins (measured 8.70 -> 2.18 s min-of-3 at sf1: the
    (partkey, suppkey) aggregate and the window Exchange shrink ~50x). ONE
    lineitem scan pruned to 3 columns, map-side partial MIN, the
    correlated per-part MIN as a single window over the partkey
    Exchange (no self-join second shuffle), supplier details re-joined
    broadcast AFTER the aggregate, final ORDER BY+LIMIT a
    TakeOrderedAndProject. Exactness: the cost is BIGINT cents
    end-to-end, so the min-equality filter and the oracle agree
    bit-for-bit at any parallelism."""
    nat = load_table(spark, sf_dir, "nation")
    reg = (load_table(spark, sf_dir, "region")
           .where(F.col("r_name") == _Q2_REGION))
    eu_sup = (load_table(spark, sf_dir, "supplier")
              .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
              .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
              .select("s_suppkey", "s_name", "s_acctbal", "n_name"))
    part = (load_table(spark, sf_dir, "part")
            .where(F.col("p_size").isin(*_Q2_SIZES))
            .select("p_partkey", "p_brand", "p_type"))
    li = (load_table(spark, sf_dir, "lineitem")
          .select("l_partkey", "l_suppkey", "l_extendedprice")
          .join(F.broadcast(eu_sup.select("s_suppkey")),
                F.col("l_suppkey") == F.col("s_suppkey"), "semi")
          .join(F.broadcast(part.select("p_partkey")),
                F.col("l_partkey") == F.col("p_partkey"), "semi"))
    supply = (li.groupBy("l_partkey", "l_suppkey")
              .agg(F.min(F.expr(_cents("l_extendedprice")))
                   .alias("supplycost_cents")))
    w = Window.partitionBy("l_partkey")
    sr = (supply.withColumn("min_cost", F.min("supplycost_cents").over(w))
          .where(F.col("supplycost_cents") == F.col("min_cost"))
          .join(F.broadcast(eu_sup), F.col("l_suppkey") == eu_sup.s_suppkey))
    return (sr.join(F.broadcast(part), sr.l_partkey == part.p_partkey)
            .select("s_acctbal", "s_name", "n_name", "p_partkey",
                    "p_brand", "p_type", "supplycost_cents")
            .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                     "p_partkey")
            .limit(100))


_q11_nations_sql = ", ".join(f"'{n}'" for n in _Q11_NATIONS)
_Q11_ORACLE = f"""WITH v AS (
    SELECT l_partkey AS p_partkey,
           CAST(SUM({_cents('l_extendedprice')}) AS BIGINT) AS value_cents
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ({_q11_nations_sql})
    GROUP BY l_partkey),
t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS total_cents,
             COUNT(*) AS n_parts FROM v)
SELECT p_partkey, value_cents
FROM v, t
WHERE CAST(value_cents AS HUGEINT) * n_parts
      > 2 * CAST(total_cents AS HUGEINT)
ORDER BY value_cents DESC, p_partkey"""


@register("q11_important_supply", _Q11_ORACLE)
def q11_important_supply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — parts whose supply value from one nation
    group's suppliers exceeds a scalar threshold over the grand total.
    partsupp's supplycost*availqty is stood in by the observed shipped
    value (SUM of cents(l_extendedprice)); Q11's fixed fraction is
    replaced by a scale-free test — value > 2x the mean per-part share
    (value_cents * n_parts > 2 * total_cents) — because a constant
    fraction empties the result as the part count grows with SF (TPC-H
    itself scales the fraction by 1/SF).

    Plan shape: nation-group suppliers are a broadcast (filtered dim,
    ~16% of suppliers — small enough to broadcast at bench SFs, and the
    join key is suppkey so AQE can fall back to shuffle when it grows);
    ONE lineitem scan pruned to 3 columns feeds a map-side partial SUM
    into the partkey aggregate; the scalar (total, n_parts) is a
    single-row aggregate broadcast back via crossJoin — the registry's
    standing scalar-total pattern — and its branch resolves to a
    ReusedExchange of the partkey aggregate at runtime (verified on the
    AQE final plan), so lineitem is scanned ONCE. Exactness: BIGINT
    cents end-to-end; the cross-multiplied comparison is evaluated in
    DECIMAL(38,0) on the Spark side (BIGINT*BIGINT would silently wrap
    near ~9e18 — a 100 TB corpus's total_cents * n_parts crosses that)
    and in HUGEINT on the oracle side (DuckDB does NOT widen
    BIGINT*BIGINT — it raises an Out of Range error on overflow; only
    SUM widens to HUGEINT — so the explicit cast is what keeps the
    oracle non-erroring AND exact at those magnitudes.)
    The cast is scalar-side (post-aggregate), so the plan shape is
    untouched."""
    nat = (load_table(spark, sf_dir, "nation")
           .where(F.col("n_name").isin(*_Q11_NATIONS)))
    sup = (load_table(spark, sf_dir, "supplier")
           .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
           .select("s_suppkey"))
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice")
    v = (li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
         .groupBy("l_partkey")
         .agg(F.sum(F.expr(_cents("l_extendedprice"))).alias("value_cents")))
    totals = v.agg(F.sum("value_cents").alias("total_cents"),
                   F.count(F.lit(1)).alias("n_parts"))
    dec = "decimal(38,0)"
    return (v.crossJoin(F.broadcast(totals))
            .where(F.col("value_cents").cast(dec) * F.col("n_parts")
                   > 2 * F.col("total_cents").cast(dec))
            .select(F.col("l_partkey").alias("p_partkey"), "value_cents")
            .orderBy(F.col("value_cents").desc(), "p_partkey"))


