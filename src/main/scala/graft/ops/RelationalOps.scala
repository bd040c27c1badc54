package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational queries over the TPC-H-ish tables — the engine's batch
  * analytics surface and the bench workhorses. Monetary doubles are cast
  * to DECIMAL(18,2) BEFORE aggregation: decimal sums are exact and
  * partition-order independent (double sums are not), which is what makes
  * the DuckDB hash compare — and any 1000-executor rerun — deterministic.
  *
  * Final DECIMAL outputs are cast to DOUBLE on BOTH sides: the compare
  * harness reads Spark parquet via pyarrow (preserving Decimal repr, e.g.
  * `137291.00`) but the oracle via fetchdf (float, `137291.0`), so a
  * trailing-zero decimal hash-mismatches despite identical values. One
  * exact-decimal→double conversion after the exact aggregation is
  * deterministic in both engines while the unscaled value fits in 2^53
  * (both correctly round the same rational), and keeps the sums
  * partition-order independent.
  *
  * Scale notes per query:
  *  - [[pricingSummary]]: scan→partial agg→4-row exchange; predicate and
  *    the 7-column projection push into the parquet scan.
  *  - [[ordersByNation]]: orders⋈customer shuffles on custkey (both sides
  *    big at 100 TB — co-partition/bucket by custkey in a real catalog);
  *    nation is 25 rows and MUST broadcast.
  *  - [[topOrdersPerPriority]]: per-priority windows — never a global
  *    orderBy, each partition sorts locally.
  */
object RelationalOps {

  /** TPC-H Q1-flavored pricing summary over lineitem. */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(expr("l_shipdate <= TIMESTAMP_NTZ'1998-09-01 00:00:00'"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        // price×(1-disc) at scale 4 is EXACT (no per-row rounding — Spark
        // rounds half-up, DuckDB half-even; never round before summing).
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))

  /** Orders per nation: fact⋈fact shuffle join + broadcast dim join. */
  def ordersByNation(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total_price"))

  /** Top-3 orders by price per priority class (partitioned window top-k). */
  def topOrdersPerPriority(orders: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
  }

  /** TPC-H Q5-flavored: revenue by nation for one region, customer and
    * supplier co-national. Three fact⋈fact shuffles (custkey, orderkey,
    * suppkey) with nation/region broadcast on top; the region filter
    * prunes the broadcast side before it fans out.
    */
  def localSupplierRevenue(customer: DataFrame, orders: DataFrame,
                           lineitem: DataFrame, supplier: DataFrame,
                           nation: DataFrame, region: DataFrame,
                           regionName: String = "ASIA"): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("double").as("revenue"))

  /** TPC-H Q18-flavored: orders whose total quantity exceeds a threshold
    * (aggregate → having; partial aggregation bounds the shuffle).
    */
  def bigOrders(orders: DataFrame, lineitem: DataFrame, minQty: Int = 300): DataFrame =
    orders
      .join(lineitem, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_custkey")
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"))
      .filter(col("total_qty") > minQty)
      .select(col("o_orderkey"), col("o_custkey"),
        col("total_qty").cast("double").as("total_qty"))

  /** TPC-H Q10-flavored: top returned-revenue customers per nation —
    * join chain + per-nation windowed top-k (partitioned, never global).
    */
  def topReturnCustomers(customer: DataFrame, orders: DataFrame,
                         lineitem: DataFrame, nation: DataFrame,
                         k: Int = 3): DataFrame = {
    val revenue = customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem.filter(col("l_returnflag") === "R"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name", "c_custkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("double").as("revenue"))
    val w = Window.partitionBy("n_name")
      .orderBy(col("revenue").desc, col("c_custkey").asc)
    revenue.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("n_name", "c_custkey", "revenue", "rank")
  }

  /** TPC-H Q6-flavored: one filtered scan → one scalar aggregate. The
    * showcase for predicate pushdown: all three predicates and the
    * 3-column projection reach the parquet reader (`PushedFilters` in the
    * plan), so at 100 TB the scan touches only matching row groups.
    */
  def revenueChange(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(expr("l_shipdate >= TIMESTAMP_NTZ'1996-01-01 00:00:00'") &&
        expr("l_shipdate < TIMESTAMP_NTZ'1997-01-01 00:00:00'") &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  /** TPC-H Q3-flavored shipping priority: segment-filtered customer ⋈
    * orders ⋈ lineitem, revenue per order, GLOBAL top-k. The top-k is
    * orderBy+limit — Spark plans TakeOrderedAndProject (per-partition
    * heap of k, merge on driver), never a global sort: the scalable
    * global-top-k at any data size.
    */
  def shippingPriority(customer: DataFrame, orders: DataFrame,
                       lineitem: DataFrame, segment: String = "BUILDING",
                       k: Int = 10): DataFrame =
    customer.filter(col("c_mktsegment") === segment)
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(expr("o_orderdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'"))
      .join(lineitem.filter(
        expr("l_shipdate > TIMESTAMP_NTZ'1998-01-01 00:00:00'")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("double").as("revenue"))
      .select(col("l_orderkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(k)

  /** TPC-H Q4-flavored: orders with at least one returned line — a LEFT
    * SEMI join (existence, no fan-out: each order emits ≤1 row no matter
    * how many lines match, and the probe side short-circuits on first
    * hit). The distinct join shape the rest of the surface lacks.
    */
  def prioritiesWithReturns(orders: DataFrame, lineitem: DataFrame): DataFrame =
    orders
      .join(lineitem.filter(col("l_returnflag") === "R"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))

  /** LEFT ANTI join — the complement of [[prioritiesWithReturns]]:
    * customers with no orders at all. Same no-fan-out property as semi
    * (each left row emits ≤1 time); completes the join-type surface
    * (inner/broadcast/shuffle/semi/anti/asof/range/salted).
    */
  def customersWithoutOrders(customer: DataFrame, orders: DataFrame,
                             minPrice: Double = 300000.0): DataFrame =
    customer
      .join(orders.filter(col("o_totalprice") > minPrice),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey").cast("long").as("c_nationkey"))

  /** ROLLUP — hierarchical multi-level aggregate (per-group, per-flag
    * subtotal, grand total) in ONE pass: Spark plans an Expand (3 rows
    * per input under rollup id) feeding a single partial-aggregated
    * shuffle — at 100 TB this beats 3 separate scans+aggs by 3× scan
    * volume. NULL group keys mark subtotal rows, identically in both
    * engines; grouping level disambiguates a real NULL from a rollup
    * NULL.
    */
  def pricingRollup(lineitem: DataFrame): DataFrame =
    lineitem
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().cast("long").as("lvl"))

  /** CUBE — the full grouping-sets lattice over (flag, status): per-pair,
    * per-flag, per-status, and grand total in ONE pass. Completes the
    * Expand-operator family next to ROLLUP (hierarchical prefix sets) and
    * PIVOT (wide conditional aggs): Spark plans a single Expand emitting
    * 4 grouping-set rows per input into one partial-aggregated shuffle —
    * at 100 TB one scan instead of 4, and the Expand inflation happens
    * AFTER scan-side column pruning (2 narrow columns, not the row).
    * grouping_id disambiguates a real NULL key from a subtotal NULL.
    */
  def pricingCube(lineitem: DataFrame): DataFrame =
    lineitem
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().cast("long").as("lvl"))

  /** Arbitrary GROUPING SETS — the non-lattice case neither ROLLUP nor
    * CUBE can express: detail rows at (flag, status) plus per-status
    * subtotals only (no per-flag level, no grand total). Still ONE
    * Expand pass + one aggregate: each input row is replicated once per
    * grouping set (2× here) before a single shuffle — the same plan
    * family and the same 100 TB shape as the cube, with replication
    * bounded by |sets|, not 2^dims.
    */
  def pricingGroupingSets(lineitem: DataFrame): DataFrame =
    lineitem
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")), Seq(col("l_linestatus"))),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        grouping_id().cast("long").as("lvl"))

  /** PIVOT — wide conditional aggregation: one row per linestatus, one
    * count column per return flag. The flag domain is declared (A/N/R),
    * so Spark skips the extra distinct-values job and plans a single
    * groupBy with 3 conditional partial aggregates — one shuffle of
    * (key, 3 counts), no per-value scans.
    */
  def returnFlagPivot(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      // An empty (status, flag) cell is a 0-count, not absent: Spark's
      // pivot yields NULL there, the conditional-agg oracle yields 0.
      .select(col("l_linestatus"),
        coalesce(col("A"), lit(0L)).as("n_a"),
        coalesce(col("N"), lit(0L)).as("n_n"),
        coalesce(col("R"), lit(0L)).as("n_r"))

  /** Running (cumulative) revenue per customer over order time — the
    * prefix-aggregation window frame (UNBOUNDED PRECEDING..CURRENT ROW).
    * Exact decimal running sum (partition-order independent), cast to
    * double per output row; per-customer partitions keep every sort
    * local.
    */
  def runningTotals(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("running_spend"),
      count(lit(1)).over(w).as("order_seq"))
  }

  /** Moving-frame aggregates: 4-order rolling spend (sum + mean) per
    * customer — the bounded sliding frame (ROWS BETWEEN 3 PRECEDING AND
    * CURRENT ROW) that complements [[runningTotals]]' unbounded prefix
    * frame. Exact decimal rolling sums; the mean divides by the frame's
    * actual row count (< 4 at partition heads) — one IEEE division on
    * exact operands. Same one-shuffle-per-customer shape as every
    * window here.
    */
  def rollingRevenue(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(-3, Window.currentRow)
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"),
      sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
        .cast("double").as("rolling_spend"),
      (sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double") /
        count(lit(1)).over(w).cast("double")).as("rolling_avg"))
  }

  /** The analytic window-function family over per-customer order
    * history: offset functions (lag/lead), distribution functions
    * (percent_rank — exact: (rank-1)/(n-1) on integers, one IEEE
    * division), bucketing (ntile), and frame-anchored first_value. One
    * per-customer partitioned window — local sorts, no global ordering
    * anywhere; at 100 TB this is one shuffle on the partition key and
    * per-partition sort, the same shape as every other windowed query.
    */
  def windowAnalytics(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      lead(col("o_totalprice"), 1).over(w).as("next_price"),
      first(col("o_totalprice")).over(w).as("first_price"),
      ntile(4).over(w).cast("long").as("quartile"),
      percent_rank().over(w).as("pr"))
  }

  /** TPC-H Q16-flavored: DISTINCT aggregation — suppliers per brand.
    * Spark plans count(DISTINCT) as a two-phase aggregate (partial
    * distinct on (brand, suppkey), then count) — the shuffle carries
    * distinct pairs, never raw lines; no driver-side distinct.
    */
  def supplierCountByBrand(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(part, col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q17-flavored: CORRELATED SCALAR SUBQUERY (per-part average
    * quantity threshold), written in SQL — the point is Catalyst's
    * decorrelation: the optimizer rewrites the per-row subquery into one
    * aggregate + join, so it executes as two scans + a shuffle, never a
    * per-row re-scan (N+1 at 100 TB). Division by 7.0 is a single IEEE
    * op on an exact decimal sum — bitwise-stable.
    */
  def smallQuantityRevenue(spark: org.apache.spark.sql.SparkSession,
                           lineitem: DataFrame, part: DataFrame,
                           brand: String = "Brand#23"): DataFrame = {
    lineitem.createOrReplaceTempView("graft_q17_lineitem")
    part.createOrReplaceTempView("graft_q17_part")
    spark.sql(
      s"""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
         |         AS avg_yearly,
         |       count(*) AS n_lines
         |FROM graft_q17_lineitem, graft_q17_part
         |WHERE p_partkey = l_partkey AND p_brand = '$brand'
         |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
         |                    FROM graft_q17_lineitem l2
         |                    WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  // ---- DuckDB oracles ----

  /** Exact revenue term shared by the Q7/Q14/Q19 family. */
  private def revD: Column =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))

  /** TPC-H Q7-flavored volume shipping: revenue between DISTINCT
    * (supplier nation, customer nation) pairs per ship year. Two
    * broadcast nation dims under two aliases; the fact chain shuffles on
    * its join keys once each; final agg groups ≤ |nations|²·years rows.
    */
  def volumeShipping(lineitem: DataFrame, orders: DataFrame,
                     customer: DataFrame, supplier: DataFrame,
                     nation: DataFrame): DataFrame = {
    val n1 = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = nation.select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(sum(revD).cast("double").as("revenue"))
  }

  /** TPC-H Q9-flavored product profit: per supplier-nation per order
    * year, profit = revenue − cost, with the part filter driving the
    * whole chain (no partsupp table in this schema, so retailprice ×
    * quantity stands in for supplycost × quantity — the identical plan
    * shape: a five-table join with an arithmetic aggregate over two
    * tables' columns). The filtered part dim broadcasts; the fact chain
    * shuffles once per equi-join; the final agg groups ≤ |nations|·years
    * rows. All money math in exact DECIMAL, one cast to double on output.
    */
  def productProfit(lineitem: DataFrame, orders: DataFrame, part: DataFrame,
                    supplier: DataFrame, nation: DataFrame): DataFrame = {
    val cost = col("p_retailprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(18,2)")
    lineitem
      .join(broadcast(part.filter(col("p_name").contains("widget"))
        .select("p_partkey", "p_retailprice")), col("l_partkey") === col("p_partkey"))
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(revD - cost).cast("double").as("profit"))
  }

  /** TPC-H Q13-flavored: distribution of per-customer order counts,
    * orders filtered by an exclusion predicate BEFORE a LEFT join so
    * order-less customers land in the 0 bucket. Double aggregation: the
    * first bounds its shuffle by customers, the second by distinct
    * counts.
    */
  def orderCountDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders.filter(!col("o_orderpriority").startsWith("1")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q14-flavored promo revenue share per ship year: conditional
    * aggregation over one broadcast part join; the share is one fixed
    * IEEE sequence over two exact decimal sums.
    */
  def promoRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(
        sum(when(col("p_type") === "PROMO", revD).otherwise(lit(0))).as("promo"),
        sum(revD).as("total"))
      .select(col("l_year"),
        ((lit(100.0) * col("promo").cast("double")) / col("total").cast("double"))
          .as("promo_share"),
        col("total").cast("double").as("total_revenue"))

  /** TPC-H Q15-flavored top supplier(s): per-supplier revenue, then the
    * suppliers matching the global max. The max side is a 1-row
    * broadcast; equality compares EXACT decimals (a double max could
    * tie-break differently across engines).
    */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame): DataFrame = {
    val rev = lineitem.groupBy(col("l_suppkey"))
      .agg(sum(revD).as("rev_d"))
    val mx = rev.agg(max(col("rev_d")).as("mx"))
    rev.join(broadcast(mx), col("rev_d") === col("mx"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("rev_d").cast("double").as("total_revenue"))
  }

  /** TPC-H Q8-flavored market share: the share of one supplier nation in
    * total cross-nation revenue per order year. Same join graph as
    * [[volumeShipping]]; the share is a conditional-agg ratio — two
    * exact decimal sums, one IEEE division.
    */
  def marketShare(lineitem: DataFrame, orders: DataFrame,
                  customer: DataFrame, supplier: DataFrame,
                  nation: DataFrame, targetNation: String = "NATION_1"): DataFrame = {
    val n1 = nation.select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(supplier, col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("supp_nation") === targetNation, revD).otherwise(lit(0)))
          .as("target"),
        sum(revD).as("total"))
      .select(col("o_year"),
        (col("target").cast("double") / col("total").cast("double"))
          .as("mkt_share"))
  }

  /** TPC-H Q22-flavored sales opportunity: customers with above-average
    * positive balance and no URGENT orders (every synthetic customer has
    * SOME order, so the literal Q22 predicate would select nothing),
    * counted per nation. The average is a 1-row broadcast scalar (exact
    * decimal sum / count, one division each side); the exclusion is a
    * LEFT ANTI join — never a NOT IN subquery, which would nested-loop
    * at scale.
    */
  def salesOpportunity(customer: DataFrame, orders: DataFrame,
                       nation: DataFrame): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1)).cast("double")).as("avg_bal"))
    customer
      .join(broadcast(avgBal), col("c_acctbal").cast("double") > col("avg_bal"))
      .join(orders.filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey"), col("c_custkey") === col("o_custkey"),
        "left_anti")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("totacctbal"))
  }

  /** TPC-H Q19-flavored discounted revenue: OR-of-ANDs predicate over
    * brand/size/quantity after a broadcast part join — the disjunction
    * stays inside one codegen'd filter; the common `l_partkey =
    * p_partkey` conjunct is the join key, so no fallback to a nested
    * loop.
    */
  def discountedRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part.select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 15) &&
          col("l_quantity").between(1, 11)) ||
        (col("p_brand") === "Brand#7" && col("p_size").between(1, 25) &&
          col("l_quantity").between(10, 20)) ||
        (col("p_brand") === "Brand#13" && col("p_size").between(1, 50) &&
          col("l_quantity").between(20, 30)))
      .agg(sum(revD).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))

  // ---- Catalyst decorrelation shapes (round 5) --------------------------
  // The synthetic schema lacks partsupp/l_shipmode/l_commitdate, so these
  // carry the TPC-H Q21/Q2/Q11/Q12/Q20 *plan shapes* — the decorrelation
  // families a real analytics user hits weekly — re-expressed over the
  // columns that exist. Written in SQL on purpose: the point is what
  // Catalyst does to the subqueries (semi/anti joins, decorrelated
  // aggregates), asserted in Round5AdditionsSpec.

  /** TPC-H Q21-shape: multi-correlated EXISTS + NOT EXISTS against the
    * same fact table. "Late" is l_shipdate > o_orderdate + 730 days (the
    * schema has no commitdate/receiptdate). Suppliers counted when they
    * shipped late on a finished multi-supplier order and NO other supplier
    * on that order was late. Catalyst plans the EXISTS as a left-semi and
    * the NOT EXISTS as a left-anti, both equi-keyed on l_orderkey — never
    * a per-row re-scan; the non-equi suppkey<>suppkey conjunct rides the
    * join condition.
    */
  def waitingSuppliers(spark: org.apache.spark.sql.SparkSession,
                       supplier: DataFrame, lineitem: DataFrame,
                       orders: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("graft_q21_supplier")
    lineitem.createOrReplaceTempView("graft_q21_lineitem")
    orders.createOrReplaceTempView("graft_q21_orders")
    spark.sql(
      """SELECT s_name, count(*) AS numwait
        |FROM graft_q21_supplier, graft_q21_lineitem l1, graft_q21_orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F'
        |  AND l1.l_shipdate > o_orderdate + INTERVAL 730 DAY
        |  AND EXISTS (SELECT 1 FROM graft_q21_lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM graft_q21_lineitem l3, graft_q21_orders o3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND o3.o_orderkey = l3.l_orderkey
        |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 730 DAY)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name ASC
        |LIMIT 20""".stripMargin)
  }

  /** TPC-H Q2-shape: correlated scalar-MIN subquery in WHERE (min
    * lineitem price per part stands in for min supplycost — no partsupp
    * table). Catalyst decorrelates the per-part min into one aggregate
    * over lineitem joined back on l_partkey — two scans and a shuffle,
    * never an N+1 re-scan. The equality compares raw stored doubles (no
    * accumulation), so it is exact on both engines.
    */
  def minCostSupplier(spark: org.apache.spark.sql.SparkSession,
                      part: DataFrame, lineitem: DataFrame,
                      supplier: DataFrame): DataFrame = {
    part.createOrReplaceTempView("graft_q2_part")
    lineitem.createOrReplaceTempView("graft_q2_lineitem")
    supplier.createOrReplaceTempView("graft_q2_supplier")
    spark.sql(
      """SELECT p_partkey, p_name, s_suppkey, s_name,
        |       l_extendedprice AS min_price
        |FROM graft_q2_part, graft_q2_lineitem, graft_q2_supplier
        |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |  AND p_size <= 3
        |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM graft_q2_lineitem l2
        |                         WHERE l2.l_partkey = p_partkey)""".stripMargin)
  }

  /** TPC-H Q11-shape: HAVING against an uncorrelated GLOBAL scalar
    * (nations holding > 4% of worldwide supplier balance). The scalar
    * subquery computes once and broadcasts into the having-filter; sums
    * are exact DECIMAL on both engines (s_acctbal is a stored double —
    * double accumulation would be order-dependent), converted to double
    * once for output.
    */
  def importantNationBalance(spark: org.apache.spark.sql.SparkSession,
                             supplier: DataFrame, nation: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("graft_q11_supplier")
    nation.createOrReplaceTempView("graft_q11_nation")
    spark.sql(
      """SELECT n_name,
        |  CAST(sum(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM graft_q11_supplier JOIN graft_q11_nation ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING sum(CAST(s_acctbal AS DECIMAL(18,2))) >
        |       (SELECT sum(CAST(s_acctbal AS DECIMAL(18,2))) * 0.04
        |        FROM graft_q11_supplier)""".stripMargin)
  }

  /** TPC-H Q12-shape: CASE-conditional aggregation over an orders ⋈
    * lineitem join (l_returnflag stands in for l_shipmode). One
    * shuffle-join, one hash aggregate; the CASEs fold into the aggregate
    * expressions inside whole-stage codegen.
    */
  def priorityLineClasses(spark: org.apache.spark.sql.SparkSession,
                          orders: DataFrame, lineitem: DataFrame): DataFrame = {
    orders.createOrReplaceTempView("graft_q12_orders")
    lineitem.createOrReplaceTempView("graft_q12_lineitem")
    spark.sql(
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM graft_q12_orders JOIN graft_q12_lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP_NTZ'1998-01-01 00:00:00'
        |GROUP BY l_returnflag""".stripMargin)
  }

  /** TPC-H Q20-shape: nested IN chains (suppliers of heavily-shipped red
    * parts in a nation set). Catalyst turns each IN-subquery into a
    * left-semi join — the plan is a semi-join chain with the HAVING
    * aggregate in the middle, no correlated re-execution anywhere.
    */
  def promoSuppliers(spark: org.apache.spark.sql.SparkSession,
                     supplier: DataFrame, lineitem: DataFrame,
                     part: DataFrame, nation: DataFrame): DataFrame = {
    supplier.createOrReplaceTempView("graft_q20_supplier")
    lineitem.createOrReplaceTempView("graft_q20_lineitem")
    part.createOrReplaceTempView("graft_q20_part")
    nation.createOrReplaceTempView("graft_q20_nation")
    spark.sql(
      """SELECT s_suppkey, s_name
        |FROM graft_q20_supplier
        |WHERE s_suppkey IN (
        |    SELECT l_suppkey FROM graft_q20_lineitem
        |    WHERE l_partkey IN (SELECT p_partkey FROM graft_q20_part
        |                        WHERE p_name LIKE 'red%')
        |      AND l_shipdate >= TIMESTAMP_NTZ'1997-01-01 00:00:00'
        |    GROUP BY l_suppkey, l_partkey
        |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 90)
        |  AND s_nationkey IN (SELECT n_nationkey FROM graft_q20_nation
        |                      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))""".stripMargin)
  }

}
