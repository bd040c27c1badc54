package graft.oracle

/** DuckDB oracles of the relational family (`RelationalOps`): the
  * TPC-H-flavoured queries, grouping sets, pivots and window analytics.
  * Monetary sums are exact decimals cast to DOUBLE once, as on the Spark
  * side.
  */
object RelationalOracles {

  /** The exact sum of a money column: DECIMAL(18,2) terms, one cast to
    * DOUBLE after aggregation. */
  private def dsum(c: String): String = s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE)"

  /** The exact revenue term of a lineitem row, price · (1 − discount)
    * (`RelationalOps.revD`). */
  private val revD: String =
    "CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"

  /** The exact revenue of a group, as DOUBLE. */
  private val revenue: String = s"CAST(sum($revD) AS DOUBLE)"

  val rollingRevenueOracle: String =
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_date_us,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    AS rolling_spend,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
      |    / CAST(count(*) OVER w AS DOUBLE) AS rolling_avg
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)""".stripMargin

  val windowAnalyticsOracle: String =
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_date_us,
      |  lag(o_totalprice, 1) OVER w AS prev_price,
      |  lead(o_totalprice, 1) OVER w AS next_price,
      |  first_value(o_totalprice) OVER w AS first_price,
      |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      |  percent_rank() OVER w AS pr
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  val supplierCountByBrandOracle: String =
    """SELECT p_brand,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
      |  count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1""".stripMargin

  val smallQuantityRevenueOracle: String =
    s"""SELECT ${dsum("l_extendedprice")} / 7.0
      |         AS avg_yearly,
      |       count(*) AS n_lines
      |FROM lineitem, part
      |WHERE p_partkey = l_partkey AND p_brand = 'Brand#23'
      |  AND l_quantity < (SELECT 0.2 * avg(l_quantity)
      |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin

  val customersWithoutOrdersOracle: String =
    """SELECT c_custkey, c_name, CAST(c_nationkey AS BIGINT) AS c_nationkey
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)""".stripMargin

  /** Item count and quantity per (flag, status) grouping set of
    * `groupBy`, with the grouping level `lvl`. */
  private def pricingGrouped(groupBy: String): String =
    s"""SELECT l_returnflag, l_linestatus, count(*) AS n_items,
      |  ${dsum("l_quantity")} AS sum_qty,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS lvl
      |FROM lineitem
      |GROUP BY $groupBy""".stripMargin

  val pricingRollupOracle: String = pricingGrouped("ROLLUP (l_returnflag, l_linestatus)")

  val pricingCubeOracle: String = pricingGrouped("CUBE (l_returnflag, l_linestatus)")

  val pricingGroupingSetsOracle: String =
    pricingGrouped("GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus))")

  val returnFlagPivotOracle: String =
    """SELECT l_linestatus,
      |  CAST(count(*) FILTER (l_returnflag = 'A') AS BIGINT) AS n_a,
      |  CAST(count(*) FILTER (l_returnflag = 'N') AS BIGINT) AS n_n,
      |  CAST(count(*) FILTER (l_returnflag = 'R') AS BIGINT) AS n_r
      |FROM lineitem GROUP BY 1""".stripMargin

  val runningTotalsOracle: String =
    """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_date_us,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    AS running_spend,
      |  count(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS order_seq
      |FROM orders""".stripMargin

  val revenueChangeOracle: String =
    """SELECT
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |       CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  val shippingPriorityOracle: String =
    s"""SELECT l_orderkey, epoch_us(o_orderdate) AS order_date_us,
      |  $revenue AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  val prioritiesWithReturnsOracle: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY 1""".stripMargin

  val topReturnCustomersOracle: String =
    s"""WITH rev AS (
      |  SELECT n_name, c_custkey,
      |    $revenue AS revenue
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON l_orderkey = o_orderkey AND l_returnflag = 'R'
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2)
      |${DuckSql.topK("n_name, c_custkey, revenue, rank", "rev", "n_name",
                     "revenue DESC, c_custkey ASC", 3, "rank")}""".stripMargin

  val localSupplierRevenueOracle: String =
    s"""SELECT n_name,
      |  $revenue AS revenue
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |JOIN lineitem ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |GROUP BY 1""".stripMargin

  val bigOrdersOracle: String =
    s"""SELECT o_orderkey, o_custkey,
      |  ${dsum("l_quantity")} AS total_qty
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY 1, 2
      |HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300""".stripMargin

  val pricingSummaryOracle: String =
    s"""SELECT l_returnflag, l_linestatus,
      |  ${dsum("l_quantity")} AS sum_qty,
      |  ${dsum("l_extendedprice")} AS sum_base_price,
      |  $revenue AS sum_disc_price,
      |  count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY 1, 2""".stripMargin

  val ordersByNationOracle: String =
    s"""SELECT n_name, count(*) AS n_orders,
      |  ${dsum("o_totalprice")} AS total_price
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY 1""".stripMargin

  val topOrdersPerPriorityOracle: String =
    """SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
      |  FROM orders)
      |WHERE rank <= 3""".stripMargin

  val volumeShippingOracle: String =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  $revenue AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |WHERE n1.n_name <> n2.n_name
      |GROUP BY 1, 2, 3""".stripMargin

  val productProfitOracle: String =
    s"""SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
      |  CAST(sum($revD
      |         - CAST(p_retailprice AS DECIMAL(18,2)) *
      |           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN supplier ON l_suppkey = s_suppkey
      |JOIN nation ON s_nationkey = n_nationkey
      |WHERE p_name LIKE '%widget%'
      |GROUP BY 1, 2""".stripMargin

  val orderCountDistributionOracle: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer
      |  LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority NOT LIKE '1%') o
      |    ON c_custkey = o.o_custkey
      |  GROUP BY 1)
      |GROUP BY 1""".stripMargin

  val promoRevenueOracle: String =
    s"""SELECT CAST(year(l_shipdate) AS BIGINT) AS l_year,
      |  (100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
      |       THEN $revD
      |       ELSE 0 END) AS DOUBLE))
      |    / $revenue AS promo_share,
      |  $revenue AS total_revenue
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY 1""".stripMargin

  val topSupplierOracle: String =
    s"""WITH rev AS (
      |  SELECT l_suppkey, sum($revD) AS rev_d
      |  FROM lineitem GROUP BY 1)
      |SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE rev_d = (SELECT max(rev_d) FROM rev)""".stripMargin

  def marketShareOracle(targetNation: String = "NATION_1"): String =
    s"""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       |  CAST(sum(CASE WHEN n1.n_name = '$targetNation'
       |       THEN $revD
       |       ELSE 0 END) AS DOUBLE)
       |    / $revenue AS mkt_share
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |GROUP BY 1""".stripMargin

  val salesOpportunityOracle: String =
    s"""SELECT n_name, count(*) AS numcust,
      |  ${dsum("c_acctbal")} AS totacctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE CAST(c_acctbal AS DOUBLE) >
      |    (SELECT ${dsum("c_acctbal")}
      |            / CAST(count(*) AS DOUBLE)
      |     FROM customer WHERE c_acctbal > 0)
      |  AND c_custkey NOT IN
      |    (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
      |GROUP BY 1""".stripMargin

  val discountedRevenueOracle: String =
    s"""SELECT
      |  $revenue AS revenue,
      |  count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#7' AND p_size BETWEEN 1 AND 25
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 50
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  val waitingSuppliersOracle: String =
    """SELECT s_name, count(*) AS numwait
      |FROM supplier, lineitem l1, orders
      |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      |  AND o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 730 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND o3.o_orderkey = l3.l_orderkey
      |                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 730 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name ASC
      |LIMIT 20""".stripMargin

  val minCostSupplierOracle: String =
    """SELECT p_partkey, p_name, s_suppkey, s_name,
      |       l_extendedprice AS min_price
      |FROM part, lineitem, supplier
      |WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      |  AND p_size <= 3
      |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
      |                         FROM lineitem l2
      |                         WHERE l2.l_partkey = p_partkey)""".stripMargin

  val importantNationBalanceOracle: String =
    s"""SELECT n_name,
      |  ${dsum("s_acctbal")} AS total_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name
      |HAVING sum(CAST(s_acctbal AS DECIMAL(18,2))) >
      |       (SELECT sum(CAST(s_acctbal AS DECIMAL(18,2))) * 0.04
      |        FROM supplier)""".stripMargin

  val priorityLineClassesOracle: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_returnflag""".stripMargin

  val promoSuppliersOracle: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |    SELECT l_suppkey FROM lineitem
      |    WHERE l_partkey IN (SELECT p_partkey FROM part
      |                        WHERE p_name LIKE 'red%')
      |      AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    GROUP BY l_suppkey, l_partkey
      |    HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 90)
      |  AND s_nationkey IN (SELECT n_nationkey FROM nation
      |                      WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))""".stripMargin

  val rangeJoinOracle: String =
    """SELECT o_orderkey, o_totalprice, tier
      |FROM orders
      |JOIN (SELECT i AS tier, i * 25000.0 AS lo, (i + 1) * 25000.0 AS hi
      |      FROM range(0, 20) t(i))
      |  ON o_totalprice >= lo AND o_totalprice < hi""".stripMargin
}
