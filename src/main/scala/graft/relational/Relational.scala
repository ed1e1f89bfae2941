package graft.relational

import graft.{Dist, QueryDef, Tables}
import graft.Exact._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

/** Relational query surface (SURVEY.md §2.12): joins, hash aggregation,
  * windows, set ops, top-k over the harness TPC-H-ish tables.
  *
  * The reference (`/root/reference`) has no relational operators — its only
  * join is the filename-stem sidecar association (`modules/tiling.py:64-75`)
  * and its only aggregates are scalar counters (`modules/other_tasks.py:117`).
  * This module generalizes those to the full Spark relational vocabulary.
  *
  * Scale notes (100 TB design intent, verified on local[32]):
  *  - domain-FIXED dimension tables (`region`: 5 rows, `nation`: 25 at
  *    every SF) are broadcast explicitly; `supplier`/`customer`/`part`
  *    GROW with SF and are left to stats — AQE broadcasts them at bench
  *    scale and shuffle-joins them beyond the threshold, which is the
  *    self-correcting behavior an explicit hint would defeat.
  *  - every aggregate is a partial (map-side) + final hash aggregate; no
  *    query collects to the driver.
  *  - all outputs carry a deterministic total order (unique tie-break) so
  *    the oracle hash-compare is stable.
  */
object Relational {

  /** TPC-H Q1-style pricing summary: full-scan partial agg, 6 aggregates.
    * One shuffle on (l_returnflag, l_linestatus) — 6 groups, trivially
    * skew-free; map-side combine reduces 600k rows to 6 per partition. */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    // fanOut: eight decimal aggregates per row over the one-task scan --
    // at sf1 the 60M-row single-core agg dominated (isolated min-of-3:
    // 9.7 -> 4.1 s; sf0.1 pays the ~0.2 s exchange toll); decimal sums are order-independent, so the
    // round-robin exchange cannot move the result
    val li = graft.Dist.fanOut(Tables.lineitem(spark, dir))
    li.filter(col("l_shipdate") <= lit("2000-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumMoney(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_base_price"),
        narrow(sum(discPrice(col("l_extendedprice"), col("l_discount"))), 4).as("sum_disc_price"),
        narrow(sum(charge(col("l_extendedprice"), col("l_discount"), col("l_tax"))), 6).as("sum_charge"),
        (sum(dec(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
        (sum(dec(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
        (sum(rate(col("l_discount"))).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummarySql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) AS sum_base_price,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS sum_disc_price,
      |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4))) AS DECIMAL(20,6)) * (1 + CAST(l_tax AS DECIMAL(6,4)))) AS DECIMAL(18,6)) AS DOUBLE) AS sum_charge,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*) AS avg_price,
      |  CAST(SUM(CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Orders rolled up to region/nation: 3-way join with broadcast dims. */
  def revenueByNation(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    o.join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_orders"),
        sumMoney(col("o_totalprice")).as("total_spend"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val revenueByNationSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS DOUBLE) AS total_spend
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name
      |ORDER BY r_name, n_name""".stripMargin

  /** TPC-H Q3-style shipping priority: selective join + agg + top-10. Spark
    * plans the final step as TakeOrderedAndProject (no global sort). */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(narrow(sum(discPrice(col("l_extendedprice"), col("l_discount"))), 4).as("revenue"))
      .select(col("l_orderkey"), col("revenue"), col("o_orderdate"), col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  val shippingPrioritySql: String =
    """SELECT l_orderkey,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
      |  o_orderdate, o_orderpriority
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey
      |LIMIT 10""".stripMargin

  /** Order-priority check via EXISTS (left-semi join, no row duplication). */
  def orderPriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).filter(col("l_returnflag") === "R")
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val orderPrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** TPC-H Q5-style local-supplier volume: 5-way join; the extra
    * c_nationkey = s_nationkey predicate makes the customer/supplier link
    * selective. Region filter is pushed below the joins by Catalyst. */
  def localSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp"))
      .filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA"))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(s, li("l_suppkey") === s("s_suppkey") &&
               c("c_nationkey") === s("s_nationkey"))
      .join(n, s("s_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(narrow(sum(discPrice(col("l_extendedprice"), col("l_discount"))), 4).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val localSupplierVolumeSql: String =
    """SELECT n_name,
      |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  /** TPC-H Q6-style forecast revenue: pure scan+filter+agg, no shuffle
    * beyond the final single-row combine. Filters push to parquet. */
  def forecastRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp"))
      .filter(col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .filter(col("l_discount").between(0.05, 0.07))
      .filter(col("l_quantity") < 24)
      .agg(
        sum(dec(col("l_extendedprice")) * rate(col("l_discount"))).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val forecastRevenueSql: String =
    """SELECT
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4)) * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07
      |  AND l_quantity < 24""".stripMargin

  /** Top-3 parts per brand by revenue: agg then ranking window. The window
    * re-uses the groupBy partitioning on p_brand (25 groups). */
  def topPartsPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val agg = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
    val w = Window.partitionBy(col("p_brand"))
      .orderBy(col("rev_dec").desc, col("p_partkey"))
    agg.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("p_brand"), col("p_partkey"),
        narrow(col("rev_dec"), 4).as("revenue"), col("rnk"))
      .orderBy(col("p_brand"), col("rnk"))
  }

  val topPartsPerBrandSql: String =
    """SELECT p_brand, p_partkey, CAST(CAST(rev_dec AS DECIMAL(18,4)) AS DOUBLE) AS revenue, CAST(rnk AS INT) AS rnk
      |FROM (
      |  SELECT p_brand, p_partkey,
      |    SUM(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) AS rev_dec,
      |    ROW_NUMBER() OVER (PARTITION BY p_brand
      |      ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(14,4)) * (1 - CAST(l_discount AS DECIMAL(6,4)))) DESC, p_partkey) AS rnk
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey
      |) WHERE rnk <= 3
      |ORDER BY p_brand, rnk""".stripMargin

  /** Explicit GROUPING SETS with grouping_id disambiguation — the general
    * form behind rollup (q11) and cube (q29): only the requested
    * combinations expand, one Expand+partial-aggregate pass. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("lineitem_gs")
    // two-level (see lineitemCube): the inner ordinary GROUP BY collapses
    // 600k rows to 6 before the grouping-sets Expand multiplies them
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(grouping_id(l_returnflag, l_linestatus) AS INT) AS gid,
        |  SUM(pn) AS n_items,
        |  CAST(SUM(pq) AS DOUBLE) AS sum_qty
        |FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS pn,
        |        SUM(CAST(l_quantity AS DECIMAL(14,4))) AS pq
        |      FROM lineitem_gs GROUP BY l_returnflag, l_linestatus)
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
  }

  val groupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS INT) AS gid,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** q07's answer via the bounded top-k imperative aggregate instead of
    * the ranking window: the window form sorts every (brand, part) row
    * through the exchange; the aggregate keeps 3-element buffers merged
    * map-side, so the shuffle carries ≤ 3·partitions rows per brand
    * regardless of group size. Same oracle as q07 — identical results,
    * different physical strategy (the 100 TB-preferred one). The revenue
    * sum stays at its natural DECIMAL(32,8) type — no widening cast, so
    * no silent null-on-overflow headroom loss (round-1 used (38,18),
    * leaving only 20 integer digits). */
  def topPartsPerBrandAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val agg = li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(discPrice(col("l_extendedprice"), col("l_discount"))).as("rev_dec"))
    agg.groupBy(col("p_brand"))
      .agg(graft.functions.TopK.decimalTopK(col("rev_dec"), col("p_partkey"), 3).as("top"))
      .select(col("p_brand"), posexplode(col("top")))
      .select(col("p_brand"),
        col("col.id").as("p_partkey"),
        narrow(col("col.score"), 4).as("revenue"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("p_brand"), col("rnk"))
  }

  /** Running per-customer spend: analytic window with a running frame. */
  def runningCustomerSpend(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        sum(dec(col("o_totalprice"))).over(w).cast("double").as("running_spend"))
      .orderBy(col("o_custkey"), col("o_orderdate"), col("o_orderkey"))
  }

  val runningCustomerSpendSql: String =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,4))) OVER (
      |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  /** Set op: customers active in both 1997 and 1998 (INTERSECT). */
  def repeatCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    def activeIn(y: Int) = o
      .filter(year(col("o_orderdate")) === y)
      .select(col("o_custkey"))
    activeIn(1997).intersect(activeIn(1998)).orderBy(col("o_custkey"))
  }

  val repeatCustomersSql: String =
    """SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1997
      |INTERSECT
      |SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1998
      |ORDER BY o_custkey""".stripMargin

  /** Set op: customers who ordered but never had a finished ('F') order. */
  def neverFinishedCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    o.select(col("o_custkey"))
      .except(o.filter(col("o_orderstatus") === "F").select(col("o_custkey")))
      .orderBy(col("o_custkey"))
  }

  val neverFinishedCustomersSql: String =
    """SELECT o_custkey FROM orders
      |EXCEPT
      |SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY o_custkey""".stripMargin

  /** ROLLUP over region/nation: customer counts + exact balance sums.
    * Spark evaluates rollups in a single Expand+HashAggregate pass. */
  def customerRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val n = broadcast(Tables.nation(spark, dir))
    val r = broadcast(Tables.region(spark, dir))
    // two-level rollup (see lineitemCube): ordinary agg to the finest
    // (r_name, n_name) level first, rollup's Expand touches 25 partial
    // rows instead of ×3 the customer table
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("pn"), sum(dec(col("c_acctbal"))).as("pb"))
      .rollup(col("r_name"), col("n_name"))
      .agg(sum(col("pn")).as("n_cust"), sum(col("pb")).cast("double").as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val customerRollupSql: String =
    """SELECT r_name, n_name, COUNT(*) AS n_cust,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(14,4))) AS DOUBLE) AS total_bal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  /** Anti join: customers with no orders since 2000 (lapsed customers). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val customersWithoutOrdersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin

  /** Exact distinct counts (countDistinct → partial-distinct aggregate). */
  def distinctCounts(spark: SparkSession, dir: String): DataFrame = {
    // r13: three countDistincts in ONE aggregate plan an Expand x4 over
    // every fact row before the partial agg (6.1 s at sf1 on exactly
    // this). Per-column branches instead — each a pruned 1-column scan
    // + single-distinct no-Expand aggregate (the q105/q236 shape) —
    // assembled by a 4-row pivot aggregate rather than a scalar
    // crossJoin (no BroadcastNestedLoopJoin to whitelist). Values and
    // output schema unchanged; oracle SQL untouched.
    val li = Tables.lineitem(spark, dir)
    def branch(name: String, v: DataFrame) =
      v.select(lit(name).as("k"), col("v"))
    val parts = branch("n_parts", li.select(col("l_partkey"))
      .agg(countDistinct(col("l_partkey")).as("v")))
    val supps = branch("n_supps", li.select(col("l_suppkey"))
      .agg(countDistinct(col("l_suppkey")).as("v")))
    val orders = branch("n_orders", li.select(col("l_orderkey"))
      .agg(countDistinct(col("l_orderkey")).as("v")))
    val rows = branch("n_rows", li.select(col("l_linenumber"))
      .agg(count(lit(1)).as("v")))
    parts.unionAll(supps).unionAll(orders).unionAll(rows)
      .agg(max(when(col("k") === "n_parts", col("v"))).as("n_parts"),
        max(when(col("k") === "n_supps", col("v"))).as("n_supps"),
        max(when(col("k") === "n_orders", col("v"))).as("n_orders"),
        max(when(col("k") === "n_rows", col("v"))).as("n_rows"))
  }

  val distinctCountsSql: String =
    """SELECT COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(*) AS n_rows
      |FROM lineitem""".stripMargin

  /** Approximate distinct (HLL sketch). Engine-specific sketch => no
    * DuckDB oracle; the driver records a rows-only check. At 100 TB this
    * replaces countDistinct wherever a ~2% error is acceptable (one pass,
    * constant memory per group). */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    li.groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  /** Set operations (SURVEY §2.12, generalizing the reference's merge U1):
    * customer-key sets of two order years combined with UNION / INTERSECT /
    * EXCEPT, summarized per operation.
    *
    * Computed as per-key membership flags from ONE scan + ONE hash-agg
    * shuffle: `union = in_a ∨ in_b`, `intersect = in_a ∧ in_b`,
    * `except = in_a ∧ ¬in_b`. Round 1 used the literal
    * `union`/`intersect`/`except` operators, which re-scanned `orders` six
    * times (each set op reads both sides); the flag form is algebraically
    * identical — a set-membership truth table — and is the shape that
    * scales: at 100 TB the scan dominates, so 1 scan beats 6. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val flags = o.select(col("o_custkey"), year(col("o_orderdate")).as("y"))
      .filter(col("y") === 1996 || col("y") === 1997)
      .groupBy(col("o_custkey"))
      .agg(max(when(col("y") === 1996, 1).otherwise(0)).as("in_a"),
        max(when(col("y") === 1997, 1).otherwise(0)).as("in_b"))
    val tagged = flags.select(col("o_custkey"),
      explode(array_compact(array(
        lit("union"), // every surviving key is in a ∪ b
        when(col("in_a") === 1 && col("in_b") === 1, "intersect"),
        when(col("in_a") === 1 && col("in_b") === 0, "except")))).as("op"))
    tagged.groupBy(col("op"))
      .agg(count(lit(1)).as("n_custkeys"),
        min(col("o_custkey")).as("min_key"),
        max(col("o_custkey")).as("max_key"),
        sum(col("o_custkey")).as("key_sum"))
      .orderBy(col("op"))
  }

  val setOpsSql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1996),
      |b AS (SELECT o_custkey FROM orders WHERE EXTRACT(YEAR FROM o_orderdate) = 1997),
      |ops AS (
      |  SELECT 'union' AS op, o_custkey FROM (SELECT o_custkey FROM a UNION SELECT o_custkey FROM b)
      |  UNION ALL
      |  SELECT 'intersect' AS op, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
      |  UNION ALL
      |  SELECT 'except' AS op, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
      |)
      |SELECT op, COUNT(*) AS n_custkeys, MIN(o_custkey) AS min_key,
      |  MAX(o_custkey) AS max_key, CAST(SUM(o_custkey) AS BIGINT) AS key_sum
      |FROM ops GROUP BY op ORDER BY op""".stripMargin

  /** CUBE over (returnflag, linestatus): all 4 grouping combinations in one
    * Expand+HashAggregate pass — the partial aggregation is map-side, so the
    * shuffle carries one row per (grouping set × group), not per input row. */
  /** Two-level cube: aggregate at the FINEST grouping first (one ordinary
    * hash agg, 600k rows → 6), then cube over the tiny partial frame.
    * `cube` plans an Expand that multiplies every input row by the number
    * of grouping sets BEFORE the partial aggregate — ×4 here, and the
    * whole multiplied stream runs on the scan stage's cores (one task on
    * the single-row-group harness files). count/sum are decomposable, so
    * re-aggregating partials is exact (decimal precision grows 24,4 →
    * 34,4 < 38, no rounding) and the Expand touches 6 rows instead of
    * 600k. Measured 3.6s → sub-second at sf0.1. The same rewrite powers
    * q11/q52. Group keys are non-null in this data, so no data-NULL /
    * subtotal-NULL ambiguity arises at either level. */
  def lineitemCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("pn"),
        sum(dec(col("l_quantity"))).as("pq"),
        sum(dec(col("l_extendedprice"))).as("pp"))
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(sum(col("pn")).as("n_items"),
        sum(col("pq")).cast("double").as("sum_qty"),
        (sum(col("pp")).cast("double") / sum(col("pn"))).as("avg_price"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  val lineitemCubeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(14,4))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) / COUNT(*) AS avg_price
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Exact discrete percentiles (quantile_disc semantics: the value at rank
    * ceil(q·n), no interpolation) per return flag. Interpolating percentiles
    * (`percentile_cont`) mix FP shapes that differ per engine; the discrete
    * definition is pure row selection — exact everywhere. Shape: histogram
    * aggregation (map-combined), cumulative-count windows over the
    * histogram only, conditional aggregation picks the four quantile
    * values; at 100 TB swap in approx_percentile and accept the sketch
    * error, which this exact form baselines. */
  def quantityPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Aggregate FIRST: per-(flag, qty) counts — one map-combined hash-agg
    // shuffle, then windows over the tiny aggregated frame (3 flags ×
    // distinct quantities). The value at global rank r in qty order is the
    // qty whose cumulative-count interval (lo, hi] contains r, so the
    // per-row ranking window is unnecessary. Round 1 ran
    // row_number() over Window.partitionBy(l_returnflag) on RAW lineitem —
    // every row through 3 tasks, a guaranteed straggler at 100×. Here no
    // task ever sees more than the distinct-value histogram.
    // decimal cast is order-preserving, so ranking by qty == by l_quantity
    val counts = li
      .select(col("l_returnflag"), dec(col("l_quantity")).as("qty"))
      .groupBy(col("l_returnflag"), col("qty"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    val cum = counts
      .withColumn("hi", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("lo", col("hi") - col("cnt"))
    def pick(q: Double) = {
      val r = ceil(lit(q) * col("n"))
      max(when(r > col("lo") && r <= col("hi"), col("qty"))).cast("double")
    }
    cum.groupBy(col("l_returnflag"))
      .agg(pick(0.25).as("p25"), pick(0.50).as("p50"),
        pick(0.75).as("p75"), pick(0.95).as("p95"),
        max(col("n")).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }

  val quantityPercentilesSql: String =
    """WITH ranked AS (
      |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(14,4)) AS qty,
      |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
      |      ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |    COUNT(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem
      |)
      |SELECT l_returnflag,
      |  CAST(MAX(CASE WHEN rn = CEIL(0.25 * n) THEN qty END) AS DOUBLE) AS p25,
      |  CAST(MAX(CASE WHEN rn = CEIL(0.50 * n) THEN qty END) AS DOUBLE) AS p50,
      |  CAST(MAX(CASE WHEN rn = CEIL(0.75 * n) THEN qty END) AS DOUBLE) AS p75,
      |  CAST(MAX(CASE WHEN rn = CEIL(0.95 * n) THEN qty END) AS DOUBLE) AS p95,
      |  COUNT(*) AS n_rows
      |FROM ranked GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Scalar-function breadth (SURVEY §2.12 "scalar fn library"): date
    * extraction, string slicing/concat/case mapping, math rounding — all
    * codegen'd built-ins evaluated inside the scan's project, no shuffle
    * except the final group. Constructs are restricted to ones with
    * identical semantics in DuckDB (no locale, no timezone arithmetic). */
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        upper(substring(col("o_orderpriority"), 1, 1)).as("prio_initial"),
        when(col("o_orderstatus") === "F", "finished")
          .when(col("o_orderstatus") === "O", "open")
          .otherwise("partial").as("status_name"),
        expr("CAST(floor(CAST(o_totalprice AS DECIMAL(14,4))) AS BIGINT) div 1000").as("price_k"),
        (length(col("o_orderpriority")) % 5).as("len_mod"))
      .groupBy(col("yr"), col("qtr"), col("status_name"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("prio_initial")).as("min_initial"),
        sum(col("price_k")).as("sum_price_k"),
        sum(col("len_mod")).cast("long").as("sum_len_mod"))
      .orderBy(col("yr"), col("qtr"), col("status_name"))

  val scalarFunctionsSql: String =
    """WITH s AS (
      |  SELECT EXTRACT(YEAR FROM o_orderdate) AS yr,
      |    EXTRACT(QUARTER FROM o_orderdate) AS qtr,
      |    upper(substr(o_orderpriority, 1, 1)) AS prio_initial,
      |    CASE o_orderstatus WHEN 'F' THEN 'finished'
      |      WHEN 'O' THEN 'open' ELSE 'partial' END AS status_name,
      |    CAST(floor(CAST(o_totalprice AS DECIMAL(14,4))) AS BIGINT) // 1000 AS price_k,
      |    length(o_orderpriority) % 5 AS len_mod
      |  FROM orders
      |)
      |SELECT CAST(yr AS INT) AS yr, CAST(qtr AS INT) AS qtr, status_name,
      |  COUNT(*) AS n_orders, MIN(prio_initial) AS min_initial,
      |  CAST(SUM(price_k) AS BIGINT) AS sum_price_k,
      |  CAST(SUM(len_mod) AS BIGINT) AS sum_len_mod
      |FROM s GROUP BY yr, qtr, status_name
      |ORDER BY yr, qtr, status_name""".stripMargin

  /** Outer-join breadth: per-nation customer/supplier presence via a FULL
    * OUTER join of two aggregates — nulls on either side survive to the
    * output (coalesced counts, null-safe ordering). */
  def nationCoverage(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_customers"))
    val s = Tables.supplier(spark, dir).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_suppliers"))
    c.join(s, Seq("nk"), "full_outer")
      .select(col("nk"),
        coalesce(col("n_customers"), lit(0L)).as("n_customers"),
        coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"))
      .withColumn("side", when(col("n_customers") > 0 && col("n_suppliers") > 0, "both")
        .when(col("n_customers") > 0, "customers_only").otherwise("suppliers_only"))
      .orderBy(col("nk"))
  }

  val nationCoverageSql: String =
    """WITH c AS (SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY 1),
      |s AS (SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY 1)
      |SELECT COALESCE(c.nk, s.nk) AS nk,
      |  COALESCE(n_customers, 0) AS n_customers,
      |  COALESCE(n_suppliers, 0) AS n_suppliers,
      |  CASE WHEN COALESCE(n_customers, 0) > 0 AND COALESCE(n_suppliers, 0) > 0 THEN 'both'
      |    WHEN COALESCE(n_customers, 0) > 0 THEN 'customers_only'
      |    ELSE 'suppliers_only' END AS side
      |FROM c FULL OUTER JOIN s ON c.nk = s.nk
      |ORDER BY nk""".stripMargin

  /** Runtime-filter pattern made explicit: a fact⋈dim semi-join where the
    * dim side is too big to broadcast AS A JOIN but its key set fits a
    * Bloom filter. Build a compact sketch over the filtered dim keys
    * (distributed aggregation; the driver holds only the ~12 KB sketch),
    * broadcast it back as a literal, and prune the fact scan BEFORE the
    * shuffle — the join then re-verifies exactly, so Bloom false
    * positives cannot reach the output and the result equals the plain
    * semi-join (spec-asserted, plus the DuckDB oracle).
    *
    * This is what Spark's own `runtime.bloomFilter` rewrite injects for
    * selective joins; doing it explicitly (a) survives plans the
    * optimizer's cost heuristics skip, (b) documents the 100 TB shape: at
    * 1000 executors the win is the fact rows that never enter the
    * exchange (~98% here). The SHUFFLE_MERGE hint models the
    * dim-exceeds-broadcast case — with a broadcast join the bloom would
    * be redundant (the hash table itself filters). */
  def bloomPruneJoin(spark: SparkSession, dir: String): DataFrame = {
    val hot = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 490000.0)
      .select(col("o_orderkey"))
    // Size the filter from the ACTUAL hot-key count (one tiny pre-job over
    // the pushed-down dim filter), not a constant: an undersized filter
    // inflates the FP rate until the scan-side prune passes nearly
    // everything — correctness survives (the semi-join re-verifies) but
    // the query's entire point, pruning before the exchange, silently
    // vanishes at larger SFs. 1.2x headroom keeps the FP target honest.
    val nHot = math.max(1L, (hot.count() * 1.2).toLong)
    val bf = hot.stat.bloomFilter("o_orderkey", nHot, 0.01)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val li = Tables.lineitem(spark, dir)
    li.filter(graft.functions.SketchKernels.bloomMightContain(lit(bytes), col("l_orderkey")))
      .join(hot.hint("shuffle_merge"), col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val bloomPruneJoinSql: String =
    """SELECT l_returnflag, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 490000.0)
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** Pivot: order counts by year × priority, priorities as columns. The
    * value list is EXPLICIT — with an inferred list Spark first runs a
    * distinct() job over the pivot column (an extra corpus pass) and the
    * output schema becomes data-dependent, which breaks both column-name
    * determinism (the oracle hash sorts by name) and, at 100 TB, schema
    * stability across ingest days. Explicit values make pivot a single
    * groupBy with a conditional-aggregate fan-out — same cost class as
    * q50's stack, no extra shuffle. Absent combinations surface as 0. */
  def orderPivot(spark: SparkSession, dir: String): DataFrame = {
    val vals = Seq("1-URGENT" -> "p_urgent", "2-HIGH" -> "p_high",
      "3-MEDIUM" -> "p_medium", "4-NOT SPECIFIED" -> "p_notspec", "5-LOW" -> "p_low")
    val pivoted = Tables.orders(spark, dir)
      .withColumn("yr", year(col("o_orderdate")))
      .groupBy(col("yr"))
      .pivot("o_orderpriority", vals.map(_._1))
      .agg(count(lit(1)))
    vals.foldLeft(pivoted) { case (df, (v, alias)) =>
      df.withColumn(alias, coalesce(col(s"`$v`"), lit(0L))).drop(v)
    }.orderBy(col("yr"))
  }

  val orderPivotSql: String =
    """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr,
      |  COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS p_urgent,
      |  COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) AS p_high,
      |  COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) AS p_medium,
      |  COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) AS p_notspec,
      |  COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) AS p_low
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** RANGE-frame window: per-customer 30-day TRAILING spend over daily
    * totals — the time-based rolling aggregate (q08's running total is a
    * ROWS frame; a RANGE frame closes the family). Spark's rangeBetween
    * needs a numeric sort key, so days become an integer day number; the
    * frame [-29, 0] then means "this day and the 29 calendar days before
    * it", regardless of how many order-days exist in between — exactly
    * where ROWS and RANGE diverge.
    *
    * Window sums stay DECIMAL until after the frame so the result is
    * order-independent (summing doubles inside a frame would depend on
    * row order, which the engines don't share). ONE shuffle total: the
    * explicit custkey repartition satisfies BOTH the (custkey, day)
    * aggregate's clustering (custkey ⊆ grouping keys, so same-group rows
    * are already co-located) and the window's custkey partitioning —
    * without it Spark plans two exchanges, (custkey, day) then custkey.
    * Spec-locked. */
  def rollingSpend(spark: SparkSession, dir: String): DataFrame = {
    // day stays TIMESTAMP (midnight-truncated): a DATE column round-trips
    // through the two engines' parquet/pandas paths with different dtypes
    // and fails the compare on type, not value
    val daily = Tables.orders(spark, dir)
      .repartition(col("o_custkey"))
      .groupBy(col("o_custkey"), date_trunc("DAY", col("o_orderdate")).as("day"))
      .agg(sum(dec(col("o_totalprice"))).as("day_spend"))
      .withColumn("day_n", datediff(col("day"), lit("1992-01-01").cast("date")))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("day_n"))
      .rangeBetween(-29, 0)
    daily
      .withColumn("spend_30d", narrow(sum(col("day_spend")).over(w), 4))
      .withColumn("n_days_30d", count(lit(1)).over(w))
      .select(col("o_custkey"), col("day"),
        col("day_spend").cast("double").as("day_spend"),
        col("spend_30d"), col("n_days_30d"))
      .orderBy(col("o_custkey"), col("day"))
  }

  val rollingSpendSql: String =
    """WITH daily AS (
      |  SELECT o_custkey, date_trunc('day', o_orderdate) AS day,
      |    SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS day_spend,
      |    datediff('day', TIMESTAMP '1992-01-01 00:00:00', date_trunc('day', o_orderdate)) AS day_n
      |  FROM orders GROUP BY 1, 2
      |)
      |SELECT o_custkey, day, CAST(day_spend AS DOUBLE) AS day_spend,
      |  CAST(CAST(SUM(day_spend) OVER (PARTITION BY o_custkey ORDER BY day_n
      |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS spend_30d,
      |  COUNT(*) OVER (PARTITION BY o_custkey ORDER BY day_n
      |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS n_days_30d
      |FROM daily ORDER BY o_custkey, day""".stripMargin

  /** The full ranking-function family — rank, dense_rank, ntile,
    * percent_rank, cume_dist (row_number is all over the suite; this
    * closes the rest). TWO windows over one partitioning on purpose:
    * the PEER window orders by the COARSE key (spend bucket: spend div
    * 10000, deliberately tie-rich) so rank gaps, dense_rank's no-gap
    * counting and cume_dist's peer groups are actually exercised — with
    * a unique ordering those functions all degenerate to row_number and
    * their tie semantics go untested. Peer-window outputs are
    * deterministic under ties; ntile is NOT (it splits peer groups
    * arbitrarily), so it runs on the second, uniquely-ordered window.
    * Same partitioning → one exchange, two sorts. percent_rank and
    * cume_dist are integer-ratio doubles — correctly-rounded identical
    * divisions in both engines — and spend surfaces through
    * [[Exact.narrow]] (the wide-decimal→double guard). */
  def rankingFamily(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec(col("o_totalprice"))).as("spend"))
      // explicit floor: DuckDB's decimal→BIGINT cast ROUNDS while
      // Spark's truncates (the q38 precedent) — floor-then-cast agrees
      .withColumn("bucket", expr("CAST(floor(spend) AS BIGINT) div 10000"))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val wPeers = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bucket").desc)
    val wUnique = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("bucket").desc, col("o_custkey"))
    spend.join(c, col("o_custkey") === col("c_custkey"))
      .withColumn("rnk", rank().over(wPeers))
      .withColumn("drnk", dense_rank().over(wPeers))
      .withColumn("pct_rank", percent_rank().over(wPeers))
      .withColumn("cume", cume_dist().over(wPeers))
      .withColumn("quartile", ntile(4).over(wUnique))
      .filter(col("rnk") <= 5)
      .select(col("c_nationkey").cast("int").as("nation"),
        col("o_custkey").as("custkey"),
        narrow(col("spend"), 4).as("spend"), col("bucket"),
        col("rnk"), col("drnk"), col("quartile"), col("pct_rank"), col("cume"))
      .orderBy(col("nation"), col("rnk"), col("custkey"))
  }

  val rankingFamilySql: String =
    """WITH spend AS (
      |  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(14,4))) AS spend,
      |    CAST(floor(SUM(CAST(o_totalprice AS DECIMAL(14,4)))) AS BIGINT) // 10000 AS bucket
      |  FROM orders GROUP BY o_custkey
      |), j AS (
      |  SELECT c_nationkey, o_custkey, spend, bucket FROM spend
      |  JOIN customer ON o_custkey = c_custkey
      |), r AS (
      |  SELECT c_nationkey, o_custkey, spend, bucket,
      |    RANK()         OVER wp AS rnk,
      |    DENSE_RANK()   OVER wp AS drnk,
      |    PERCENT_RANK() OVER wp AS pct_rank,
      |    CUME_DIST()    OVER wp AS cume,
      |    NTILE(4)       OVER wu AS quartile
      |  FROM j
      |  WINDOW wp AS (PARTITION BY c_nationkey ORDER BY bucket DESC),
      |         wu AS (PARTITION BY c_nationkey ORDER BY bucket DESC, o_custkey)
      |)
      |SELECT CAST(c_nationkey AS INT) AS nation, o_custkey AS custkey,
      |  CAST(CAST(spend AS DECIMAL(18,4)) AS DOUBLE) AS spend, bucket,
      |  CAST(rnk AS INT) AS rnk, CAST(drnk AS INT) AS drnk,
      |  CAST(quartile AS INT) AS quartile, pct_rank, cume
      |FROM r WHERE rnk <= 5 ORDER BY nation, rnk, custkey""".stripMargin

  /** Re-aggregatable distinct counts via DataSketches HLL — the rollup
    * q14's `approx_count_distinct` cannot do: per-month customer sketches
    * merge into a total WITHOUT rescanning orders (the lambda-architecture
    * primitive: store small sketches per partition/day, union on demand).
    * Sketch state is register maxima — order-independent — so estimates
    * are deterministic for a given input set and the driver's rows-only
    * check is stable; the quantitative gate lives in the spec, which
    * bounds each estimate against the exact distinct count and pins the
    * union estimate to a directly-built global sketch (close but not
    * equal: DataSketches unions drop the HIP estimator, so the merged
    * sketch answers with the composite estimator). */
  def hllRollup(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_trunc("month", col("o_orderdate")).as("mon"))
      .agg(expr("hll_sketch_agg(o_custkey, 12)").as("sk"))
    val perMonth = monthly.select(
      date_format(col("mon"), "yyyy-MM").as("period"),
      expr("hll_sketch_estimate(sk)").as("est_customers"))
    val total = monthly.agg(
      expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_customers"))
      .select(lit("TOTAL").as("period"), col("est_customers"))
    perMonth.union(total).orderBy(col("period"))
  }

  /** q82b: the EXACT twin of q82's rollup skeleton, oracle-gated. The HLL
    * estimates themselves can never hash-match a different engine, but the
    * query shape they sit in — re-aggregatable per-month distinct counts
    * plus a total computed WITHOUT rescanning the fact table — can: dedup
    * (month, custkey) once, then both the per-month counts and the global
    * distinct re-aggregate from that one deduped frame. This is the
    * lambda-architecture rollup with sets instead of sketches; at 100 TB
    * you'd pick q82 (constant-size state), but the skeleton being
    * hash-verified here is the same one q82 executes. The deduped frame is
    * checkpointed because both output branches read it (no cross-branch
    * CSE). */
  def distinctRollupExact(spark: SparkSession, dir: String): DataFrame = {
    val mc = Tables.orders(spark, dir)
      .select(date_trunc("month", col("o_orderdate")).as("mon"), col("o_custkey"))
      .distinct()
      .transform(Dist.durableCkpt)
    val perMonth = mc.groupBy(col("mon"))
      .agg(count(lit(1)).as("n_customers"))
      .select(date_format(col("mon"), "yyyy-MM").as("period"), col("n_customers"))
    val total = mc.select(col("o_custkey")).distinct()
      .agg(count(lit(1)).as("n_customers"))
      .select(lit("TOTAL").as("period"), col("n_customers"))
    perMonth.union(total).orderBy(col("period"))
  }

  val distinctRollupExactSql: String =
    """WITH mc AS MATERIALIZED (
      |  SELECT DISTINCT date_trunc('month', o_orderdate) AS mon, o_custkey FROM orders
      |)
      |SELECT strftime(mon, '%Y-%m') AS period, CAST(COUNT(*) AS BIGINT) AS n_customers
      |FROM mc GROUP BY mon
      |UNION ALL
      |SELECT 'TOTAL' AS period, CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
      |FROM mc
      |ORDER BY period""".stripMargin

  /** q89: the skew-mitigation tool under the oracle gate. l_returnflag
    * has THREE values over the whole fact table — the textbook pathological
    * join key: an unsalted shuffle join sends ~1/3 of lineitem to each of
    * three reducer tasks and the stage runs at straggler speed no matter
    * how many executors exist. [[graft.Dist.saltedJoin]] spreads each hot
    * key over `factor` reducers (deterministic salt from the row's unique
    * id — never rand(), which breaks retries and oracles) and replicates
    * the 3-row dim side per salt. The SHUFFLE_MERGE hint models the
    * dim-exceeds-broadcast regime (same convention as q69 — with a
    * broadcast join there'd be no shuffle to skew). DistSpec separately
    * proves the bounded-max-task property; here the VALUES are gated:
    * salted ≡ plain join exactly. */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(("A", "acknowledged"), ("N", "new"), ("R", "returned"))
      .toDF("l_returnflag", "flag_name")
      .hint("shuffle_merge")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"),
        col("l_orderkey"), col("l_linenumber"))
    graft.Dist.saltedJoin(li, dim, Seq("l_returnflag"),
        xxhash64(col("l_orderkey"), col("l_linenumber")), factor = 8)
      .groupBy(col("l_returnflag"), col("flag_name"))
      .agg(count(lit(1)).as("n_items"),
        sumMoney(col("l_extendedprice")).as("revenue"))
      .orderBy(col("l_returnflag"))
  }

  val saltedSkewJoinSql: String =
    """SELECT l_returnflag, flag_name, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(14,4))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN (VALUES ('A', 'acknowledged'), ('N', 'new'), ('R', 'returned'))
      |  AS d(l_returnflag, flag_name) USING (l_returnflag)
      |GROUP BY l_returnflag, flag_name
      |ORDER BY l_returnflag""".stripMargin

  /** Data-quality audit (the Deequ-style "expectations" primitive): one
    * pass over lineitem computes every row-local constraint as a
    * conditional aggregate — null keys, non-positive quantity/price,
    * discount out of [0,1], ship-date range — and ONE left-anti join
    * counts referential orphans (lineitems whose order does not exist).
    * Output is a (check, n_violations, n_rows) report; a healthy corpus
    * reports zeros, and the query's cost is ONE full-width scan (all
    * row-local checks in a single conditional aggregate — adding a check
    * is a column, not a pass) plus one slim two-column scan for the
    * anti-join. The 1-row aggregate is checkpointed because three output
    * branches reference it and Spark does no cross-branch CSE — without
    * it the full-width scan re-runs per branch (spec-locked at ≤ 2
    * lineitem scans). */
  def qualityAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val orphans = li.select(col("l_orderkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
      .select(lit("ref_order_exists").as("check"), col("n").as("n_violations"))
    val rowChecks = li.agg(
        count(lit(1)).as("n_rows"),
        count(when(col("l_orderkey").isNull || col("l_partkey").isNull, 1)).as("null_keys"),
        count(when(col("l_quantity") <= 0, 1)).as("bad_quantity"),
        count(when(col("l_extendedprice") <= 0, 1)).as("bad_price"),
        count(when(col("l_discount") < 0 || col("l_discount") > 1, 1)).as("bad_discount"),
        count(when(col("l_shipdate") < lit("1995-01-01").cast("timestamp") ||
          col("l_shipdate") > lit("2001-12-31").cast("timestamp"), 1)).as("bad_shipdate"))
      .transform(Dist.durableCkpt) // 1 row, LAZY: three branches share one
                              // materialization at first action, and
                              // plan-only callers (Explain, the hygiene
                              // sweep) don't pay the scan eagerly
    val stacked = rowChecks.selectExpr(
      """stack(5,
        |  'null_keys', null_keys,
        |  'positive_quantity', bad_quantity,
        |  'positive_price', bad_price,
        |  'discount_in_range', bad_discount,
        |  'shipdate_in_range', bad_shipdate) AS (check, n_violations)""".stripMargin)
    val n = rowChecks.select(col("n_rows"))
    stacked.union(orphans).crossJoin(broadcast(n))
      .select(col("check"), col("n_violations"), col("n_rows"))
      .orderBy(col("check"))
  }

  val qualityAuditSql: String =
    """WITH rc AS (
      |  SELECT COUNT(*) AS n_rows,
      |    COUNT(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL THEN 1 END) AS null_keys,
      |    COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS bad_quantity,
      |    COUNT(CASE WHEN l_extendedprice <= 0 THEN 1 END) AS bad_price,
      |    COUNT(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 END) AS bad_discount,
      |    COUNT(CASE WHEN l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      |               OR l_shipdate > TIMESTAMP '2001-12-31 00:00:00' THEN 1 END) AS bad_shipdate
      |  FROM lineitem
      |), orphans AS (
      |  -- NOT EXISTS, not NOT IN: a NULL l_orderkey must COUNT as an
      |  -- orphan (left_anti keeps it — null matches nothing) and a NULL
      |  -- o_orderkey must not poison the whole check, which NOT IN's
      |  -- three-valued logic would do on exactly the dirty data a
      |  -- quality audit exists to catch
      |  SELECT COUNT(*) AS n FROM lineitem l
      |  WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |), stacked AS (
      |  SELECT 'null_keys' AS check, null_keys AS n_violations FROM rc
      |  UNION ALL SELECT 'positive_quantity', bad_quantity FROM rc
      |  UNION ALL SELECT 'positive_price', bad_price FROM rc
      |  UNION ALL SELECT 'discount_in_range', bad_discount FROM rc
      |  UNION ALL SELECT 'shipdate_in_range', bad_shipdate FROM rc
      |  UNION ALL SELECT 'ref_order_exists', n FROM orphans
      |)
      |SELECT s."check", s.n_violations, rc.n_rows
      |FROM stacked s CROSS JOIN rc
      |ORDER BY s."check"""".stripMargin

  /** Unpivot (melt) — the inverse of q73: the wide per-year priority
    * counts back to long (yr, priority, n_orders) form, via Spark's
    * native `unpivot` (which plans an Expand over the already-aggregated
    * 7-row frame — the cheap direction, unlike pre-aggregation cube
    * Expands). Round-tripping through q73's pivot makes the pair
    * self-checking: the melt of the pivot must equal the plain
    * (yr, priority) aggregate, which is exactly what the oracle computes
    * directly. */
  def orderUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val wide = orderPivot(spark, dir) // (yr, p_urgent..p_low)
    wide.unpivot(
        Array(col("yr")),
        Array(col("p_urgent"), col("p_high"), col("p_medium"),
          col("p_notspec"), col("p_low")),
        "priority", "n_orders")
      .orderBy(col("yr"), col("priority"))
  }

  val orderUnpivotSql: String =
    """WITH base AS (
      |  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS yr, o_orderpriority
      |  FROM orders
      |), m AS (
      |  SELECT yr, 'p_urgent' AS priority,
      |    COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS n_orders FROM base GROUP BY yr
      |  UNION ALL SELECT yr, 'p_high',
      |    COUNT(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 END) FROM base GROUP BY yr
      |  UNION ALL SELECT yr, 'p_medium',
      |    COUNT(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 END) FROM base GROUP BY yr
      |  UNION ALL SELECT yr, 'p_notspec',
      |    COUNT(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 END) FROM base GROUP BY yr
      |  UNION ALL SELECT yr, 'p_low',
      |    COUNT(CASE WHEN o_orderpriority = '5-LOW' THEN 1 END) FROM base GROUP BY yr
      |)
      |SELECT yr, priority, n_orders FROM m ORDER BY yr, priority""".stripMargin

  /** q96: market-basket co-occurrence — the top part pairs bought
    * together in one order, the association-mining primitive (frequent
    * itemsets, "customers also bought").
    *
    * The naive shape is a fact-fact SELF-JOIN on l_orderkey — the fact
    * table shuffles TWICE and the join doubles its in-flight size. Here
    * the basket is assembled once (one hash agg on orderkey; collect_set
    * state is bounded by basket size, ≤ 13 items in this schema — the
    * giant-basket regime would switch to the self-join + salting) and
    * pairs are generated per basket with a nested array `transform` over
    * the sorted basket — a generator, so the quadratic blowup is bounded
    * per basket and never crosses an exchange. The pair census then
    * map-side-combines. Output is the top-25 pairs under a total order
    * (count desc, pair) so the limit is deterministic. */
  /** Shared basket pair generator for q96/q110/q114/q169: per-order
    * baskets → all ordered part pairs (a < b by the sorted basket) with
    * their co-occurrence count. One hash agg + one bounded per-basket
    * generator — never a fact-fact self-join (spec-locked on this
    * builder: one lineitem scan, no SortMergeJoin).
    *
    * Four registered queries consume this identical frame, so
    * [[copurchaseCounts]] lands it ONCE per (session, dir,
    * checkpoint-regime) — the d7258c8 idiom the LSH/k-means front-ends
    * use, with the same durability-aware memo key (round-6 gotcha). At
    * 100 TB the equivalent is landing the pair graph as a bucketed
    * catalog table with a content fingerprint, not a session memo. */
  private[relational] def buildCopurchaseCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("parts"))
      .select(explode(expr(
        // all ordered pairs (parts[i], parts[j]) with i < j; parts is
        // sorted, so a < b by construction
        """flatten(transform(parts, (x, i) ->
          |  transform(slice(parts, i + 2, size(parts) - i - 1), y ->
          |    struct(x AS a, y AS b))))""".stripMargin)).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("n"))

  // Retention is the graft.SessionMemo contract: bounded at MaxEntries
  // keys (wholesale clear at the cap — entries are caches of
  // deterministic builds), and long-lived multi-session hosts call
  // SessionMemos.clearAll() on session stop.
  private val copurchaseMemo =
    new graft.SessionMemo[(SparkSession, String, Option[String]), DataFrame]("copurchase")

  private def copurchaseCounts(spark: SparkSession, dir: String): DataFrame =
    copurchaseMemo.getOrCompute(
      (spark, dir, spark.sparkContext.getCheckpointDir))(
      { _ => buildCopurchaseCounts(spark, dir).transform(graft.Dist.durableCkpt) })

  def copurchasePairs(spark: SparkSession, dir: String): DataFrame =
    copurchaseCounts(spark, dir)
      .select(col("a").as("part_a"), col("b").as("part_b"),
        col("n").as("n_orders"))
      .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
      .limit(25)

  val copurchasePairsSql: String =
    """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
      |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
      |  COUNT(*) AS n_orders
      |FROM i a JOIN i b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, part_a, part_b LIMIT 25""".stripMargin

  /** q105: automated column profiling — per-column row/non-null/distinct
    * counts and min/max, the Deequ-style "describe this table" primitive
    * that feeds schema drift detection and constraint suggestion (q83's
    * audit checks a KNOWN contract; the profile DISCOVERS one).
    *
    * ONE lineitem scan computes every statistic (conditional aggregates
    * in a single Aggregate, q83's pattern), then `stack` pivots the
    * one-row result to a row per column. min/max surface as strings so
    * heterogeneous column types fit one schema — the profiled columns
    * are chosen so both engines render identical text (ints, fixed-point
    * doubles, flags, timestamps; free-form doubles would hit exponent-
    * format divergence). The multi-column exact distinct plans one
    * Expand (rows × #distinct-columns before the partial agg) — the
    * honest exact-profile cost; at 100 TB swap approx_count_distinct
    * (q14) and the scan stays one pass with no Expand. */
  def columnProfile(spark: SparkSession, dir: String): DataFrame = {
    // ONE aggregate with four countDistincts plans an Expand that
    // multiplies every input row by 5 BEFORE the partial agg — measured
    // (r13, sf0.1, 32 cores) ~38 task-seconds per run in that one stage
    // even after fanOut. PER-COLUMN branches instead: each profiles ONE
    // column over a column-PRUNED scan (ReadSchema = that column only),
    // and a single-distinct aggregate plans the no-Expand two-phase
    // rewrite (partial group-by-value, then merge). Work per branch =
    // |rows| narrow values vs 5·|rows| wide expand rows through one hash
    // aggregate; branches run in the same job and overlap (guide §2.6).
    // Union column types line up because every min/max surfaces as
    // STRING (the profile's own contract). Measured 3.33 -> 1.01 s wall
    // min-of-3 at sf0.1 (top stage 38 -> 0.7 task-seconds); oracle SQL
    // and hashes unchanged.
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    val branches = cols.map { c =>
      Tables.lineitem(spark, dir).select(col(c))
        .agg(count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }
    branches.reduce(_.unionAll(_)).orderBy(col("col_name"))
  }

  val columnProfileSql: String =
    """WITH s AS (
      |  SELECT COUNT(*) AS n_rows,
      |    COUNT(l_orderkey) AS nn_orderkey, COUNT(DISTINCT l_orderkey) AS nd_orderkey,
      |    CAST(MIN(l_orderkey) AS VARCHAR) AS min_orderkey, CAST(MAX(l_orderkey) AS VARCHAR) AS max_orderkey,
      |    COUNT(l_quantity) AS nn_quantity, COUNT(DISTINCT l_quantity) AS nd_quantity,
      |    CAST(MIN(l_quantity) AS VARCHAR) AS min_quantity, CAST(MAX(l_quantity) AS VARCHAR) AS max_quantity,
      |    COUNT(l_returnflag) AS nn_returnflag, COUNT(DISTINCT l_returnflag) AS nd_returnflag,
      |    CAST(MIN(l_returnflag) AS VARCHAR) AS min_returnflag, CAST(MAX(l_returnflag) AS VARCHAR) AS max_returnflag,
      |    COUNT(l_shipdate) AS nn_shipdate, COUNT(DISTINCT l_shipdate) AS nd_shipdate,
      |    CAST(MIN(l_shipdate) AS VARCHAR) AS min_shipdate, CAST(MAX(l_shipdate) AS VARCHAR) AS max_shipdate
      |  FROM lineitem
      |)
      |SELECT * FROM (
      |  SELECT 'l_orderkey' AS col_name, n_rows, nn_orderkey AS n_nonnull,
      |    nd_orderkey AS n_distinct, min_orderkey AS min_val, max_orderkey AS max_val FROM s
      |  UNION ALL SELECT 'l_quantity', n_rows, nn_quantity, nd_quantity, min_quantity, max_quantity FROM s
      |  UNION ALL SELECT 'l_returnflag', n_rows, nn_returnflag, nd_returnflag, min_returnflag, max_returnflag FROM s
      |  UNION ALL SELECT 'l_shipdate', n_rows, nn_shipdate, nd_shipdate, min_shipdate, max_shipdate FROM s
      |)
      |ORDER BY col_name""".stripMargin

  /** q236: the 100 TB shape [[columnProfile]]'s scaladoc promises,
    * registered so the no-Expand plan is GATED rather than hypothetical
    * (r11 judge task 3): the exact multi-column distinct plans one
    * Expand that multiplies every input row by the number of profiled
    * columns BEFORE the partial aggregation — the honest exact cost, and
    * the first thing a petabyte profile swaps out. This sibling profiles
    * the same columns with `approx_count_distinct` (HLL++, rsd 2%): the
    * scan stays ONE pass, no Expand (plan-asserted in RelationalSpec),
    * and every other statistic is bit-identical to q105's.
    *
    * `no_oracle` by the q14/q82 precedent — HLL++ estimates cannot cross
    * engines — with q105 as the EXACT hash-gated twin on the identical
    * input; RelationalSpec additionally bounds each estimate against
    * q105's exact counts at ~3x the sketch's nominal rsd. */
  def columnProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    // Per-column union branches, q105's r13 shape, for a reason specific
    // to the approx profile: ONE aggregate carrying all four columns'
    // sketches mixes the STRING min/max buffers (non-mutable in an
    // UnsafeRow) into the same buffer as four 384-word HLL states, which
    // disqualifies HashAggregate — the whole profile ran as
    // SortAggregate (4 nodes, measured ~33 task-seconds per run at
    // sf0.1). Split per column, three of four branches carry only
    // fixed-width buffers and plan HashAggregate again; each branch
    // scans ONE pruned column; branches overlap in one job (guide §2.6).
    // Measured 1.94 -> 1.32 s wall min-of-3, ~33 -> 3.3 task-seconds;
    // estimates unchanged (identical per-column HLL streams).
    val cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")
    val branches = cols.map { c =>
      Tables.lineitem(spark, dir).select(col(c))
        .agg(count(lit(1)).as("n_rows"),
          count(col(c)).as("n_nonnull"),
          approx_count_distinct(col(c), 0.02).as("n_distinct_est"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nonnull"),
          col("n_distinct_est"), col("min_val"), col("max_val"))
    }
    branches.reduce(_.unionAll(_)).orderBy(col("col_name"))
  }

  /** q106: exact WEIGHTED median — the revenue-weighted median quantity
    * per return flag: the smallest quantity q such that line items with
    * quantity ≤ q carry at least half the group's revenue. Unweighted
    * percentiles (q37) answer "the middle row"; the weighted median
    * answers "the middle dollar" — the robust-statistics primitive
    * behind fair-share thresholds and skew diagnosis.
    *
    * Same scale discipline as q37: aggregate FIRST to the per-(flag,
    * qty) histogram (one map-combined exchange carrying at most
    * |distinct qty| rows per flag), run the cumulative-weight windows
    * over the tiny histogram only, then one conditional aggregate picks
    * the crossing point. Weights are exact integer cents
    * ([[graft.Exact.cents]], all-decimal), so `2·cum ≥ total` is integer
    * arithmetic with no float threshold to disagree on. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val hist = li
      .select(col("l_returnflag"), dec(col("l_quantity")).as("qty"),
        cents(col("l_extendedprice")).as("cents"))
      .groupBy(col("l_returnflag"), col("qty"))
      .agg(sum(col("cents")).as("w"))
    val wCum = Window.partitionBy(col("l_returnflag")).orderBy(col("qty"))
    val wAll = Window.partitionBy(col("l_returnflag"))
    hist
      .withColumn("cum", sum(col("w")).over(wCum))
      .withColumn("total", sum(col("w")).over(wAll))
      .groupBy(col("l_returnflag"))
      .agg(min(when(col("cum") * 2 >= col("total"), col("qty")))
          .cast("double").as("median_qty"),
        max(col("total")).as("total_cents"))
      .orderBy(col("l_returnflag"))
  }

  val weightedMedianSql: String =
    """WITH hist AS (
      |  SELECT l_returnflag, CAST(l_quantity AS DECIMAL(14,4)) AS qty,
      |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(14,4)) * 100 AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2
      |), c AS (
      |  SELECT l_returnflag, qty, w,
      |    SUM(w) OVER (PARTITION BY l_returnflag ORDER BY qty
      |                 ROWS UNBOUNDED PRECEDING) AS cum,
      |    SUM(w) OVER (PARTITION BY l_returnflag) AS total
      |  FROM hist
      |)
      |SELECT l_returnflag,
      |  CAST(MIN(CASE WHEN cum * 2 >= total THEN qty END) AS DOUBLE) AS median_qty,
      |  CAST(MAX(total) AS BIGINT) AS total_cents
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin

  /** q110: triangle counting on the co-purchase graph — the clustering-
    * coefficient numerator, THE benchmark primitive of distributed graph
    * analytics (community density, recommendation confidence). Edges are
    * q96's co-purchase pairs restricted to support ≥ 2 orders, oriented
    * low→high part id; a triangle is counted once as e(a,b) ⋈ e(b,c) ⋈
    * e(a,c).
    *
    * Shape: the edge list is built by q96's per-basket generator (no
    * fact self-join), lazily checkpointed because it feeds all three
    * join legs (no plan CSE across join branches). The two equi-joins
    * shuffle only (int, int) edge pairs. Id orientation suffices at this
    * density; the skew-robust variant at web scale orients by DEGREE so
    * high-degree hubs never fan out quadratically — same plan, one extra
    * degree join. Output is the one-row graph census (nodes, edges,
    * triangles). */
  def triangleCount(spark: SparkSession, dir: String): DataFrame = {
    val edges = copurchaseCounts(spark, dir)
      .filter(col("n") >= 2)
      .select(col("a"), col("b"))
      .transform(graft.Dist.durableCkpt)
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.b") === col("e2.a"))
      .join(edges.as("e3"),
        col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
      .agg(count(lit(1)).as("n_triangles"))
    val census = edges.agg(count(lit(1)).as("n_edges"))
      .crossJoin(edges.select(explode(array(col("a"), col("b"))).as("v"))
        .agg(countDistinct(col("v")).as("n_nodes")))
    census.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  val triangleCountSql: String =
    """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e AS MATERIALIZED (
      |  SELECT a.l_partkey AS a, b.l_partkey AS b
      |  FROM i a JOIN i b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2
      |)
      |SELECT
      |  (SELECT COUNT(DISTINCT v) FROM (
      |     SELECT a AS v FROM e UNION ALL SELECT b FROM e)) AS n_nodes,
      |  (SELECT COUNT(*) FROM e) AS n_edges,
      |  (SELECT COUNT(*) FROM e e1
      |     JOIN e e2 ON e1.b = e2.a
      |     JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles""".stripMargin

  /** q112: market share — each nation's share of its region's yearly
    * supplier revenue (TPC-H Q8's question re-asked with exact
    * arithmetic). The deep-join-tree showcase: lineitem ⋈ orders is the
    * one genuine fact-fact shuffle; nation and region broadcast (fixed
    * 25/5 rows), supplier joins by stats (AQE broadcasts it at bench
    * scale, shuffle-joins past the threshold — it grows with SF, so no
    * hint), and the ASIA filter prunes through the join
    * chain to the region scan before anything shuffles. Revenue is
    * integer micro-dollars ([[graft.Exact.discMicros]] — both factors
    * exactly integral, so there is NO rounding step anywhere for engines
    * to tie-break differently; the previous cents idiom ended in
    * `round(…, 0)` on values that land on exact half-cents and was
    * driver-red two rounds running on those ties), summed as
    * DECIMAL(38,0) so the aggregate cannot overflow int64 at cluster
    * scale. Shares are basis points by floor division over a window
    * total — the whole result hash-gates with no decimal-division
    * cross-engine drift. The share window runs over the aggregated
    * (region, nation, yr) frame, never raw rows. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val rev = li
      .join(Tables.orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("yr"))
      // Sum in DECIMAL(38,0) (int64 can overflow at cluster scale), then
      // surface BIGINT — exact at verify scale; a 100 TB deployment would
      // keep the decimal column instead.
      .agg(sum(discMicros(col("l_extendedprice"), col("l_discount"))
          .cast(DecimalType(38, 0))).cast("long").as("rev_micro"))
    // The share multiply stays in DECIMAL(38,0): at 10× the harness data
    // (BENCH_SF1 sweep) 10⁴ · Σmicro-dollars already passes 2⁶³ — the
    // int64 form threw ARITHMETIC_OVERFLOW exactly where a 100 TB run
    // would. `div` (IntegralDivide) on decimals floors to BIGINT, so the
    // result column and its hash are unchanged where int64 sufficed.
    rev.withColumn("share_bp", expr("(10000 * cast(rev_micro as decimal(38,0))) div " +
        "sum(cast(rev_micro as decimal(38,0))) over (partition by region, yr)"))
      .select(col("region"), col("nation"), col("yr"), col("rev_micro"),
        col("share_bp"))
      .orderBy(col("yr"), col("nation"))
  }

  val marketShareSql: String =
    """WITH rev AS (
      |  SELECT r.r_name AS region, n.n_name AS nation,
      |    EXTRACT(year FROM o.o_orderdate) AS yr,
      |    CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(14,4)) * 100 AS BIGINT) * (10000 - CAST(CAST(l.l_discount AS DECIMAL(6,4)) * 10000 AS BIGINT))) AS BIGINT) AS rev_micro
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  JOIN nation n ON s.s_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  WHERE r.r_name = 'ASIA'
      |  GROUP BY 1, 2, 3
      |)
      |SELECT region, nation, CAST(yr AS BIGINT) AS yr, rev_micro,
      |  CAST((CAST(10000 AS HUGEINT) * rev_micro) // SUM(CAST(rev_micro AS HUGEINT)) OVER (PARTITION BY region, yr) AS BIGINT) AS share_bp
      |FROM rev ORDER BY yr, nation""".stripMargin

  /** q114: two unrolled rounds of PageRank on the symmetric co-purchase
    * graph, entirely in scaled-integer space — influence/importance
    * ranking, the iterative-graph sibling of q55's label propagation.
    * Damped update: `score' = 0.15·10⁶ + 85·Σ(score_src div out_deg)
    * div 100`; every contribution is a single integer floor division, so
    * both engines walk the identical trajectory and the top-20 ranking
    * hash-gates (same unrolled-rounds policy as q55's oracle — a fixed
    * iteration count, not a convergence loop).
    *
    * Shape: edges from q110's basket generator, SYMMETRIZED by one
    * `explode(array(struct(a,b), struct(b,a)))` generator (not a
    * UNION — union re-executes the edge subtree per branch), ranked by
    * [[pagerankTop20]]. Per round: one edge-keyed broadcast-or-shuffle
    * join to attach source scores/degrees, one map-combined sum per
    * destination. At 100 TB rounds would iterate under
    * [[graft.Dist.durableCkpt]] exactly like q55's loop. */
  def pagerankTwoRounds(spark: SparkSession, dir: String): DataFrame = {
    val pairs = copurchaseCounts(spark, dir).filter(col("n") >= 2)
    pagerankTop20(pairs
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst")))
  }

  /** Two unrolled rounds of q114's damped integer PageRank over a
    * `(src, dst)` edge frame, top 20 by (score desc, v); q114 and q219
    * both rank with it. The edge frame and degree table are lazily
    * checkpointed because every round references both. */
  private[graft] def pagerankTop20(edgeFrame: DataFrame): DataFrame = {
    val edges = edgeFrame.transform(graft.Dist.durableCkpt)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("out_d"))
      .transform(graft.Dist.durableCkpt)
    def round(scores: DataFrame): DataFrame = {
      val contrib = edges
        .join(scores.withColumnRenamed("v", "src"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst").as("v"), expr("score div out_d").as("c"))
        .groupBy(col("v")).agg(sum(col("c")).as("cs"))
      deg.select(col("src").as("v"))
        .join(contrib, Seq("v"), "left")
        .select(col("v"),
          expr("150000 + (85 * coalesce(cs, CAST(0 AS BIGINT))) div 100")
            .cast("long").as("score"))
    }
    val r0 = deg.select(col("src").as("v"), lit(1000000L).as("score"))
    val r2 = round(round(r0).transform(graft.Dist.durableCkpt))
    r2.orderBy(col("score").desc, col("v")).limit(20)
  }

  /** The oracle of [[pagerankTop20]], to follow a CTE `e(src, dst)`. */
  private[graft] val pagerankTop20Sql: String =
    """deg AS MATERIALIZED (SELECT src AS v, COUNT(*) AS out_d FROM e GROUP BY 1),
      |r0 AS (SELECT v, 1000000 AS score FROM deg),
      |r1 AS MATERIALIZED (
      |  SELECT d.v, 150000 + (85 * COALESCE(SUM(r0.score // src.out_d), 0)) // 100 AS score
      |  FROM deg d
      |  LEFT JOIN e ON e.dst = d.v
      |  LEFT JOIN r0 ON r0.v = e.src
      |  LEFT JOIN deg src ON src.v = e.src
      |  GROUP BY d.v
      |), r2 AS (
      |  SELECT d.v, 150000 + (85 * COALESCE(SUM(r1.score // src.out_d), 0)) // 100 AS score
      |  FROM deg d
      |  LEFT JOIN e ON e.dst = d.v
      |  LEFT JOIN r1 ON r1.v = e.src
      |  LEFT JOIN deg src ON src.v = e.src
      |  GROUP BY d.v
      |)
      |SELECT v, CAST(score AS BIGINT) AS score FROM r2
      |ORDER BY score DESC, v LIMIT 20""".stripMargin

  val pagerankTwoRoundsSql: String =
    """WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |e0 AS (SELECT a.l_partkey a, b.l_partkey b FROM i a JOIN i b
      |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |       GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |e AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
      |                   UNION ALL SELECT b, a FROM e0),
      |""".stripMargin + pagerankTop20Sql

  // --------------------------------------- q169 k-core onion decomposition

  /** Peeling rounds unrolled for q169 (max observed convergence across
    * SF dirs is 6 rounds at sf0.1; 8 leaves proof-of-convergence
    * headroom — the census itself shows trailing zero-peel rounds). */
  val KCoreRounds = 8

  /** q169: k-core (k=2) onion decomposition of the co-purchase graph —
    * the graph-pruning primitive beside q114's influence ranking and
    * q110's clustering coefficient: repeatedly peel vertices of degree
    * < k; what survives is the 2-core (every vertex keeps ≥ 2
    * co-purchase partners), and the per-round peel census is the "onion
    * layer" profile — how shell-like vs core-like the graph is. Peeling
    * is the standard degeneracy decomposition restricted to its first
    * core; the census stays meaningful even when the core empties.
    *
    * Both engines report the SAME fixed [[KCoreRounds]] rounds (q114's
    * unrolled-rounds policy for the ORACLE — never a convergence loop
    * two engines could exit differently); peeling is idempotent at its
    * fixpoint, so once a round removes nothing every later round's row
    * is provably identical, and the Spark side SYNTHESIZES those
    * trailing rows instead of running known-no-op jobs (the q55/q75
    * convergence-action idiom — at sf0.1 this skips 2 of 8 rounds).
    * Trailing `n_peeled = 0` rows ARE the convergence proof,
    * spec-asserted at round [[KCoreRounds]].
    *
    * Shape: edges from q110's basket generator, symmetrized by the
    * one-generator explode (never a union). Per round: one map-combined
    * degree aggregate and two LEFT SEMI joins against the ≤|V| keep-set
    * — BROADCAST-hinted, because checkpointed frames carry no stats and
    * would silently fall back to shuffle joins (round-2 gotcha; like
    * q55's label broadcast, switch to shuffle semi joins if the
    * keep-set ever outgrows a broadcast). Every round's edge frame is
    * lazily checkpointed and materialized by that round's bounded
    * one-row census action, so the next round reads ONE RDD and the
    * 4^rounds analyzer blowup of self-referential loops never starts.
    * The census itself is driver-side longs (≤ 9 rows) returned as a
    * local relation. */
  def kcoreOnion(spark: SparkSession, dir: String): DataFrame = {
    val k = 2
    val pairs = copurchaseCounts(spark, dir).filter(col("n") >= 2)
    var edges = pairs
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
      // the peeled graph is orders smaller than the corpus; 8 partitions
      // keep every later round's checkpoint/scan constant small (no
      // exchange: coalesce narrows the explode's partitioning)
      .coalesce(8)
      .transform(graft.Dist.durableCkpt)
    def counts(e: DataFrame): (Long, Long) = {
      // bounded one-row action: materializes the round's checkpoint and
      // doubles as the convergence check
      val r = e.agg(count_distinct(col("src")).cast("long"),
        count(lit(1)).cast("long")).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    var cur = counts(edges)
    val census = scala.collection.mutable.ArrayBuffer((0L, cur._1, cur._2, 0L))
    var converged = false
    (1 to KCoreRounds).foreach { r =>
      if (converged) census += ((r.toLong, cur._1, cur._2, 0L))
      else {
        val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
          .filter(col("d") >= k).select(col("src").as("v"))
        edges = edges
          .join(broadcast(keep.select(col("v").as("src"))), Seq("src"), "left_semi")
          .join(broadcast(keep.select(col("v").as("dst"))), Seq("dst"), "left_semi")
          .transform(graft.Dist.durableCkpt)
        val nxt = counts(edges)
        census += ((r.toLong, nxt._1, nxt._2, cur._1 - nxt._1))
        converged = nxt == cur
        cur = nxt
      }
    }
    import spark.implicits._
    census.toSeq.toDF("round", "n_vertices", "n_sym_edges", "n_peeled")
      .orderBy(col("round"))
  }

  val kcoreOnionSql: String = {
    val rounds = (1 to KCoreRounds).map { r =>
      s"""d$r AS (SELECT src AS v FROM e${r - 1} GROUP BY src HAVING COUNT(*) >= 2),
         |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
         |  JOIN d$r a ON e.src = a.v JOIN d$r b ON e.dst = b.v)""".stripMargin
    }.mkString(",\n")
    val unions = (0 to KCoreRounds).map { r =>
      s"SELECT $r AS round, COUNT(DISTINCT src) AS n_vertices, COUNT(*) AS n_sym_edges FROM e$r"
    }.mkString("\n  UNION ALL ")
    s"""WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |p AS (SELECT a.l_partkey a, b.l_partkey b FROM i a JOIN i b
       |      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |e0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
       |                    UNION ALL SELECT b, a FROM p),
       |$rounds,
       |c AS (
       |  $unions
       |)
       |SELECT CAST(round AS BIGINT) AS round,
       |  CAST(n_vertices AS BIGINT) AS n_vertices,
       |  CAST(n_sym_edges AS BIGINT) AS n_sym_edges,
       |  CAST(COALESCE(lag(n_vertices) OVER (ORDER BY round) - n_vertices, 0) AS BIGINT)
       |    AS n_peeled
       |FROM c ORDER BY round""".stripMargin
  }

  /** Equi-depth bucket count for q115. */
  val HistB = 8

  /** q115: equi-DEPTH histogram construction over extended price — the
    * optimizer-statistics primitive (each bucket holds ~1/B of the rows;
    * boundaries, row and distinct-value counts per bucket). q37 EXTRACTS
    * percentiles; this BUILDS the full histogram a cost model consumes.
    *
    * Bucket assignment is pure integer arithmetic over the cumulative
    * count: a distinct value at inclusive cumulative rank c lands in
    * bucket `((c−1)·B div n) + 1` — monotone, ties (equal values) stay
    * in one bucket, no float rank boundaries to disagree on. The
    * map-combined aggregation collapses to the DISTINCT-value histogram
    * first (q37's rule), but unlike q37's 50-value quantity domain the
    * price domain is ~rows-sized, so the running count uses
    * [[graft.Dist.globalCumSum]] (range partition + local window +
    * broadcast offsets) — a single-partition cumsum window over millions
    * of distinct prices is exactly the straggler that utility exists to
    * avoid — and the grand total rides in as a broadcast one-row
    * aggregate. */
  def equidepthHistogram(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val hist = li
      .select(cents(col("l_extendedprice")).as("cents"))
      .groupBy(col("cents")).agg(count(lit(1)).as("cnt"))
      // feeds the cumsum AND the grand total — checkpoint so the scan
      // and aggregation run once (no plan CSE across branches)
      .transform(graft.Dist.durableCkpt)
    val total = hist.agg(sum(col("cnt")).cast("long").as("n"))
    graft.Dist.globalCumSum(hist, col("cents"), col("cnt"))
      .crossJoin(broadcast(total))
      .withColumn("bucket", expr(s"((cum - 1) * $HistB) div n + 1"))
      .groupBy(col("bucket"))
      .agg(min(col("cents")).as("lo_cents"), max(col("cents")).as("hi_cents"),
        sum(col("cnt")).cast("long").as("n_rows"),
        count(lit(1)).as("n_distinct"))
      .orderBy(col("bucket"))
  }

  val equidepthHistogramSql: String =
    s"""WITH hist AS (
       |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(14,4)) * 100 AS BIGINT) AS cents, COUNT(*) AS cnt
       |  FROM lineitem GROUP BY 1
       |), c AS (
       |  SELECT cents, cnt,
       |    SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
       |    SUM(cnt) OVER () AS n
       |  FROM hist
       |)
       |SELECT CAST(((cum - 1) * $HistB) // n + 1 AS BIGINT) AS bucket,
       |  MIN(cents) AS lo_cents, MAX(cents) AS hi_cents,
       |  CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_distinct
       |FROM c GROUP BY 1 ORDER BY bucket""".stripMargin

  /** q117: customer-spend decile report (the Lorenz curve in basis
    * points) — rank customers by lifetime spend, cut into ten
    * equal-count deciles, report each decile's share of total revenue.
    * The concentration/inequality diagnostic behind "top decile drives
    * X% of revenue".
    *
    * Shape: spend aggregates per customer first (map-combined), the
    * global rank comes from [[graft.Dist.globalRowNumber]] on the unique
    * (cents, custkey) struct key — never a single-partition window over
    * the rows-sized customer frame — and the (count, total) pair rides
    * in as a broadcast one-row aggregate. Integer cents + basis-point
    * floor division keep the whole report float-free. */
  def spendDeciles(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).cast("long").as("cents"))
      .transform(graft.Dist.durableCkpt) // feeds the rank AND the totals
    val totals = spend.agg(count(lit(1)).as("n"),
      sum(col("cents")).cast("long").as("total"))
    graft.Dist.globalRowNumber(spend, struct(col("cents"), col("o_custkey")))
      .crossJoin(broadcast(totals))
      .withColumn("decile", expr("((rn - 1) * 10) div n + 1"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("cents")).cast("long").as("cents"),
        expr("(10000 * CAST(sum(cents) AS BIGINT)) div max(total)").as("share_bp"))
      .orderBy(col("decile"))
  }

  val spendDecilesSql: String =
    """WITH spend AS (
      |  SELECT o_custkey, CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(14,4)) * 100 AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1
      |), rn AS (
      |  SELECT o_custkey, cents,
      |    ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS rn,
      |    COUNT(*) OVER () AS n, SUM(cents) OVER () AS total
      |  FROM spend
      |)
      |SELECT ((rn - 1) * 10) // n + 1 AS decile,
      |  COUNT(*) AS n_customers, CAST(SUM(cents) AS BIGINT) AS cents,
      |  (10000 * CAST(SUM(cents) AS BIGINT)) // CAST(MAX(total) AS BIGINT) AS share_bp
      |FROM rn GROUP BY 1 ORDER BY 1""".stripMargin

  // ------------------------------------------------------- q131 skew audit

  /** q131: JOIN-KEY SKEW AUDIT — the diagnostic that DECIDES when q89's
    * salting (or AQE's skew split) is worth paying: per candidate
    * shuffle key, how hot is the hottest key relative to a uniform
    * spread? `hot_share_bp` is the hottest key's share of rows in basis
    * points; `rec_salt` = ⌈max_cnt / avg_cnt⌉ = how many average-key
    * volumes the hot key spans — exactly the salt factor that levels it
    * (q89 uses factor 8 for a 50% hot key; this computes that number
    * instead of guessing). At 100 TB this audit runs on yesterday's
    * stats before today's join is planned.
    *
    * Shape: per relation, ONE two-level hash aggregate (per-key counts
    * with map-side partials, then a scalar roll-up) — no windows, no
    * sort, no join; three independent single-table branches unioned
    * (no shared subtree, so no re-execution trap). Integer division
    * only, so the gate is exact. */
  def skewAudit(spark: SparkSession, dir: String): DataFrame = {
    def audit(rel: String, df: DataFrame, key: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
        .agg(count(lit(1)).as("n_keys"),
          sum(col("cnt")).cast("long").as("total_rows"),
          max(col("cnt")).cast("long").as("max_cnt"))
        .select(lit(rel).as("relation"), lit(key).as("key"),
          col("n_keys"), col("total_rows"), col("max_cnt"),
          expr("10000 * max_cnt div total_rows").as("hot_share_bp"),
          expr("(max_cnt * n_keys + total_rows - 1) div total_rows")
            .as("rec_salt"))
    audit("events", Tables.events(spark, dir), "user_id")
      .unionByName(audit("lineitem", Tables.lineitem(spark, dir), "l_partkey"))
      .unionByName(audit("orders", Tables.orders(spark, dir), "o_custkey"))
      .orderBy(col("relation"))
  }

  val skewAuditSql: String = {
    def one(rel: String, tbl: String, key: String) =
      s"""SELECT '$rel' AS relation, '$key' AS key,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(SUM(cnt) AS BIGINT) AS total_rows,
         |  CAST(MAX(cnt) AS BIGINT) AS max_cnt,
         |  CAST(10000 * MAX(cnt) // SUM(cnt) AS BIGINT) AS hot_share_bp,
         |  CAST((MAX(cnt) * COUNT(*) + SUM(cnt) - 1) // SUM(cnt) AS BIGINT) AS rec_salt
         |FROM (SELECT $key, COUNT(*) AS cnt FROM $tbl GROUP BY 1)""".stripMargin
    Seq(one("events", "events", "user_id"),
      one("lineitem", "lineitem", "l_partkey"),
      one("orders", "orders", "o_custkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relation")
  }

  // --------------------------------------------------- q135 k-anonymity

  /** q135: K-ANONYMITY audit — the third leg of the governance tier
    * (q61 redacts direct PII, q127 propagates erasure; this measures
    * RE-IDENTIFICATION risk): under a candidate quasi-identifier set,
    * every equivalence class smaller than k is a linkage risk. The
    * audit walks a three-level generalization ladder (segment → +nation
    * → +$1000 balance bucket) and reports, per level, the class census
    * and the rows at risk — the artifact that picks the finest
    * releasable granularity.
    *
    * Shape: per level ONE two-phase hash aggregate (class sizes, then a
    * scalar roll-up with conditional sums) — the q131 pattern; three
    * independent branches unioned, no windows, no joins. The balance
    * bucket shifts cents positive before the integer division so
    * Spark's truncating `div` and DuckDB's flooring `//` agree. */
  val AnonK = 5L

  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    def level(name: String, cols: Seq[org.apache.spark.sql.Column]): DataFrame =
      cust.groupBy(cols: _*).agg(count(lit(1)).as("sz"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("sz")).cast("long").as("min_class"),
          sum(when(col("sz") < AnonK, 1L).otherwise(0L)).cast("long")
            .as("classes_lt_k"),
          sum(when(col("sz") < AnonK, col("sz")).otherwise(0L)).cast("long")
            .as("rows_at_risk"))
        .select(lit(name).as("level"), col("n_classes"), col("min_class"),
          col("classes_lt_k"), col("rows_at_risk"),
          (col("classes_lt_k") === 0L).as("satisfies_k"))
    val balBucket =
      expr(s"(cast(cast(c_acctbal as decimal(14,4)) * 100 as bigint) + 10000000) div 100000")
    level("1_segment", Seq(col("c_mktsegment")))
      .unionByName(level("2_seg_nation",
        Seq(col("c_mktsegment"), col("c_nationkey"))))
      .unionByName(level("3_seg_nation_bal",
        Seq(col("c_mktsegment"), col("c_nationkey"), balBucket.as("bb"))))
      .orderBy(col("level"))
  }

  val kAnonymitySql: String = {
    def one(name: String, groupCols: String) =
      s"""SELECT '$name' AS level, CAST(COUNT(*) AS BIGINT) AS n_classes,
         |  CAST(MIN(sz) AS BIGINT) AS min_class,
         |  CAST(SUM(CASE WHEN sz < $AnonK THEN 1 ELSE 0 END) AS BIGINT) AS classes_lt_k,
         |  CAST(SUM(CASE WHEN sz < $AnonK THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk,
         |  SUM(CASE WHEN sz < $AnonK THEN 1 ELSE 0 END) = 0 AS satisfies_k
         |FROM (SELECT COUNT(*) AS sz FROM customer GROUP BY $groupCols)""".stripMargin
    val bb = "(CAST(CAST(c_acctbal AS DECIMAL(14,4)) * 100 AS BIGINT) + 10000000) // 100000"
    Seq(one("1_segment", "c_mktsegment"),
      one("2_seg_nation", "c_mktsegment, c_nationkey"),
      one("3_seg_nation_bal", s"c_mktsegment, c_nationkey, $bb"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY level")
  }

  // --------------------------------------------------- q157 l-diversity

  /** q157: L-DIVERSITY audit — k-anonymity's blind spot (Machanavajjhala
    * et al., ICDE 2006): a class can be large (k-safe) yet have every
    * member sharing ONE sensitive value, so linkage still discloses it.
    * Here the quasi-identifier is (nation, $1000 balance bucket) — what
    * an adversary plausibly knows — and the sensitive attribute is the
    * market segment. Per class, l = distinct sensitive values present;
    * the report is the census by l: how many classes (and rows) sit at
    * each diversity level, with l < 3 the disclosure-risk band a release
    * review must resolve by generalizing or withholding.
    *
    * Shape: (nation, bucket, segment) hash aggregate first — after it,
    * l per class is a plain COUNT(*) over the pre-deduplicated frame, so
    * no COUNT(DISTINCT) Expand ever touches corpus-sized data — then the
    * census over ≤ |classes| rows. Three cascaded aggregates, each input
    * smaller than the last; the same shifted-positive bucket arithmetic
    * as q135 keeps Spark `div` ≡ DuckDB `//`. */
  def lDiversity(spark: SparkSession, dir: String): DataFrame = {
    val bb = expr(
      s"(cast(cast(c_acctbal as decimal(14,4)) * 100 as bigint) + 10000000) div 100000")
    val classes = Tables.customer(spark, dir)
      .select(col("c_nationkey").as("nat"), bb.as("bb"),
        col("c_mktsegment").as("seg"))
      .groupBy(col("nat"), col("bb"), col("seg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("nat"), col("bb"))
      .agg(count(lit(1)).as("l"), sum(col("n")).as("class_rows"))
    classes.groupBy(col("l"))
      .agg(count(lit(1)).cast("long").as("n_classes"),
        sum(col("class_rows")).cast("long").as("n_rows"),
        min(col("class_rows")).cast("long").as("min_class"))
      .withColumn("at_risk", col("l") < 3)
      .orderBy(col("l"))
  }

  val lDiversitySql: String =
    """WITH cell AS (
      |  SELECT c_nationkey AS nat,
      |    (CAST(CAST(c_acctbal AS DECIMAL(14,4)) * 100 AS BIGINT) + 10000000) // 100000 AS bb,
      |    c_mktsegment AS seg, COUNT(*) AS n
      |  FROM customer GROUP BY 1, 2, 3
      |), cls AS (
      |  SELECT nat, bb, CAST(COUNT(*) AS BIGINT) AS l, SUM(n) AS class_rows
      |  FROM cell GROUP BY 1, 2
      |)
      |SELECT l, CAST(COUNT(*) AS BIGINT) AS n_classes,
      |  CAST(SUM(class_rows) AS BIGINT) AS n_rows,
      |  CAST(MIN(class_rows) AS BIGINT) AS min_class,
      |  l < 3 AS at_risk
      |FROM cls GROUP BY l ORDER BY l""".stripMargin

  // ------------------------------------------- q151 k-anonymity enforcement

  /** q151: k-anonymity ENFORCEMENT — q135 measures the risk, this applies
    * the fix: cascaded generalization. Every finest-level class
    * (segment, nation, balance-bucket) smaller than k has its bucket
    * suppressed and re-pools at (segment, nation); still-small pools
    * suppress nation and re-pool at segment; anything below k there is
    * withheld entirely. The output is the release census per
    * generalization tier — the table a privacy review signs off on:
    * every RELEASED class is ≥ k by construction, and `n_rows` accounts
    * for the whole population (conservation is spec-locked).
    *
    * Shape: one finest-level hash aggregate; each coarser tier
    * re-aggregates only the SMALL-CLASS REMAINDER (a few rows), so the
    * cascade costs one corpus pass plus tiny re-groupings. The four
    * tier censuses are one-row aggregates over the (checkpointed)
    * shared level-3 frame — no corpus re-scan per branch. */
  def kanonEnforce(spark: SparkSession, dir: String): DataFrame = {
    val bb = expr(
      s"(cast(cast(c_acctbal as decimal(14,4)) * 100 as bigint) + 10000000) div 100000")
    val l3 = Tables.customer(spark, dir)
      .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"), bb.as("bb"))
      .groupBy(col("seg"), col("nat"), col("bb"))
      .agg(count(lit(1)).as("sz"))
      .transform(Dist.durableCkpt)
    val rel3 = l3.filter(col("sz") >= AnonK)
    val l2 = l3.filter(col("sz") < AnonK)
      .groupBy(col("seg"), col("nat")).agg(sum(col("sz")).as("sz"))
    val rel2 = l2.filter(col("sz") >= AnonK)
    val l1 = l2.filter(col("sz") < AnonK)
      .groupBy(col("seg")).agg(sum(col("sz")).as("sz"))
    val rel1 = l1.filter(col("sz") >= AnonK)
    val held = l1.filter(col("sz") < AnonK)
    def census(tier: String, f: DataFrame): DataFrame =
      f.agg(count(lit(1)).cast("long").as("n_classes"),
        coalesce(sum(col("sz")), lit(0L)).cast("long").as("n_rows"),
        coalesce(min(col("sz")), lit(0L)).cast("long").as("min_class"))
        .select(lit(tier).as("tier"), col("n_classes"), col("n_rows"),
          col("min_class"))
    census("3_full_detail", rel3)
      .unionByName(census("2_bucket_suppressed", rel2))
      .unionByName(census("1_nation_suppressed", rel1))
      .unionByName(census("0_withheld", held))
      .orderBy(col("tier"))
  }

  val kanonEnforceSql: String = {
    val bb = "(CAST(CAST(c_acctbal AS DECIMAL(14,4)) * 100 AS BIGINT) + 10000000) // 100000"
    s"""WITH l3 AS MATERIALIZED (
       |  SELECT c_mktsegment AS seg, c_nationkey AS nat, $bb AS bb,
       |    COUNT(*) AS sz
       |  FROM customer GROUP BY 1, 2, 3
       |), l2 AS MATERIALIZED (
       |  SELECT seg, nat, SUM(sz) AS sz FROM l3 WHERE sz < $AnonK GROUP BY 1, 2
       |), l1 AS MATERIALIZED (
       |  SELECT seg, SUM(sz) AS sz FROM l2 WHERE sz < $AnonK GROUP BY 1
       |)
       |SELECT '3_full_detail' AS tier, CAST(COUNT(*) AS BIGINT) AS n_classes,
       |  CAST(COALESCE(SUM(sz), 0) AS BIGINT) AS n_rows,
       |  CAST(COALESCE(MIN(sz), 0) AS BIGINT) AS min_class
       |FROM l3 WHERE sz >= $AnonK
       |UNION ALL
       |SELECT '2_bucket_suppressed', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(sz), 0) AS BIGINT), CAST(COALESCE(MIN(sz), 0) AS BIGINT)
       |FROM l2 WHERE sz >= $AnonK
       |UNION ALL
       |SELECT '1_nation_suppressed', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(sz), 0) AS BIGINT), CAST(COALESCE(MIN(sz), 0) AS BIGINT)
       |FROM l1 WHERE sz >= $AnonK
       |UNION ALL
       |SELECT '0_withheld', CAST(COUNT(*) AS BIGINT),
       |  CAST(COALESCE(SUM(sz), 0) AS BIGINT), CAST(COALESCE(MIN(sz), 0) AS BIGINT)
       |FROM l1 WHERE sz < $AnonK
       |ORDER BY tier""".stripMargin
  }

  // ----------------------------------- q184 keyed deterministic pseudonyms

  /** q184: KEYED DETERMINISTIC PSEUDONYMIZATION — the governance tier's
    * tokenization primitive next to q151's k-anonymity generalization:
    * direct identifiers (name, phone) are replaced with a keyed-PRF
    * pseudonym of the stable key, so the released table stays JOINABLE
    * (same key + same epoch secret → same token, referential integrity
    * preserved) while unlinkable ACROSS epochs (a new secret re-keys the
    * whole universe — the classic data-escrow rotation). The name keeps
    * only its 3-char numeric suffix (utility-preserving partial masking).
    *
    * The census CERTIFIES the release per market segment, all under the
    * driver hash gate:
    *  - `n_pseudo` = `n_cust`: the PRF is injective on this universe
    *    (a collision would silently merge customers downstream);
    *  - `n_xkey` = 0: epoch-1 and epoch-2 token spaces are disjoint
    *    (cross-epoch linkability would defeat the rotation) — computed
    *    with the one-generator explode union, no self-join;
    *  - `n_unlinked` = 0 (global, broadcast to every row): no order fell
    *    out of the release when joining through the pseudonym map —
    *    referential integrity, proven on the FACT table (per-segment
    *    totals are definitionally linked because the segment itself comes
    *    from the customer side, so the unlinked count must be global);
    *  - `rev_cents`: segment revenue computed THROUGH the pseudonymized
    *    path (orders → token map → group by token), equal to the direct
    *    grouping iff the linkage is lossless;
    *  - `pseudo_fp`: bit_xor fingerprint of every released row's full
    *    content — the gate certifies the released TABLE, not counts.
    *
    * 100 TB shape: pseudonymization is MAP-ONLY (one keyed md5 per row,
    * no shuffle); the fact-table proof is one orders ⋈ token-map equi
    * join — by STATS, not hint: the token map is customer-sized, which
    * grows with SF, so past the broadcast threshold it degrades to the
    * standard shuffle join — + one hash agg; the cross-key audit is a
    * single count-distinct
    * aggregate over the exploded token pairs. Nothing is quadratic,
    * nothing windows, nothing lands. */
  def pseudonymize(spark: SparkSession, dir: String): DataFrame = {
    import graft.llm.Similarity.hash60
    def prf(epoch: String, k: Column): Column =
      hash60(concat(lit(s"pii:$epoch:"), k.cast("string")))
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        prf("epoch1", col("c_custkey")).as("p1"),
        prf("epoch2", col("c_custkey")).as("p2"),
        concat(lit("***"), expr("right(c_name, 3)")).as("name_m"),
        cents(col("c_acctbal")).as("bal_c"))
      .withColumn("row_fp", hash60(concat_ws("\u001f",
        concat(lit("cust_"), col("p1").cast("string")), col("name_m"),
        col("seg"), col("bal_c").cast("string"))))
      .transform(Dist.durableCkpt) // feeds census, xkey audit, both joins
    // cross-epoch disjointness: one generator, one agg — no self-join
    val xkey = c.select(col("seg"), explode(array(
        struct(lit(1).as("e"), col("p1").as("p")),
        struct(lit(2).as("e"), col("p2").as("p")))).as("t"))
      .groupBy(col("seg"), col("t.p"))
      .agg(countDistinct(col("t.e")).as("ne"))
      .groupBy(col("seg"))
      .agg(sum((col("ne") === 2).cast("long")).as("n_xkey"))
    // referential integrity proven on the fact table: orders join the
    // token map, revenue flows THROUGH the pseudonym grouping
    val o = Tables.orders(spark, dir)
      .select(col("o_custkey"), cents(col("o_totalprice")).as("rev_c"))
    val linked = o.join(c.select(col("c_custkey"), col("seg"),
        col("p1")), o("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("seg"), col("p1"))
      .agg(count(lit(1)).as("n_o"), sum(col("rev_c")).as("rev"))
    val ordersCensus = linked
      .groupBy(col("seg"))
      .agg(sum(col("n_o")).cast("long").as("n_orders"),
        sum(col("rev")).cast("long").as("rev_cents"))
      .filter(col("seg").isNotNull)
    // one-row global audit: orders that found no pseudonym (seg IS NULL
    // iff the left join missed) — broadcast scalar, certifies the fact
    // table shed nothing
    val unlinked = linked.filter(col("p1").isNull)
      .agg(coalesce(sum(col("n_o")), lit(0L)).cast("long").as("n_unlinked"))
    c.groupBy(col("seg"))
      .agg(count(lit(1)).cast("long").as("n_cust"),
        countDistinct(col("p1")).cast("long").as("n_pseudo"),
        expr("bit_xor(row_fp)").cast("long").as("pseudo_fp"))
      .join(xkey, Seq("seg"))
      .join(ordersCensus, Seq("seg"))
      .crossJoin(broadcast(unlinked)) // one-row frame
      .select(col("seg"), col("n_cust"), col("n_pseudo"), col("n_xkey"),
        col("n_orders"), col("n_unlinked"), col("rev_cents"),
        col("pseudo_fp"))
      .orderBy(col("seg"))
  }

  val pseudonymizeSql: String = {
    def prf(epoch: String, k: String): String =
      s"CAST(concat('0x', substr(md5(concat('pii:$epoch:', CAST($k AS VARCHAR))), 1, 15)) AS BIGINT)"
    s"""WITH c AS MATERIALIZED (
       |  SELECT c_custkey, c_mktsegment AS seg,
       |    ${prf("epoch1", "c_custkey")} AS p1,
       |    ${prf("epoch2", "c_custkey")} AS p2,
       |    concat('***', right(c_name, 3)) AS name_m,
       |    CAST(CAST(c_acctbal AS DECIMAL(14,4)) * 100 AS BIGINT) AS bal_c
       |  FROM customer
       |), fp AS (
       |  SELECT seg, c_custkey, p1,
       |    CAST(concat('0x', substr(md5(concat_ws(chr(31),
       |      concat('cust_', CAST(p1 AS VARCHAR)), name_m, seg,
       |      CAST(bal_c AS VARCHAR))), 1, 15)) AS BIGINT) AS row_fp
       |  FROM c
       |), xkey AS (
       |  SELECT seg, SUM(CASE WHEN ne = 2 THEN 1 ELSE 0 END) AS n_xkey
       |  FROM (SELECT seg, p, COUNT(DISTINCT e) AS ne FROM (
       |          SELECT seg, 1 AS e, p1 AS p FROM c
       |          UNION ALL SELECT seg, 2 AS e, p2 AS p FROM c)
       |        GROUP BY seg, p)
       |  GROUP BY seg
       |), linked AS (
       |  SELECT c.seg, c.p1, COUNT(*) AS n_o, SUM(
       |    CAST(CAST(o.o_totalprice AS DECIMAL(14,4)) * 100 AS BIGINT)) AS rev
       |  FROM orders o LEFT JOIN c ON o.o_custkey = c.c_custkey
       |  GROUP BY c.seg, c.p1
       |), oc AS (
       |  SELECT seg,
       |    CAST(SUM(n_o) AS BIGINT) AS n_orders,
       |    CAST(SUM(rev) AS BIGINT) AS rev_cents
       |  FROM linked WHERE seg IS NOT NULL GROUP BY seg
       |), unl AS (
       |  SELECT CAST(COALESCE(SUM(n_o), 0) AS BIGINT) AS n_unlinked
       |  FROM linked WHERE p1 IS NULL
       |)
       |SELECT f.seg, CAST(COUNT(*) AS BIGINT) AS n_cust,
       |  CAST(COUNT(DISTINCT f.p1) AS BIGINT) AS n_pseudo,
       |  CAST(MIN(x.n_xkey) AS BIGINT) AS n_xkey,
       |  CAST(MIN(oc.n_orders) AS BIGINT) AS n_orders,
       |  CAST(MIN(unl.n_unlinked) AS BIGINT) AS n_unlinked,
       |  CAST(MIN(oc.rev_cents) AS BIGINT) AS rev_cents,
       |  CAST(bit_xor(f.row_fp) AS BIGINT) AS pseudo_fp
       |FROM fp f JOIN xkey x USING (seg) JOIN oc USING (seg) CROSS JOIN unl
       |GROUP BY f.seg ORDER BY f.seg""".stripMargin
  }

  // ------------------------------------------------ q158 Benford audit

  /** q158: Benford first-digit audit over `o_totalprice` — the standard
    * forensic screen for fabricated or truncated financial data (Nigrini:
    * naturally-occurring multi-magnitude amounts follow
    * P(d) = log10(1+1/d); a flat or spiked digit histogram flags
    * synthetic entry). Reports, per leading digit, observed share vs the
    * Benford expectation and the signed deviation, all in integer basis
    * points.
    *
    * No float ever enters either plan: the leading digit comes from the
    * decimal string of exact integer cents (×100 shifts the decimal
    * point — same leading digit as the price), shares are integer
    * cross-multiplied against the broadcast one-row total, and the
    * Benford curve is a hardcoded ⌊10⁴·log10(1+1/d)⌋ table — identical
    * constants in the Spark plan and the oracle, so there is no
    * engine-log10 to disagree. ONE scan → 9-row census → broadcast
    * total join; scales as a pure two-phase count. */
  private val benfordBp = Seq(3010L, 1760L, 1249L, 969L, 791L, 669L, 579L, 511L, 457L)

  def benfordAudit(spark: SparkSession, dir: String): DataFrame = {
    // Guard lead_digit to 1..9 on BOTH engines: a zero/negative amount
    // yields digit 0 or '-' (null after the int cast), where Spark's
    // element_at(array, 0) THROWS while the oracle's CASE returns NULL —
    // divergent failure modes. Unreachable on TPC-H data (all prices
    // positive), so the guard changes nothing today; it pins the defined
    // behavior (non-positive amounts excluded from the census).
    val digits = Tables.orders(spark, dir)
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("int").as("lead_digit"))
      .filter(col("lead_digit").between(1, 9))
      .groupBy(col("lead_digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("tot"))
    digits.crossJoin(broadcast(total))
      .withColumn("share_bp", expr("10000 * n div tot"))
      .withColumn("benford_bp",
        element_at(array(benfordBp.map(lit): _*), col("lead_digit")))
      .select(col("lead_digit"), col("n").cast("long").as("n"),
        col("share_bp").cast("long").as("share_bp"), col("benford_bp"),
        (col("share_bp") - col("benford_bp")).cast("long").as("delta_bp"))
      .orderBy(col("lead_digit"))
  }

  val benfordAuditSql: String = {
    val cases = benfordBp.zipWithIndex
      .map { case (bp, i) => s"WHEN ${i + 1} THEN $bp" }.mkString(" ")
    s"""WITH d AS (
       |  SELECT CAST(SUBSTR(CAST(
       |      CAST(CAST(o_totalprice AS DECIMAL(14,4)) * 100 AS BIGINT)
       |    AS VARCHAR), 1, 1) AS INTEGER) AS lead_digit
       |  FROM orders
       |), c AS (
       |  SELECT lead_digit, COUNT(*) AS n FROM d
       |  WHERE lead_digit BETWEEN 1 AND 9 GROUP BY 1
       |), t AS (SELECT SUM(n) AS tot FROM c)
       |SELECT lead_digit, CAST(n AS BIGINT) AS n,
       |  CAST(10000 * n // tot AS BIGINT) AS share_bp,
       |  CAST(CASE lead_digit $cases END AS BIGINT) AS benford_bp,
       |  CAST(10000 * n // tot - CASE lead_digit $cases END AS BIGINT) AS delta_bp
       |FROM c CROSS JOIN t ORDER BY lead_digit""".stripMargin
  }

  // ------------------------------------------- q162 distribution drift

  /** q162: distribution-drift audit between two periods — the
    * cross-sectional complement of q153's temporal CUSUM: bucket the
    * order-value distribution, compare the early-period (pre-1998)
    * reference against the current period share-by-share, and report
    * per-bucket deviation in basis points. The Σ|delta| total-variation
    * summary (what a PSI/chi-square monitor thresholds on) falls out of
    * the same rows; unlike PSI or chi-square it needs no log and no
    * division by near-zero expected counts, so it is INTEGER-EXACT and
    * scale-free at any data volume — the overflow-safe choice at 100 TB
    * where (n·total)² chi-square numerators exceed int128.
    *
    * Shape: ONE scan, one conditional-sum hash aggregate over ≤ 20
    * buckets, totals via the broadcast one-row scalar frame (the q153
    * pattern, hygiene-whitelisted). $25k-wide integer-cents buckets,
    * capped at 19. */
  def distributionDrift(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .select(
        least(lit(19L), expr(
          "cast(cast(o_totalprice as decimal(14,4)) * 100 as bigint) div 2500000"))
          .as("bucket"),
        (year(col("o_orderdate")) < 1998).as("is_ref"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_ref"), 1L).otherwise(0L)).as("ref_n"),
        sum(when(!col("is_ref"), 1L).otherwise(0L)).as("cur_n"))
    val tot = counts.agg(sum(col("ref_n")).as("ref_tot"),
      sum(col("cur_n")).as("cur_tot"))
    counts.crossJoin(broadcast(tot))
      .withColumn("ref_bp", expr("10000 * ref_n div ref_tot"))
      .withColumn("cur_bp", expr("10000 * cur_n div cur_tot"))
      .select(col("bucket"), col("ref_n").cast("long").as("ref_n"),
        col("cur_n").cast("long").as("cur_n"),
        col("ref_bp").cast("long").as("ref_bp"),
        col("cur_bp").cast("long").as("cur_bp"),
        (col("cur_bp") - col("ref_bp")).cast("long").as("delta_bp"))
      .orderBy(col("bucket"))
  }

  val distributionDriftSql: String =
    """WITH b AS (
      |  SELECT LEAST(19, CAST(CAST(o_totalprice AS DECIMAL(14,4)) * 100 AS BIGINT) // 2500000) AS bucket,
      |    year(o_orderdate) < 1998 AS is_ref
      |  FROM orders
      |), c AS (
      |  SELECT bucket,
      |    SUM(CASE WHEN is_ref THEN 1 ELSE 0 END) AS ref_n,
      |    SUM(CASE WHEN is_ref THEN 0 ELSE 1 END) AS cur_n
      |  FROM b GROUP BY 1
      |), t AS (SELECT SUM(ref_n) AS ref_tot, SUM(cur_n) AS cur_tot FROM c)
      |SELECT bucket, CAST(ref_n AS BIGINT) AS ref_n, CAST(cur_n AS BIGINT) AS cur_n,
      |  CAST(10000 * ref_n // ref_tot AS BIGINT) AS ref_bp,
      |  CAST(10000 * cur_n // cur_tot AS BIGINT) AS cur_bp,
      |  CAST(10000 * cur_n // cur_tot - 10000 * ref_n // ref_tot AS BIGINT) AS delta_bp
      |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin

  // ------------------------------------------------ q148 trimmed mean

  /** q148: robust per-segment customer value — the 5%-trimmed mean of
    * lifetime spend per market segment, beside the raw mean it corrects.
    * Trimmed means are the standard whale/zero-inflation-resistant
    * central tendency for spend dashboards (a handful of mega-customers
    * or never-ordered accounts move a raw mean arbitrarily; the trimmed
    * one ignores exactly ⌊n/20⌋ rows at each end).
    *
    * Exactness: spend is integer cents (`Exact.cents` per order, summed);
    * the trim boundary is a pure integer rank test over the TOTAL order
    * (spend, custkey), so both engines drop the identical row set; means
    * are `div` (floor) — no float ever appears.
    *
    * Shape: orders aggregate to one row per customer (two-level: the
    * shuffle carries customer partials), LEFT join keeps zero-spend
    * customers (q12's population — a trimmed mean that silently drops
    * them would overstate every segment); the rank window runs over the
    * AGGREGATED per-customer frame partitioned by segment — never over
    * raw orders; the final aggregate is per segment. */
  def trimmedMeanSpend(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(cents(col("o_totalprice"))).as("sp"))
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
      .join(spend, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_mktsegment"), col("c_custkey"),
        coalesce(col("sp"), lit(0L)).as("cents_sp"))
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("cents_sp"), col("c_custkey"))
    cust
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("c_mktsegment"))))
      .withColumn("cut", expr("n div 20"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).cast("long").as("n_customers"),
        sum(col("cents_sp")).cast("long").as("total_cents"),
        sum(when(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"),
          col("cents_sp"))).cast("long").as("kept_cents"),
        sum(when(col("rn") > col("cut") && col("rn") <= col("n") - col("cut"),
          1L)).cast("long").as("n_kept"))
      .withColumn("mean_cents", expr("total_cents div n_customers"))
      .withColumn("trimmed_mean_cents", expr("kept_cents div n_kept"))
      .select(col("c_mktsegment"), col("n_customers"), col("n_kept"),
        col("mean_cents"), col("trimmed_mean_cents"))
      .orderBy(col("c_mktsegment"))
  }

  val trimmedMeanSpendSql: String =
    """WITH spend AS (
      |  SELECT o_custkey,
      |    SUM(CAST(CAST(o_totalprice AS DECIMAL(14,4)) * 100 AS BIGINT)) AS sp
      |  FROM orders GROUP BY 1
      |), cust AS (
      |  SELECT c.c_mktsegment, c.c_custkey, COALESCE(s.sp, 0) AS cents_sp
      |  FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
      |), r AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY c_mktsegment
      |      ORDER BY cents_sp, c_custkey) AS rn,
      |    COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
      |  FROM cust
      |)
      |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers,
      |  CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(cents_sp) AS BIGINT) // COUNT(*) AS mean_cents,
      |  CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20 THEN cents_sp END) AS BIGINT)
      |    // CAST(SUM(CASE WHEN rn > n // 20 AND rn <= n - n // 20 THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_mean_cents
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q148_trimmed_mean", trimmedMeanSpend, Some(trimmedMeanSpendSql)),
    QueryDef("q151_kanon_enforce", kanonEnforce, Some(kanonEnforceSql)),
    QueryDef("q01_pricing_summary", pricingSummary, Some(pricingSummarySql)),
    QueryDef("q02_revenue_by_nation", revenueByNation, Some(revenueByNationSql)),
    QueryDef("q03_shipping_priority", shippingPriority, Some(shippingPrioritySql)),
    QueryDef("q04_order_priority", orderPriority, Some(orderPrioritySql)),
    QueryDef("q05_local_supplier_volume", localSupplierVolume, Some(localSupplierVolumeSql)),
    QueryDef("q06_forecast_revenue", forecastRevenue, Some(forecastRevenueSql)),
    QueryDef("q07_top_parts_per_brand", topPartsPerBrand, Some(topPartsPerBrandSql)),
    QueryDef("q08_running_customer_spend", runningCustomerSpend, Some(runningCustomerSpendSql)),
    QueryDef("q09_repeat_customers", repeatCustomers, Some(repeatCustomersSql)),
    QueryDef("q10_never_finished_customers", neverFinishedCustomers, Some(neverFinishedCustomersSql)),
    QueryDef("q11_customer_rollup", customerRollup, Some(customerRollupSql)),
    QueryDef("q12_customers_without_orders", customersWithoutOrders, Some(customersWithoutOrdersSql)),
    QueryDef("q13_distinct_counts", distinctCounts, Some(distinctCountsSql)),
    QueryDef("q14_approx_distinct", approxDistinct, None),
    QueryDef("q28_set_ops", setOps, Some(setOpsSql)),
    QueryDef("q29_lineitem_cube", lineitemCube, Some(lineitemCubeSql)),
    QueryDef("q37_quantity_percentiles", quantityPercentiles, Some(quantityPercentilesSql)),
    QueryDef("q38_scalar_functions", scalarFunctions, Some(scalarFunctionsSql)),
    QueryDef("q39_nation_coverage", nationCoverage, Some(nationCoverageSql)),
    QueryDef("q51_topk_aggregator", topPartsPerBrandAgg, Some(topPartsPerBrandSql)),
    QueryDef("q52_grouping_sets", groupingSets, Some(groupingSetsSql)),
    QueryDef("q69_bloom_prune_join", bloomPruneJoin, Some(bloomPruneJoinSql)),
    QueryDef("q73_pivot", orderPivot, Some(orderPivotSql)),
    QueryDef("q74_rolling_spend", rollingSpend, Some(rollingSpendSql)),
    QueryDef("q81_ranking_family", rankingFamily, Some(rankingFamilySql)),
    QueryDef("q82_hll_rollup", hllRollup, None),
    QueryDef("q82b_distinct_rollup_exact", distinctRollupExact, Some(distinctRollupExactSql)),
    QueryDef("q89_salted_skew_join", saltedSkewJoin, Some(saltedSkewJoinSql)),
    QueryDef("q83_quality_audit", qualityAudit, Some(qualityAuditSql)),
    QueryDef("q86_unpivot", orderUnpivot, Some(orderUnpivotSql)),
    QueryDef("q96_copurchase_pairs", copurchasePairs, Some(copurchasePairsSql)),
    QueryDef("q105_column_profile", columnProfile, Some(columnProfileSql)),
    QueryDef("q236_column_profile_approx", columnProfileApprox, None),
    QueryDef("q106_weighted_median", weightedMedian, Some(weightedMedianSql)),
    QueryDef("q110_triangle_count", triangleCount, Some(triangleCountSql)),
    QueryDef("q112_market_share", marketShare, Some(marketShareSql)),
    QueryDef("q114_pagerank", pagerankTwoRounds, Some(pagerankTwoRoundsSql)),
    QueryDef("q169_kcore_onion", kcoreOnion, Some(kcoreOnionSql)),
    QueryDef("q115_equidepth_histogram", equidepthHistogram, Some(equidepthHistogramSql)),
    QueryDef("q117_spend_deciles", spendDeciles, Some(spendDecilesSql)),
    QueryDef("q131_skew_audit", skewAudit, Some(skewAuditSql)),
    QueryDef("q135_k_anonymity", kAnonymity, Some(kAnonymitySql)),
    QueryDef("q157_l_diversity", lDiversity, Some(lDiversitySql)),
    QueryDef("q158_benford_audit", benfordAudit, Some(benfordAuditSql)),
    QueryDef("q162_distribution_drift", distributionDrift, Some(distributionDriftSql)),
    QueryDef("q184_pseudonymize", pseudonymize, Some(pseudonymizeSql))
  )
}
