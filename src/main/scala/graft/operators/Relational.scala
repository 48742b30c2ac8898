package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Core relational operator inventory (SURVEY §2.2–2.4, §2.6–2.8 generalized
  * per §2.12): scans, filters, projections, equi/semi/anti/broadcast joins,
  * hash aggregation, distinct aggregation, sorts, top-k, set ops.
  *
  * Every query is written declaratively so Catalyst gets to do its job:
  * filters sit directly above the parquet relations (→ pushed into the scan),
  * projections are minimal (→ column pruning / small `ReadSchema`), small
  * dimension sides are explicitly `broadcast(...)`, and aggregates run
  * partial→final automatically. Double-typed aggregates are rounded at the
  * edge so results are stable across summation orders (local[32] here, 1000
  * executors at 100 TB).
  *
  * Naming/aliasing contract: every computed column carries the same alias in
  * the DataFrame code and in the DuckDB oracle SQL (driver compares by
  * column name — see the builder contract).
  */
object Relational {

  private def ts(s: String): Column = lit(s).cast("timestamp")

  // ---------------------------------------------------------------------------
  // q01 — pricing summary (TPC-H Q1 shape): scan → filter → hash agg → sort.
  // Filter is pushed to parquet; agg is partial+final (map-side combine), so
  // at 100 TB the shuffle carries only (flag,status) × partial states.
  // ---------------------------------------------------------------------------
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") <= ts("1998-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))), 2)
          .as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
      | round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
      | round(avg(l_quantity), 2) AS avg_qty,
      | round(avg(l_extendedprice), 2) AS avg_price,
      | round(avg(l_discount), 4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q02 — forecast revenue (TPC-H Q6 shape): pure scan-side predicate + global
  // agg. The whole WHERE clause is parquet-pushable; result is one row.
  // ---------------------------------------------------------------------------
  def q02ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables
      .lineitem(spark, dir)
      .filter(
        col("l_shipdate") >= ts("1996-01-01") &&
          col("l_shipdate") < ts("1997-01-01") &&
          col("l_discount").between(0.02, 0.06) &&
          col("l_quantity") < 24
      )
      .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"))

  val q02Oracle: String =
    """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 24""".stripMargin

  // ---------------------------------------------------------------------------
  // q03 — shipping priority (TPC-H Q3 shape): 3-way join + agg + top-k.
  // customer is small → broadcast; lineitem⋈orders is the big shuffle join on
  // the natural key. Top-k orders by *rounded* revenue with a unique tiebreak
  // so the limit is deterministic at any scale.
  // ---------------------------------------------------------------------------
  def q03ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).filter(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(spark, dir).filter(col("o_orderdate") < ts("1998-01-01"))
    val li = Tables.lineitem(spark, dir).filter(col("l_shipdate") > ts("1998-01-01"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .select(
        col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_orderpriority"),
        col("revenue")
      )
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  val q03Oracle: String =
    """SELECT l_orderkey,
      | strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
      | o_orderpriority,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1998-01-01'
      |GROUP BY l_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------------
  // q04 — order priority check (TPC-H Q4 shape): EXISTS → left-semi join.
  // The semi join only needs l_orderkey from the probe → minimal ReadSchema.
  // ---------------------------------------------------------------------------
  def q04OrderPriority(spark: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(spark, dir)
    val heavy = Tables.lineitem(spark, dir).filter(col("l_quantity") > 45).select(col("l_orderkey"))
    ord
      .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  val q04Oracle: String =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------------------
  // q05 — local supplier volume (TPC-H Q5 shape): 6-way star join. All
  // dimension sides (region/nation/customer/supplier) broadcast; only
  // lineitem⋈orders shuffles. Join order lets Catalyst/AQE reorder freely.
  // ---------------------------------------------------------------------------
  def q05LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") >= ts("1996-01-01") && col("o_orderdate") < ts("1997-01-01"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q05Oracle: String =
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin

  // ---------------------------------------------------------------------------
  // q06 — customers with no early orders: NOT EXISTS → left-anti join (SURVEY
  // §2.3 J2 generalized). The filter on the anti side is applied before the
  // join and the anti side only needs its key column → minimal shuffle.
  // ---------------------------------------------------------------------------
  def q06CustomersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val early = Tables
      .orders(spark, dir)
      .filter(col("o_orderdate") < ts("1995-07-01"))
      .select(col("o_custkey"))
    cust
      .join(early, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val q06Oracle: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderdate < TIMESTAMP '1995-07-01')
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------------
  // q07 — part revenue by brand: broadcast equi-join of the fact against a
  // small dimension (SURVEY §2.3 J1 generalized to broadcast-hash).
  // ---------------------------------------------------------------------------
  def q07BrandRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val part = Tables.part(spark, dir)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines")
      )
      .orderBy(col("p_brand"))
  }

  val q07Oracle: String =
    """SELECT p_brand,
      | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      | count(*) AS n_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand
      |ORDER BY p_brand""".stripMargin

  // ---------------------------------------------------------------------------
  // q08 — distinct aggregation: distinct customers + orders per status
  // (SURVEY §2.12 ★). countDistinct expands to a two-phase plan; the first
  // phase de-duplicates on (status, custkey) before the final count.
  // ---------------------------------------------------------------------------
  def q08DistinctCustomers(spark: SparkSession, dir: String): DataFrame =
    Tables
      .orders(spark, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        countDistinct(col("o_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price")
      )
      .orderBy(col("o_orderstatus"))

  val q08Oracle: String =
    """SELECT o_orderstatus,
      | count(DISTINCT o_custkey) AS n_customers,
      | count(*) AS n_orders,
      | round(sum(o_totalprice), 2) AS total_price
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------------
  // q09 — top-k: top 15 customers by lifetime order value (SURVEY §2.6 ★).
  // TakeOrderedAndProject physical op — no global sort of the full table.
  // ---------------------------------------------------------------------------
  def q09TopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    ord
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as("total_spent"), count(lit(1)).as("n_orders"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("total_spent"), col("n_orders"))
      .orderBy(col("total_spent").desc, col("c_custkey"))
      .limit(15)
  }

  val q09Oracle: String =
    """SELECT c_custkey, c_name,
      | round(sum(o_totalprice), 2) AS total_spent,
      | count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_custkey, c_name
      |ORDER BY total_spent DESC, c_custkey
      |LIMIT 15""".stripMargin

  // ---------------------------------------------------------------------------
  // q10 — set operations (SURVEY §2.7 ★): users who clicked AND purchased
  // (INTERSECT), users who viewed but never signed up (EXCEPT), stacked with
  // a tag via UNION ALL so one result exercises all three.
  // ---------------------------------------------------------------------------
  def q10SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id"))
    val both = users("click").intersect(users("purchase")).withColumn("cohort", lit("click_and_purchase"))
    val viewNoSignup = users("view").except(users("signup")).withColumn("cohort", lit("view_no_signup"))
    both.unionAll(viewNoSignup).select(col("cohort"), col("user_id")).orderBy(col("cohort"), col("user_id"))
  }

  val q10Oracle: String =
    """SELECT 'click_and_purchase' AS cohort, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'purchase')
      |UNION ALL
      |SELECT 'view_no_signup' AS cohort, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'view'
      |  EXCEPT
      |  SELECT user_id FROM events WHERE event_type = 'signup')
      |ORDER BY cohort, user_id""".stripMargin

  // ---------------------------------------------------------------------------
  // q11 — conditional aggregation (SURVEY §2.2 P6 / §2.4 A2 generalized):
  // event-type counts as columns per user-bucket, CASE WHEN inside agg.
  // ---------------------------------------------------------------------------
  def q11ConditionalAgg(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("user_bucket"))
      .agg(
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("clicks"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("views"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("purchases"),
        round(sum(when(col("event_type") === "purchase", col("value")).otherwise(0.0)), 2).as("purchase_value")
      )
      .orderBy(col("user_bucket"))

  val q11Oracle: String =
    """SELECT CAST(user_id % 10 AS INT) AS user_bucket,
      | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
      | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      | round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END), 2) AS purchase_value
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------------
  // q12 — global statistics (SURVEY §2.4 A4 generalized): min/max/avg/stddev/
  // exact median over lineitem.
  //
  // The exact median is computed with codegen'd hash aggregates + one keyed
  // cumulative window over the (flag, price) VALUE GRID instead of Spark's
  // `percentile` (an ObjectHashAggregate that collects every value into a
  // per-group buffer — the one non-codegen operator this query had, and at
  // 100 TB a per-group array of every price). Rank decomposition: per
  // distinct (flag, price) the first/last 1-indexed rank follow from a
  // running count; quantile_cont(0.5) reads ranks (n+1) div 2 and
  // (n+2) div 2 and interpolates lower + (higher - lower) * 0.5 — the same
  // IEEE expression `percentile` evaluates (for odd n the two ranks
  // coincide and the addend is exactly 0). The window partitions by flag
  // over the price GRID (map-side-combined distinct counts), never over
  // row instances.
  // ---------------------------------------------------------------------------
  def q12Stats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir).select(col("l_returnflag"), col("l_extendedprice"))
    val base = li
      .groupBy(col("l_returnflag"))
      .agg(
        round(min(col("l_extendedprice")), 2).as("min_price"),
        round(max(col("l_extendedprice")), 2).as("max_price"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(stddev(col("l_extendedprice")), 2).as("std_price"),
        count(lit(1)).as("n")
      )
    // cumulative ranks over the (flag, price) value grid: one keyed window
    // per flag, the right plan while a flag's distinct-price grid fits one
    // task (ADVICE's q12 scale note: at 100 TB a flag's grid is one sort).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"))
    val grid = li
      .groupBy(col("l_returnflag"), col("l_extendedprice"))
      .agg(count(lit(1)).as("c"))
      .withColumn("hi_rank", sum(col("c")).over(w))
      .withColumn("lo_rank", col("hi_rank") - col("c") + 1)
    val med = grid
      .join(base.select(col("l_returnflag"), col("n")), "l_returnflag")
      .withColumn("p_lo", expr("(n + 1) div 2"))
      .withColumn("p_hi", expr("(n + 2) div 2"))
      .groupBy(col("l_returnflag"))
      .agg(
        max(when(col("lo_rank") <= col("p_lo") && col("p_lo") <= col("hi_rank"), col("l_extendedprice")))
          .as("v_lo"),
        max(when(col("lo_rank") <= col("p_hi") && col("p_hi") <= col("hi_rank"), col("l_extendedprice")))
          .as("v_hi")
      )
      // floor-form rounding, NOT round(): Spark rounds doubles through
      // BigDecimal.valueOf (shortest decimal string, HALF_UP) while DuckDB
      // rounds numerically — at an exact .xx5 boundary they disagree (seen
      // at sf0.001: 52724.245 → .24 vs .25). floor(x*100+0.5)/100 written
      // identically in both dialects is IEEE-exact and engine-agnostic.
      // exponent literals (1e2, 5e-1): plain decimal-point literals parse
      // as DECIMAL in Spark SQL text, silently turning the division into
      // decimal arithmetic (decimal(27,6) output vs the oracle's DOUBLE —
      // a driver-gate dtype mismatch); 1eN is DOUBLE in both engines.
      .select(
        col("l_returnflag"),
        expr("floor((v_lo + (v_hi - v_lo) * 5e-1) * 1e2 + 5e-1) / 1e2").as("median_price")
      )
    base
      .join(med, "l_returnflag")
      .select(
        col("l_returnflag"),
        col("min_price"),
        col("max_price"),
        col("avg_price"),
        col("std_price"),
        col("median_price"),
        col("n")
      )
      .orderBy(col("l_returnflag"))
  }

  val q12Oracle: String =
    """SELECT l_returnflag,
      | round(min(l_extendedprice), 2) AS min_price,
      | round(max(l_extendedprice), 2) AS max_price,
      | round(avg(l_extendedprice), 2) AS avg_price,
      | round(stddev_samp(l_extendedprice), 2) AS std_price,
      | floor(quantile_cont(l_extendedprice, 0.5) * 1e2 + 5e-1) / 1e2 AS median_price,
      | count(*) AS n
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------------
  // q46 — promo revenue ratio (TPC-H Q14 shape): conditional aggregate over a
  // broadcast dimension join; one scan, one broadcast, no shuffle of the fact
  // beyond the final single-row agg.
  // ---------------------------------------------------------------------------
  def q46PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables
      .lineitem(spark, dir)
      .filter(col("l_shipdate") >= ts("1996-06-01") && col("l_shipdate") < ts("1996-09-01"))
    val part = Tables.part(spark, dir)
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .agg(
        round(
          sum(when(col("p_type") === "PROMO", col("l_extendedprice") * (lit(1.0) - col("l_discount"))).otherwise(0.0))
            * 100.0 / sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
          4
        ).as("promo_revenue_pct")
      )
  }

  val q46Oracle: String =
    """SELECT round(
      |  100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
      |  / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-06-01' AND l_shipdate < TIMESTAMP '1996-09-01'""".stripMargin

  // ---------------------------------------------------------------------------
  // q47 — customer order-count distribution (TPC-H Q13 shape): left join +
  // double aggregation. First agg shrinks to one row per customer; the
  // histogram agg runs over that tiny intermediate.
  // ---------------------------------------------------------------------------
  def q47OrderCountHistogram(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir).select(col("c_custkey"))
    val ord = Tables.orders(spark, dir).select(col("o_custkey"), col("o_orderkey"))
    cust
      .join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q47Oracle: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** Registry fragment contributed by this module. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_forecast_revenue" -> (q02ForecastRevenue _),
    "q03_shipping_priority" -> (q03ShippingPriority _),
    "q04_order_priority" -> (q04OrderPriority _),
    "q05_local_supplier" -> (q05LocalSupplier _),
    "q06_customers_without_orders" -> (q06CustomersWithoutOrders _),
    "q07_brand_revenue" -> (q07BrandRevenue _),
    "q08_distinct_customers" -> (q08DistinctCustomers _),
    "q09_top_customers" -> (q09TopCustomers _),
    "q10_set_ops" -> (q10SetOps _),
    "q11_conditional_agg" -> (q11ConditionalAgg _),
    "q12_stats" -> (q12Stats _),
    "q46_promo_revenue" -> (q46PromoRevenue _),
    "q47_order_count_histogram" -> (q47OrderCountHistogram _)
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" -> q01Oracle,
    "q02_forecast_revenue" -> q02Oracle,
    "q03_shipping_priority" -> q03Oracle,
    "q04_order_priority" -> q04Oracle,
    "q05_local_supplier" -> q05Oracle,
    "q06_customers_without_orders" -> q06Oracle,
    "q07_brand_revenue" -> q07Oracle,
    "q08_distinct_customers" -> q08Oracle,
    "q09_top_customers" -> q09Oracle,
    "q10_set_ops" -> q10Oracle,
    "q11_conditional_agg" -> q11Oracle,
    "q12_stats" -> q12Oracle,
    "q46_promo_revenue" -> q46Oracle,
    "q47_order_count_histogram" -> q47Oracle
  )
}
