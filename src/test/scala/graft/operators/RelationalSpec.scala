package graft.operators

import graft.SparkSpec

/** Structural invariants for the relational inventory at sf0.001. Value-level
  * correctness is enforced by the DuckDB-oracle gate (tools/check_oracle.py /
  * the driver's CORRECTNESS run); these specs pin schema + cardinality
  * invariants that must hold at any scale factor.
  */
class RelationalSpec extends SparkSpec {

  test("q01 pricing summary: one row per (returnflag, linestatus), counts positive") {
    val rows = Relational.q01PricingSummary(spark, sfDir).collect()
    assert(rows.nonEmpty && rows.length <= 6)
    val keys = rows.map(r => (r.getString(0), r.getString(1)))
    assert(keys.distinct.length === keys.length)
    assert(rows.forall(_.getAs[Long]("count_order") > 0))
  }

  test("q02 forecast revenue: exactly one row, non-negative revenue") {
    val rows = Relational.q02ForecastRevenue(spark, sfDir).collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[Double]("revenue") >= 0.0)
  }

  test("q03 shipping priority: at most 10 rows, revenue sorted desc") {
    val rev = Relational.q03ShippingPriority(spark, sfDir).collect().map(_.getAs[Double]("revenue"))
    assert(rev.length <= 10)
    assert(rev.sameElements(rev.sorted(Ordering[Double].reverse)))
  }

  test("q04 order priority: counts sum to orders that have a heavy line") {
    val df = Relational.q04OrderPriority(spark, sfDir)
    assert(df.columns.toSeq === Seq("o_orderpriority", "order_count"))
    assert(df.collect().map(_.getAs[Long]("order_count")).sum > 0)
  }

  test("q06 anti-join returns customers and excludes early-order customers") {
    import org.apache.spark.sql.functions.col
    val anti = Relational.q06CustomersWithoutOrders(spark, sfDir)
    val earlyCustomers = graft.core.Tables
      .orders(spark, sfDir)
      .filter(col("o_orderdate") < org.apache.spark.sql.functions.lit("1995-07-01").cast("timestamp"))
      .select(col("o_custkey"))
      .distinct()
    assert(anti.join(earlyCustomers, anti("c_custkey") === col("o_custkey"), "inner").isEmpty)
    assert(anti.count() > 0)
  }

  test("q09 top-k is deterministic and at most 15 rows") {
    val a = Relational.q09TopCustomers(spark, sfDir).collect()
    val b = Relational.q09TopCustomers(spark, sfDir).collect()
    assert(a.length <= 15 && a.sameElements(b))
  }

  test("q10 set ops cohorts are disjoint unions of user sets") {
    val rows = Relational.q10SetOps(spark, sfDir).collect()
    val byCohort = rows.groupBy(_.getString(0))
    assert(byCohort.keySet.subsetOf(Set("click_and_purchase", "view_no_signup")))
    byCohort.values.foreach { rs =>
      val ids = rs.map(_.getLong(1))
      assert(ids.distinct.length === ids.length)
    }
  }

  test("q11 buckets cover 0..9 and counts are non-negative") {
    val rows = Relational.q11ConditionalAgg(spark, sfDir).collect()
    assert(rows.map(_.getInt(0)).toSet.subsetOf((0 to 9).toSet))
    assert(rows.forall(r => r.getAs[Long]("clicks") >= 0 && r.getAs[Long]("views") >= 0))
  }

  test("q12 stats: min <= median <= max per group") {
    val rows = Relational.q12Stats(spark, sfDir).collect()
    rows.foreach { r =>
      val (mn, md, mx) =
        (r.getAs[Double]("min_price"), r.getAs[Double]("median_price"), r.getAs[Double]("max_price"))
      assert(mn <= md && md <= mx)
    }
  }
}
