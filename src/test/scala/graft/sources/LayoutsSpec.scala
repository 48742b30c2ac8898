package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Physical-layout behavior: bucketed joins and aggregations must not
  * shuffle.
  */
class LayoutsSpec extends SparkSpec {

  test("same-key bucketed tables join with zero shuffle exchanges") {
    val base = Files.createTempDirectory("buckets")
    val orders = graft.core.Tables.orders(spark, sfDir)
    val customers = graft.core.Tables.customer(spark, sfDir)
    Layouts.writeBucketed(orders, "orders_b", "o_custkey", 8, s"$base/orders_b")
    Layouts.writeBucketed(
      customers.withColumnRenamed("c_custkey", "o_custkey"),
      "customer_b",
      "o_custkey",
      8,
      s"$base/customer_b"
    )
    // disable broadcast so the join must pick SMJ/shuffle-hash — the point
    // is that bucketing removes the Exchange, not that broadcast hides it
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("orders_b").join(spark.table("customer_b"), "o_custkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      // and it returns the same rows as the plain join
      val expected = orders
        .join(customers, orders("o_custkey") === customers("c_custkey"))
        .count()
      assert(joined.count() === expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("bucketed same-key aggregation also skips the shuffle") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val agg = spark.table("orders_b").groupBy("o_custkey").agg(sum("o_totalprice"))
      val plan = agg.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"), s"bucketed agg must not shuffle:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}
