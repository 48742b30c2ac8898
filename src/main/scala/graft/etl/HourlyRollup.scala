package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** THE reference query (SURVEY §3.1): per date and user-agent, hourly
  * impression and click counts on a dense 0-23 scaffold.
  *
  * Semantics preserved exactly (SURVEY §7.4):
  *   - The filter is on the NESTED column `device_settings.user_agent`
  *     (`data_processing.py:139-141`) — nested-schema pruning + parquet
  *     predicate pushdown make this a 1-leaf read at any scale.
  *   - Event time comes from the FILENAME's 14-digit `dk_` timestamp, not any
  *     row column (`data_processing.py:238-245`): one file ⇒ one hour bucket.
  *     `input_file_name()` is per-file-constant so the derived hour is too.
  *   - Invalid hours (unparseable / outside 0-23) are counted out, not failed
  *     (`data_processing.py:247-265`) — `try_to_timestamp` keeps this
  *     null-safe under ANSI mode.
  *   - Clicks MAY exceed impressions and are NOT clamped
  *     (`data_processing.py:351-356` leaves the correction commented out).
  *
  * Scale notes: the groupBy("hour") aggregate has ≤24 groups — partial
  * aggregation collapses each of the N input partitions to ≤24 rows before
  * one tiny shuffle; the scaffold join is a broadcast of 24 rows. The plan
  * is a single scan regardless of input size.
  */
object HourlyRollup {

  /** Typed report row (SURVEY §1.4): the schema is small, fixed and
    * test-asserted, so `Dataset[HourlyCount]` buys compile-time safety for
    * downstream consumers.
    */
  final case class HourlyCount(date: String, hour: Int, impression_count: Long, click_count: Long)

  /** Typed view of a report frame. */
  def typed(report: org.apache.spark.sql.DataFrame): org.apache.spark.sql.Dataset[HourlyCount] = {
    val spark = report.sparkSession
    import spark.implicits._
    report.as[HourlyCount]
  }

  val OutputColumns: Seq[String] = Seq("date", "hour", "impression_count", "click_count")

  private val emptyCountsSchema = StructType(
    Seq(StructField("hour", IntegerType), StructField("count", LongType))
  )

  /** Per-hour event counts for one file group: scan → nested filter →
    * filename-hour derivation → validity filter → groupBy count.
    */
  def hourlyCounts(spark: SparkSession, paths: Seq[String], userAgent: String): DataFrame =
    if (paths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], emptyCountsSchema)
    else
      graft.core.Tables
        .parquet(spark, paths: _*)
        .filter(col("device_settings.user_agent") === userAgent)
        .withColumn(
          "hour",
          hour(
            try_to_timestamp(
              regexp_extract(input_file_name(), "dk_(\\d{14})", 1),
              lit("yyyyMMddHHmmss")
            )
          )
        )
        .filter(col("hour").isNotNull && col("hour").between(0, 23))
        .groupBy(col("hour"))
        .agg(count(lit(1)).as("count"))

  /** Dense 24-row report for one date: scaffold ⟕ impressions ⟕ clicks,
    * zero-filled, ordered (reference `data_processing.py:299-362`).
    */
  def denseReport(
      spark: SparkSession,
      date: String,
      impressions: DataFrame,
      clicks: DataFrame
  ): DataFrame = {
    val hours = spark.range(0, 24).select(col("id").cast("int").as("hour"))
    broadcast(hours)
      .join(impressions.withColumnRenamed("count", "impression_count"), Seq("hour"), "left")
      .join(clicks.withColumnRenamed("count", "click_count"), Seq("hour"), "left")
      .na
      .fill(0, Seq("impression_count", "click_count"))
      .withColumn("date", lit(date))
      .select(OutputColumns.map(col): _*)
      .orderBy(col("hour"))
  }

  /** Full rollup for one date's routed files. */
  def forDate(
      spark: SparkSession,
      date: String,
      impressionFiles: Seq[String],
      clickFiles: Seq[String],
      userAgent: String
  ): DataFrame =
    denseReport(
      spark,
      date,
      hourlyCounts(spark, impressionFiles, userAgent),
      hourlyCounts(spark, clickFiles, userAgent)
    )
}
