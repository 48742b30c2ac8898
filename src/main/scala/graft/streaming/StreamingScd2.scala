package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.StagedTable
import graft.operators.Temporal

/** Live SCD2 dimension maintenance: keeps a versioned-history table current
  * as event files LAND in a directory, folding each tick's new events in
  * with [[Temporal.scd2Apply]] — only users that changed this tick are
  * touched.
  *
  * Each tick re-derives the actual delta from table state — events with
  * `event_id` above the high-watermark the history's sidecar records — so
  * a re-run tick over the same drops is a no-op (their ids are already
  * under the watermark). The landing contract is monotone ingest ids in
  * event-time order per user (ann-build's contract); a drop that VIOLATES
  * it (an event at-or-before some user's open interval) is detected at
  * tick time and triggers a full rebuild from the accumulated log —
  * rebuild, never a corrupt append.
  *
  * History commits are stage-then-swap (ParquetWarehouse's two-rename
  * shape), with the watermark sidecar written only after the swap: a crash
  * between the two leaves an older watermark and a newer history, and the
  * next tick's delta re-application compresses to a no-op (seed state ==
  * first delta state ⇒ no new versions).
  */
object StreamingScd2 {

  /** What a tick did: `incremental` (delta folded), `rebuild` (out-of-order
    * drop ⇒ full recompute), or `noop` (nothing above the watermark).
    */
  final case class TickOutcome(mode: String, historyRows: Long, watermark: Long)

  val historySchema: StructType = StructType(
    Seq(
      StructField("user_id", LongType),
      StructField("state", StringType),
      StructField("valid_from", TimestampType),
      StructField("valid_to", TimestampType),
      StructField("version", IntegerType),
      StructField("is_current", BooleanType)
    )
  )

  def readHistory(spark: SparkSession, historyDir: String): DataFrame =
    StateStore.readTable(spark, historyDir, historySchema)

  /** One maintenance tick over the accumulated event log. The watermark
    * sidecar is `<historyDir>.state.json` ([[SliceMaintainer.Sidecar]]).
    */
  def tick(spark: SparkSession, eventsDir: String, historyDir: String): TickOutcome = {
    val all = graft.core.Tables.parquet(spark, eventsDir).select("user_id", "event_type", "ts", "event_id")
    SliceMaintainer.run(
      spark,
      all,
      SliceMaintainer.Sidecar(s"$historyDir.", "event_id", SliceMaintainer.BaseFormat),
      eventsDir,
      Nil
    )(wm => TickOutcome("noop", readHistory(spark, historyDir).count(), wm)) { d =>
      val delta = d.rows.localCheckpoint(true)
      val history = readHistory(spark, historyDir).localCheckpoint(true)
      // landing-contract check: any delta event at-or-before its user's open
      // interval start makes the incremental seed ordering invalid → rebuild
      val open = history.filter(col("is_current")).select(col("user_id"), col("valid_from"))
      val outOfOrder = delta
        .join(open, Seq("user_id"))
        .filter(col("ts") <= col("valid_from"))
        .limit(1)
        .count() > 0

      val (mode, updated) =
        if (outOfOrder) ("rebuild", Temporal.scd2Of(all))
        else ("incremental", Temporal.scd2Apply(history, delta))
      StagedTable.commit(updated.select(historySchema.fieldNames.map(col): _*), historyDir)
      TickOutcome(mode, readHistory(spark, historyDir).count(), d.hi)
    }
  }
}
