package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Importance

/** Live source-drift monitoring: keeps the q128 Jensen–Shannon drift table
  * current as document files land, at O(delta) per tick — the ingest-time
  * form of the question q128 answers in batch (is a source's text drifting
  * away from the blend the mixture plan was tuned on?), which is exactly
  * when a curator wants the alarm: as the drop lands, not at the next full
  * scan.
  *
  * Why this maintainer is trivially exact where DupClusters/SpanDedup need
  * retroactive repair: q128's state is per-(source, bucket) hashed-unigram
  * COUNTS, and counts are ADDITIVE — the histogram of corpus ∪ delta is
  * histogram(corpus) + histogram(delta), no interaction terms. So each tick
  * only tokenizes the delta, appends its counts as a slice, and the served
  * drift table recomputed from the summed slices equals the batch q128 over
  * the full corpus BY CONSTRUCTION (same [[Importance.driftFromCounts]]
  * arithmetic over identical integer counts; spec-pinned anyway).
  *
  * The tick/watermark/crash protocol is [[SliceMaintainer]]'s — shared
  * with the source sketch so a protocol fix lands in one place. At 100 TB
  * the per-slice state stays |sources| × 64 rows — a maintainer whose
  * whole state is broadcast-sized forever.
  */
object StreamingDriftWatch {

  /** One maintenance tick; returns the number of delta docs processed
    * (0 = no-op tick).
    */
  def tick(spark: SparkSession, dataDir: String, stateDir: String): Long =
    SliceMaintainer.tick(
      spark,
      dataDir,
      stateDir,
      "hist",
      delta => Importance.sourceBucketCounts(delta.select(col("source"), col("text")))
    )

  /** The maintained drift table — q128's exact output over every document
    * the ticks have covered. Slices are summed to unique (source, bucket)
    * counts first (additivity is the whole design), then run through the
    * SAME arithmetic as the batch query.
    */
  def driftTable(spark: SparkSession, stateDir: String): DataFrame =
    Importance.driftFromCounts(
      SliceStore
        .read(spark, s"$stateDir/hist")
        .groupBy(col("source"), col("bucket"))
        .agg(sum(col("pn")).as("pn"))
        .localCheckpoint() // one fold feeds per-source and corpus histograms
    )
}
